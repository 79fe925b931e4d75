"""Physical-plan health checks — the 100 TB guarantees the reference
implements by hand (scan-fused filters /root/reference/src/main.cpp:64-200,
projection maps :378-403, shared-memory build side join.cu:197-245) and
Catalyst must show in the plan: PushedFilters at the parquet scan,
pruned ReadSchema, broadcast joins for small dims, no cartesian
products, TakeOrderedAndProject for top-N."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMOKE

from parallel_dbms_spark.catalog import load_table
from parallel_dbms_spark.operators import filter_rows, join_tables, limit, order_by, project
from parallel_dbms_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_pruned,
    formatted_plan,
)


def test_filter_pushes_to_parquet_scan(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    df = project(filter_rows(li, ("l_quantity", "<", 5.0)), "l_orderkey", "l_quantity")
    assert_pushed_filters(df, "l_quantity")


def test_projection_prunes_read_schema(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    df = project(li, "l_orderkey", "l_quantity")
    assert_read_schema_pruned(df, 2)  # 2 of lineitem's 11 columns read


def test_small_dim_join_broadcasts(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    df = join_tables(o, c, [("o_custkey", "=", "c_custkey")], broadcast_right=True)
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_equi_join_is_not_nested_loop(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    df = join_tables(o, c, [("o_custkey", "=", "c_custkey")])
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # equi conjunct extracted -> hash-based join, not BNLJ
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_theta_remainder_becomes_join_condition_not_cartesian(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    p = load_table(spark, SF_SMOKE, "part")
    df = join_tables(
        li, p, [("l_partkey", "=", "p_partkey"), ("l_extendedprice", ">", "p_retailprice")]
    )
    assert_no_cartesian(df)


def test_topn_collapses_to_take_ordered(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    df = limit(order_by(project(o, "o_orderkey", "o_totalprice"), ("o_totalprice", False)), 10)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_no_python_row_udf_in_relational_plans(spark):
    # The whole relational surface must stay JVM-side (whole-stage
    # codegen); BatchEvalPython in a plan would mean a row-at-a-time
    # Python UDF sneaked into the hot path.
    li = load_table(spark, SF_SMOKE, "lineitem")
    df = project(
        filter_rows(li, ("l_quantity", "<", 5.0)),
        "l_orderkey",
        "l_extendedprice * (1 - l_discount) AS revenue",
    )
    assert "BatchEvalPython" not in formatted_plan(df)


def test_aggregate_uses_hash_aggregate_with_partial(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    plan = formatted_plan(df)
    assert "HashAggregate" in plan
    # partial + final split (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    # With a selective dim feeding a shuffle join, the optimizer builds
    # a bloom filter from the dim keys and applies it on the fact side
    # BEFORE the shuffle (might_contain in the fact's filter). Size
    # thresholds keep it off for tiny local data, so lower them here;
    # session.py enables the feature itself.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        assert "might_contain" in formatted_plan(j)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_observed_metrics_ride_along_with_the_action(spark):
    from parallel_dbms_spark.operators.validate import observed

    o = load_table(spark, SF_SMOKE, "orders")
    df, obs = observed(
        o, not_null=["o_custkey"], ranges={"o_totalprice": (0.0, 1e7)}
    )
    n = df.count()  # the observation accumulates inside this job
    got = obs.get
    assert got["n_rows"] == n
    assert got["null_o_custkey"] == 0
    assert got["oor_o_totalprice"] == 0


def test_timestamp_filter_pushes_to_parquet_scan(spark):
    # Time-range pruning is the 100 TB workhorse: the fixture's
    # timestamp[us] columns must scan as session-zone TIMESTAMP (conf
    # in session.py), not TIMESTAMP_NTZ + cast — a cast above the scan
    # would strand the predicate and force full reads.
    ev = load_table(spark, SF_SMOKE, "events")
    df = ev.filter(F.col("ts") > "1996-06-01").select("event_id", "ts")
    assert_pushed_filters(df, "ts")


def test_pure_theta_join_is_broadcast_nlj_not_cartesian(spark):
    # No equi conjunct at all (the reference BNLJ kernel's workload,
    # /root/reference/src/Join/join.cu:161-336): the only scale-sane
    # plan is broadcasting the small side -> BroadcastNestedLoopJoin.
    n = load_table(spark, SF_SMOKE, "nation")
    r = load_table(spark, SF_SMOKE, "region")
    df = join_tables(
        n, r, [("n_nationkey", ">", "r_regionkey")], broadcast_right=True
    )
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_pairs_plans_as_hash_join_not_bnlj(spark):
    # The length-band blocking is an EQUI key (exploded buckets), so
    # the self-join must be hash-based — a BNLJ/cartesian here would be
    # all-pairs at corpus scale.
    from parallel_dbms_spark.functions.dedup import fuzzy_pairs

    c = load_table(spark, SF_SMOKE, "customer")
    df = fuzzy_pairs(c, "c_custkey", "c_name", max_dist=1)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_bm25_topk_is_take_ordered_not_global_window(spark):
    # Top-k must collapse to TakeOrderedAndProject; an unpartitioned
    # row_number window would single-partition every scoring doc.
    from parallel_dbms_spark.functions.text import bm25_topk

    docs = load_table(spark, SF_SMOKE, "documents")
    df = bm25_topk(docs, terms=("spark", "join", "filter"), k=20)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_distributed_rank_has_no_unpartitioned_window(spark):
    # global_row_number/ntile_distributed replace the global-window
    # pattern: every WindowExec in their plans must carry a partition
    # spec (the P-row offset window is partitioned by a constant).
    from parallel_dbms_spark.operators import ntile_distributed

    o = load_table(spark, SF_SMOKE, "orders")
    df = ntile_distributed(
        o.select("o_totalprice", "o_orderkey"),
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        n_buckets=10,
    )
    from parallel_dbms_spark.plans import assert_no_unpartitioned_window

    assert_no_unpartitioned_window(df)


def test_plan_doctor_audit_flags_known_shapes(spark):
    import sys as _sys

    _sys.path.insert(0, "scripts")
    from plan_doctor import audit

    n = load_table(spark, SF_SMOKE, "nation")
    r = load_table(spark, SF_SMOKE, "region")
    # cartesian: crossJoin of two plain tables with AQE off broadcast?
    bad = n.crossJoin(r)
    info, red = audit(formatted_plan(bad), ())
    # crossJoin of two small tables may broadcast; force the window case
    from pyspark.sql import Window

    w = Window.orderBy("n_nationkey")
    bad_win = n.withColumn("rn", F.row_number().over(w))
    _, red_win = audit(formatted_plan(bad_win), ())
    assert any("unpartitioned window" in x for x in red_win)
    good = join_tables(n, r, [("n_regionkey", "=", "r_regionkey")])
    info_g, red_g = audit(formatted_plan(good), ())
    assert not red_g
    assert any(x.startswith("exchanges=") for x in info_g)


def test_unpartitioned_window_detector_handles_expression_keys(spark):
    from pyspark.sql import Window

    from parallel_dbms_spark.plans import unpartitioned_windows

    n = load_table(spark, SF_SMOKE, "nation")
    # order key is an expression CONTAINING a comma — the case a naive
    # first-comma split misparses
    w = Window.orderBy(F.coalesce(F.col("n_name"), F.lit("zz")))
    bad = n.withColumn("rn", F.row_number().over(w))
    assert unpartitioned_windows(formatted_plan(bad))
    w_ok = Window.partitionBy("n_regionkey").orderBy(
        F.coalesce(F.col("n_name"), F.lit("zz"))
    )
    good = n.withColumn("rn", F.row_number().over(w_ok))
    assert not unpartitioned_windows(formatted_plan(good))


def test_execution_metrics_prove_mapside_combine_and_file_pruning(spark, tmp_path):
    # EXPLAIN says what SHOULD happen; executed-plan metrics say what
    # DID: (a) a grouped agg's shuffle carries partial rows, not the
    # corpus; (b) a manifest-pruned read opens fewer files.
    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.plans.explain import execution_metrics
    from parallel_dbms_spark.sources import txlog

    li = load_table(spark, SF_SMOKE, "lineitem")
    m = execution_metrics(li.groupBy("l_returnflag").count())
    assert m["scan_output_rows"] == li.count()
    # 6k scanned rows reduce to a few hundred shuffle bytes: the
    # partial/final split did its job before the exchange
    assert 0 < m["shuffle_bytes_written"] < 10_000

    t = str(tmp_path / "skip")
    txlog.tx_append(
        spark.range(0, 10_000).repartitionByRange(10, "id"), t, stats_cols=["id"]
    )
    pruned, n_read, n_total = txlog.tx_read_skipping(spark, t, "id", lo=500, hi=700)
    mp = execution_metrics(pruned)
    assert mp["scan_files_read"] == n_read < n_total  # pruning REALLY read less


def test_join_hints_switch_physical_strategy(spark):
    # The reference hardwires ONE join algorithm (BNLJ; hash-join plan
    # nodes demoted, /root/reference/src/main.cpp:654-665). Here the
    # optimizer picks, and per-join hints override — the surface a
    # 100 TB tuner actually uses when AQE's choice is wrong.
    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.plans import formatted_plan

    o = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    cond = o["o_orderkey"] == li["l_orderkey"]

    merge = o.hint("merge").join(li, cond)
    assert "SortMergeJoin" in formatted_plan(merge)

    shash = o.hint("shuffle_hash").join(li, cond)
    assert "ShuffledHashJoin" in formatted_plan(shash)

    bcast = o.hint("broadcast").join(li, cond)
    assert "BroadcastHashJoin" in formatted_plan(bcast)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    # DPP: joining a directory-partitioned fact on its partition column
    # against a filtered dim plants a runtime IN-subquery into the
    # fact's PartitionFilters — at 100 TB the fact scan opens only the
    # partitions the dim actually selects, decided at runtime.
    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.plans import formatted_plan

    fact_path = str(tmp_path / "fact")
    (
        load_table(spark, SF_SMOKE, "orders")
        .withColumn("mon", F.month("o_orderdate"))
        .write.partitionBy("mon")
        .parquet(fact_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = (
        spark.range(1, 13)
        .select(F.col("id").cast("int").alias("mon"))
        .filter(F.col("mon").isin(3, 4))
    )
    j = fact.join(dim, "mon").groupBy("mon").count()
    plan = formatted_plan(j)
    assert "dynamicpruningexpression" in plan or "dynamicpruning#" in plan, (
        f"no dynamic partition pruning in plan:\n{plan}"
    )


def test_aqe_splits_skewed_join_partition_at_runtime(spark):
    # AQE skew-join: 95% of the left rows share one key; with the skew
    # thresholds scaled down to test size, the executed plan must show
    # the skewed partition SPLIT at runtime — SortMergeJoin(skew=true)
    # over an "AQEShuffleRead coalesced and skewed". This is the
    # runtime answer to the skew the salted-join operator handles
    # statically (operators/relational.py join_skew_salted): AQE fixes
    # it from real sizes, salting fixes it by construction.
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(0, 2_000_000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x"), F.col("id")).alias("v"),
        )
        right = spark.range(0, 200_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").select(F.sum(F.length("v")).alias("s"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"no runtime skew split:\n{plan[:2000]}"
        assert "skewed" in plan, "no AQEShuffleRead skew handling"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sharded_asof_partitions_window_on_key_and_shard(spark):
    # The whole point of the salted plan: the union-window must
    # partition on (key, __shard), never on the bare key — and stay
    # cartesian-free (the carry spine joins are equi/broadcast).
    from parallel_dbms_spark.queries.registry import REGISTRY

    df = REGISTRY["asof_join_sharded_backward"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__shard" in plan
    import re

    main_exchanges = re.findall(r"hashpartitioning\(user_id#\d+L?, __shard", plan)
    assert main_exchanges, "union-window lost its (key, shard) exchange"
    assert "CartesianProduct" not in plan
