"""Lake-layout physical design: partition pruning reaches the scan and
bucketed tables join without an exchange — the write-time optimizations
that carry the 100 TB case."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import SF_SMOKE, jobs_run

from parallel_dbms_spark.catalog import load_table
from parallel_dbms_spark.plans import formatted_plan
from parallel_dbms_spark.sources import (
    read_partitioned,
    write_bucketed_table,
    write_partitioned,
)


def test_partition_pruning(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned(orders, path, ["order_year"])

    df = read_partitioned(spark, path).filter(F.col("order_year") == 1995)
    plan = formatted_plan(df)
    # the partition filter must prune directories at the scan, not
    # filter rows afterwards
    assert "PartitionFilters" in plan and "order_year" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    years = {r.order_year for r in df.select("order_year").distinct().collect()}
    assert years == {1995}


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    write_bucketed_table(orders, "orders_b", "o_custkey", 8, str(tmp_path / "ob"), sort_by="o_custkey")
    write_bucketed_table(customer, "cust_b", "c_custkey", 8, str(tmp_path / "cb"), sort_by="c_custkey")
    try:
        # merge hint: at test scale the planner would broadcast the tiny
        # dim (disabling bucketing); at the scale bucketing exists for,
        # both sides are big and SMJ is what the planner picks anyway.
        j = (
            spark.table("orders_b")
            .hint("merge")
            .join(spark.table("cust_b"), F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "c_name")
        )
        plan = formatted_plan(j)
        # co-located join: the shuffle was paid at write time — the
        # join plan must contain NO exchange.
        assert "Exchange" not in plan, plan
        assert j.count() == orders.join(
            customer, F.col("o_custkey") == F.col("c_custkey")
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS cust_b")


def test_compact_small_files(spark, tmp_path):
    from parallel_dbms_spark.sources import compact_small_files
    import glob

    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "sprawl")
    docs.repartition(32).write.parquet(src)  # 32 tiny files
    assert len(glob.glob(src + "/part-*.parquet")) == 32
    dst = str(tmp_path / "compacted")
    n = compact_small_files(spark, src, dst, target_file_mb=128)
    files = glob.glob(dst + "/part-*.parquet")
    assert len(files) == n == 1  # ~1 MB of data -> one 128 MB-target file
    back = spark.read.parquet(dst)
    assert back.count() == docs.count()
    assert back.exceptAll(docs).count() == 0


def test_z_order_write_clusters_both_dims(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.sources.lake import z_order_write

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day"),
    )
    full_cust = orders.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("s")
    ).collect()[0].s
    full_day = orders.agg((F.max("day") - F.min("day")).alias("s")).collect()[0].s

    dst = str(tmp_path / "zordered")
    z_order_write(orders, dst, "o_custkey", "day", bits=8, num_files=8)

    spans_cust, spans_day = [], []
    files = glob.glob(f"{dst}/part-*.parquet")
    assert len(files) >= 4
    for f in files:
        part = spark.read.parquet(f)
        row = part.agg(
            (F.max("o_custkey") - F.min("o_custkey")).alias("c"),
            (F.max("day") - F.min("day")).alias("d"),
        ).collect()[0]
        spans_cust.append(row.c)
        spans_day.append(row.d)
    # Z-order shrinks the per-file min/max window on BOTH dimensions at
    # once (a single-column sort could only shrink one): that window is
    # exactly what parquet row-group pruning uses.
    assert sum(spans_cust) / len(spans_cust) < 0.7 * full_cust
    assert sum(spans_day) / len(spans_day) < 0.7 * full_day


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.plans import formatted_plan
    from parallel_dbms_spark.sources.lake import read_partitioned, write_partitioned

    orders = load_table(spark, SF_SMOKE, "orders")
    dst = str(tmp_path / "orders_orc")
    write_partitioned(orders, dst, partition_by=["o_orderstatus"], fmt="orc")

    back = read_partitioned(spark, dst, fmt="orc")
    assert back.count() == orders.count()

    q = back.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 1000.0)
    ).select("o_orderkey", "o_totalprice")
    plan = formatted_plan(q)
    # partition column prunes directories; the value predicate reaches
    # the ORC reader — same scan hygiene as the parquet path.
    assert "PartitionFilters" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1].split("\n")[0]
    got = sorted(r.o_orderkey for r in q.collect())
    want = sorted(
        r.o_orderkey
        for r in orders.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 1000.0)
        ).collect()
    )
    assert got == want


def test_overwrite_partitions_replaces_only_touched_days(spark, tmp_path):
    from parallel_dbms_spark.sources import overwrite_partitions

    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_dyn")
    write_partitioned(orders, path, ["order_year"])
    before = read_partitioned(spark, path)
    n_total = before.count()
    n_1995 = before.filter(F.col("order_year") == 1995).count()
    assert n_1995 > 0

    # Backfill 1995 with a corrected load (half the rows) — dynamic
    # overwrite must replace 1995 and leave every other year untouched.
    corrected = (
        orders.filter(F.col("order_year") == 1995)
        .filter(F.col("o_orderkey") % 2 == 0)
    )
    n_corrected = corrected.count()
    overwrite_partitions(corrected, path, ["order_year"])

    after = read_partitioned(spark, path)
    assert after.filter(F.col("order_year") == 1995).count() == n_corrected
    assert after.count() == n_total - n_1995 + n_corrected


def test_incremental_merge_is_order_invariant(spark):
    from parallel_dbms_spark.operators.incremental import (
        agg_state,
        finalize,
        merge_states,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    # Split into 3 arbitrary increments, merge in two different orders;
    # both must equal the direct full-table state.
    parts = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    states = [agg_state(p, ["o_orderstatus"], "o_totalprice") for p in parts]
    keys = ["o_orderstatus"]
    m_fwd = merge_states(merge_states(states[0], states[1], keys), states[2], keys)
    m_rev = merge_states(states[2], merge_states(states[1], states[0], keys), keys)
    full = agg_state(orders, keys, "o_totalprice")

    rows = lambda df: sorted(map(tuple, finalize(df, keys).collect()))  # noqa: E731
    assert rows(m_fwd) == rows(full)
    assert rows(m_rev) == rows(full)


def test_merge_schema_evolution_reads_old_and_new_files(spark, tmp_path):
    # Landing zones evolve: later files grow columns. mergeSchema
    # reconciles old+new footers; old rows surface NULL for the added
    # column — no rewrite of historical files.
    t = str(tmp_path / "evolving")
    spark.range(5).select("id", F.lit("a").alias("v")).write.mode("append").parquet(t)
    (
        spark.range(5, 10)
        .select("id", F.lit("b").alias("v"), (F.col("id") * 10).alias("extra"))
        .write.mode("append")
        .parquet(t)
    )
    got = spark.read.option("mergeSchema", True).parquet(t)
    assert set(got.columns) == {"id", "v", "extra"}
    rows = {r.id: (r.v, r.extra) for r in got.collect()}
    assert rows[0] == ("a", None)
    assert rows[7] == ("b", 70)


def test_versioned_table_time_travel(spark, tmp_path):
    import pytest as _pytest

    from parallel_dbms_spark.sources import txlog

    t = str(tmp_path / "vt")
    v1 = txlog.tx_append(spark.range(5).withColumn("val", F.lit("a")), t)
    v2, _ = txlog.tx_overwrite(
        spark, t, spark.range(3).withColumn("val", F.lit("b"))
    )
    assert (v1, v2) == (1, 2)
    assert txlog.log_versions(t) == [1, 2]
    # latest by default; explicit time travel to v1
    assert txlog.read_snapshot(spark, t).count() == 3
    old = txlog.read_snapshot(spark, t, version=1)
    assert old.count() == 5 and old.select("val").distinct().collect()[0][0] == "a"
    # versions are immutable: a new write never touches v1/v2
    txlog.tx_overwrite(spark, t, spark.range(1).withColumn("val", F.lit("c")))
    assert txlog.read_snapshot(spark, t, version=1).count() == 5
    assert txlog.read_snapshot(spark, t, version=2).count() == 3
    with _pytest.raises(ValueError):
        txlog.read_snapshot(spark, t, version=99)


def test_manifest_skipping_prunes_files_and_matches_full_scan(spark, tmp_path):
    from parallel_dbms_spark.sources import txlog

    t = str(tmp_path / "skip")
    # 10 files with disjoint key ranges (range-partitioned append), the
    # per-file stats riding the commit
    df = spark.range(0, 10_000).withColumn("val", F.col("id") * 2)
    txlog.tx_append(
        df.repartitionByRange(10, "id").sortWithinPartitions("id"), t,
        stats_cols=["id"],
    )
    assert len(txlog.snapshot_stats(t)) == 10

    # point-ish range: only ~1 file overlaps [4200, 4300]
    got, n_read, n_total = txlog.tx_read_skipping(spark, t, "id", lo=4200, hi=4300)
    assert n_total == 10 and n_read <= 2  # pruned, not listed-and-filtered
    expect = df.filter((F.col("id") >= 4200) & (F.col("id") <= 4300))
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in expect.collect()
    )
    # residual filter still applies inside surviving files
    assert got.count() == expect.count() == 101

    # open interval: lo only
    got2, n_read2, _ = txlog.tx_read_skipping(spark, t, "id", lo=9000)
    assert n_read2 <= 2 and got2.count() == 1000

    # disjoint range reads ZERO files and returns an empty, typed frame
    got3, n_read3, _ = txlog.tx_read_skipping(spark, t, "id", lo=50_000)
    assert n_read3 == 0 and got3.count() == 0
    assert [(f.name, f.dataType) for f in got3.schema] == [
        (f.name, f.dataType) for f in txlog.read_snapshot(spark, t).schema
    ]


def test_manifest_is_invisible_to_plain_reads(spark, tmp_path):
    import os

    from parallel_dbms_spark.sources import txlog

    t = str(tmp_path / "skip2")
    txlog.tx_append(
        spark.range(0, 100), t,
        stats_cols=["id"], bloom_cols=["id"], distinct_cols=["id"],
    )
    assert os.listdir(os.path.join(t, txlog.SIDECARS))  # sidecars exist
    # underscore dirs (log, sidecars) must not leak into a table scan,
    # neither the snapshot read nor a recursive plain directory scan
    plain = spark.read.option("recursiveFileLookup", "true").parquet(t)
    for df in (txlog.read_snapshot(spark, t), plain):
        assert df.count() == 100
        assert df.columns == ["id"]


def test_bloom_manifest_point_lookup_prunes_and_matches(spark, tmp_path):
    from parallel_dbms_spark.sources.lake import (
        read_point_lookup,
        write_bloom_manifest,
    )

    t = str(tmp_path / "bloom")
    # 12 files, keys NOT clustered (hash-spread) -> min/max stats are
    # useless here; only the bloom filter can prune equality probes.
    df = spark.range(0, 6000).withColumn("val", F.col("id") % 7)
    df.repartition(12, "val").write.parquet(t)  # id spread across files
    # the build's jobs: the schema read and the sidecar write; the
    # auto-size reads the data files' footers and the returned filter
    # count the sidecar's, so neither starts a job (4 jobs, the same
    # as with n_bits given)
    n, jobs = jobs_run(spark, lambda: write_bloom_manifest(spark, t, "id"))
    assert n == spark.read.parquet(t).select("_metadata.file_path").distinct().count()
    assert jobs == 4

    got, n_read, n_total = read_point_lookup(spark, t, "id", 4242)
    rows = got.collect()
    assert [r.id for r in rows] == [4242]
    assert rows[0].val == 4242 % 7
    # each key lives in exactly one file; bloom fp-rate keeps reads low
    assert n_read < n_total

    # absent key: typically zero files admit it; never a wrong row
    got2, n_read2, _ = read_point_lookup(spark, t, "id", 999_999)
    assert got2.count() == 0
    assert n_read2 <= max(2, n_total // 3)  # generous fp headroom


def test_bloom_point_lookup_absent_key_starts_no_job(spark, tmp_path):
    """A key every Bloom filter rejects is served as an empty local
    relation: collecting it starts no job, and it keeps the table's
    schema."""
    from parallel_dbms_spark.sources.lake import (
        read_point_lookup,
        write_bloom_manifest,
    )

    t = str(tmp_path / "bloom")
    spark.range(0, 200).withColumn("val", F.col("id") * 2).repartition(
        2
    ).write.parquet(t)
    write_bloom_manifest(spark, t, "id")
    got, n_read, n_total = read_point_lookup(spark, t, "id", 10**12)
    assert (n_read, n_total) == (0, 2)
    rows, jobs = jobs_run(spark, got.collect)
    assert rows == [] and jobs == 0
    assert got.schema == spark.read.parquet(t).schema


def test_bloom_point_lookup_finds_every_key(spark, tmp_path):
    """Every key of a small bloom-manifest table is found, including
    keys whose probe lands on bit 63 of a word — the sign bit of the
    signed-long sparse words, whose mask is not a positive long."""
    from parallel_dbms_spark.sources.lake import (
        read_point_lookup,
        write_bloom_manifest,
    )

    t = str(tmp_path / "bloom")
    spark.range(0, 12).repartition(2).write.parquet(t)
    write_bloom_manifest(spark, t, "id")
    man = spark.read.parquet(t + "/_bloom_id").head()
    bit63 = (
        spark.range(0, 12)
        .select(
            F.exists(
                F.array(*[
                    F.pmod(F.xxhash64("id", F.lit(i)), F.lit(man.n_bits))
                    for i in range(man.n_hashes)
                ]),
                lambda b: b % 64 == 63,
            ).alias("hit")
        )
        .filter("hit")
        .count()
    )
    assert bit63 > 0  # the fixture exercises the sign-bit probe
    for k in range(12):
        got, n_read, _ = read_point_lookup(spark, t, "id", k)
        assert [r.id for r in got.collect()] == [k]
        assert n_read >= 1


def test_bloom_sidecar_decoder_matches_python_reference(spark, tmp_path):
    """The decoded sidecar and its numpy membership test equal the
    word-dict test over the sidecar rows read with ``to_pylist``, for
    probes built from set bits (bit 63, the sign bit, included) and for
    random probes, most of which some word rejects."""
    import os
    import random

    import pyarrow.parquet as pq

    from parallel_dbms_spark.sources.lake import (
        bloom_admits,
        load_bloom_sidecar,
        write_bloom_manifest,
    )

    t = str(tmp_path / "bloom")
    spark.range(0, 2000).repartition(3).write.parquet(t)
    write_bloom_manifest(spark, t, "id", n_bits=4096, n_hashes=3)
    man = t + "/_bloom_id"
    (part,) = [f for f in os.listdir(man) if f.endswith(".parquet")]
    decoded = load_bloom_sidecar(os.path.join(man, part))
    rows = pq.read_table(os.path.join(man, part)).to_pylist()
    assert sorted(decoded) == sorted(r["file"] for r in rows)
    rng = random.Random(7)
    n_sign = 0
    for r in rows:
        words = {s["word"]: s["bits"] & (2**64 - 1) for s in r["sparse"]}
        set_bits = [
            w * 64 + b for w, m in words.items() for b in range(64)
            if m >> b & 1
        ]
        n_sign += sum(b % 64 == 63 for b in set_bits)

        def admits(probe):
            return all(words.get(b // 64, 0) >> (b % 64) & 1 for b in probe)

        entry = decoded[r["file"]]
        assert entry[:2] == (4096, 3)
        probes = [rng.sample(set_bits, 3) for _ in range(50)] + [
            [rng.randrange(4096) for _ in range(3)] for _ in range(200)
        ]
        probes += [[b] for b in set_bits if b % 64 == 63]
        for probe in probes:
            assert bloom_admits(entry, probe) == admits(probe), probe
    assert n_sign > 0  # the fixture sets the sign bit of some word


def test_bloom_autosize_prevents_saturation_on_big_files(spark, tmp_path):
    # The scale cliff this guards: a FIXED bitset saturates once
    # rows/file outgrows it (every bit set -> zero pruning). Auto-size
    # must pick >= 10 bits per row of the largest file.
    from parallel_dbms_spark.sources.lake import (
        read_point_lookup,
        write_bloom_manifest,
    )

    t = str(tmp_path / "bigbloom")
    spark.range(0, 40_000).withColumn("g", F.col("id") % 4).repartition(
        4, "g"
    ).write.parquet(t)
    write_bloom_manifest(spark, t, "id")
    man = spark.read.parquet(t + "/_bloom_id").head()
    assert man.n_bits >= 10 * 10_000  # ~10k rows/file -> >= 100k bits
    got, n_read, n_total = read_point_lookup(spark, t, "id", 31_337)
    assert [r.id for r in got.collect()] == [31_337]
    assert n_read < n_total  # still prunes at this density


def test_bloom_autosize_is_one_footer_rule(spark, tmp_path):
    """The manifest and the txlog sidecar size their filters with one
    rule: ~10 bits per row of the largest file (next power of two,
    floor 4096), rows read from the footers, which gives the width a
    Spark per-file count would."""
    import pyarrow.parquet as pq

    from parallel_dbms_spark.sources import txlog
    from parallel_dbms_spark.sources.lake import (
        bloom_auto_bits,
        write_bloom_manifest,
    )

    t = str(tmp_path / "sized")
    df = spark.range(0, 6000).withColumn("val", F.col("id") % 7)
    df.repartition(12, "val").write.parquet(t)
    largest = (
        spark.read.parquet(t).groupBy("_metadata.file_path").count()
        .agg(F.max("count")).head()[0]
    )
    want = 4096
    while want < 10 * largest:
        want <<= 1
    write_bloom_manifest(spark, t, "id")

    def widths(path):
        return set(pq.read_table(path).column("n_bits").to_pylist())

    assert widths(t + "/_bloom_id") == {want}

    tt = str(tmp_path / "tx")
    txlog.tx_append(df.repartition(12, "val"), tt, bloom_cols=["id"])
    _, files = txlog.snapshot_files(tt)
    (sidecar,) = set(txlog.snapshot_bloom_map(tt)["id"].values())
    assert widths(os.path.join(tt, sidecar)) == {want} == {
        bloom_auto_bits(os.path.join(tt, f) for f in files)
    }
    assert bloom_auto_bits([]) == 4096


def test_zorder_manifest_2d_prunes_tighter_than_1d_sort(spark, tmp_path):
    # The point of z-order: a 2-D box query prunes on BOTH dims. A
    # layout sorted on x alone gives tight x-ranges but full-span
    # y-ranges per file, so the same box prunes strictly fewer files.
    from parallel_dbms_spark.sources import txlog

    # independent dims (modular-arithmetic pairs like (id*a%m, id*b%m)
    # are secretly functions of each other and break the comparison)
    df = (
        spark.range(0, 20_000)
        .withColumn("x", F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)))
        .withColumn("y", F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000)))
    )
    # y-only range: the x-sorted layout is blind to it (every file
    # spans all of y), the z-curve keeps per-file y-ranges tight too
    box = {"y": (100, 199)}

    tz = str(tmp_path / "z")
    txlog.tx_append(
        df, tz, cluster_by=["x", "y"], cluster_files=16, stats_cols=["x", "y"]
    )
    got_z, nz, tot = txlog.tx_read_skipping(spark, tz, box)

    tx = str(tmp_path / "x")
    txlog.tx_append(
        df.repartitionByRange(16, "x").sortWithinPartitions("x"), tx,
        stats_cols=["x", "y"],
    )
    got_x, nx, _ = txlog.tx_read_skipping(spark, tx, box)

    expect = sorted(
        r.id for r in df.filter(F.col("y").between(100, 199)).collect()
    )
    assert sorted(r.id for r in got_z.collect()) == expect
    assert sorted(r.id for r in got_x.collect()) == expect
    assert nz < nx == tot  # x-sort prunes nothing on y; z-curve does
    # a box on both dims prunes no worse than its y side alone
    both = {"x": (0, 499), "y": (100, 199)}
    got_b, nb, _ = txlog.tx_read_skipping(spark, tz, both)
    assert nb <= nz
    assert sorted(r.id for r in got_b.collect()) == sorted(
        r.id
        for r in df.filter(
            F.col("x").between(0, 499) & F.col("y").between(100, 199)
        ).collect()
    )


def test_bucketed_table_makes_keyed_windows_exchange_free(spark, tmp_path):
    # The write-once/shuffle-never pattern extended from joins to the
    # whole per-key-window family (sessionize, as-of, SCD2): a table
    # bucketed AND sorted on the window key satisfies the window's
    # required distribution, so the plan has ZERO Exchange — the
    # shuffle the SCD2/sessionize plans pay per query is paid once at
    # write time instead.
    from pyspark.sql import Window

    from parallel_dbms_spark.sources.lake import write_bucketed_table

    df = spark.range(0, 5000).select(
        (F.col("id") % 40).alias("k"),
        F.col("id").alias("seq"),
        (F.col("id") * 3).alias("v"),
    )
    write_bucketed_table(
        df, "ev_bwin", bucket_by="k", num_buckets=8,
        path=str(tmp_path / "ev_bwin"), sort_by="k",
    )
    t = spark.table("ev_bwin")
    w = Window.partitionBy("k").orderBy("seq")
    out = t.withColumn("prev", F.lag("v").over(w))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # and the window result is still correct
    row = out.filter((F.col("k") == 1) & (F.col("seq") == 41)).head()
    assert row.prev == 3  # previous seq for k=1 is 1 -> v=3
    spark.sql("DROP TABLE IF EXISTS ev_bwin")


def test_sorted_export_total_order_across_files(spark, tmp_path):
    import os

    from pyspark.sql import Window

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.sources import txlog

    o = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = str(tmp_path / "orders")
    txlog.tx_append(o, path)
    txlog.tx_compact(spark, path, num_files=4, sort_by=["o_totalprice"])
    files = txlog.tx_sorted_file_order(path, "o_totalprice")
    assert len(files) == 4

    # every file is internally sorted (lag within file never decreases)
    back = txlog.read_snapshot(spark, path).select(
        F.col("_metadata.file_path").alias("f"), "o_totalprice"
    )
    w = Window.partitionBy("f").orderBy("o_totalprice")
    bad = back.withColumn("prev", F.lag("o_totalprice").over(w)).filter(
        F.col("prev") > F.col("o_totalprice")
    )
    assert bad.count() == 0

    # concatenating files in log order yields the global sort
    seq = []
    for f in files:
        seq.extend(
            r["o_totalprice"]
            for r in spark.read.parquet(os.path.join(path, f))
            .orderBy("o_totalprice").collect()
        )
    assert seq == sorted(seq)
    assert len(seq) == o.count()


def test_sorted_export_descending(spark, tmp_path):
    import os

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.sources import txlog

    o = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = str(tmp_path / "orders")
    txlog.tx_append(o, path)
    txlog.tx_compact(
        spark, path, num_files=3, sort_by=["o_totalprice"], ascending=False
    )
    files = txlog.tx_sorted_file_order(path, "o_totalprice", ascending=False)
    firsts = [
        spark.read.parquet(os.path.join(path, f))
        .agg({"o_totalprice": "max"}).collect()[0][0]
        for f in files
    ]
    assert len(firsts) == 3
    assert firsts == sorted(firsts, reverse=True)


def test_sorted_export_detects_interleaved_files(spark, tmp_path):
    import pytest

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.sources import txlog

    o = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = str(tmp_path / "orders")
    # hash-partitioned (NOT range) append: files interleave on the key
    txlog.tx_append(
        o.repartition(4, "o_orderkey"), path, stats_cols=["o_totalprice"]
    )
    with pytest.raises(ValueError, match="interleave"):
        txlog.tx_sorted_file_order(path, "o_totalprice")


def test_update_manifest_profiles_only_new_files(spark, tmp_path):
    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.sources import txlog

    o = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = str(tmp_path / "t")
    txlog.tx_append(
        o.filter("o_orderkey % 2 = 0").repartition(4), path,
        stats_cols=["o_orderkey"],
    )
    assert len(txlog.snapshot_stats(path)) == 4

    # every file already has stats -> no-op, no commit
    head = txlog.log_versions(path)[-1]
    assert txlog.tx_analyze(path, ["o_orderkey"]) == (head, 0)

    # append two files without stats, then profile incrementally
    _, before = txlog.snapshot_files(path)
    txlog.tx_append(o.filter("o_orderkey % 2 = 1").repartition(2), path)
    _, live = txlog.snapshot_files(path)
    fresh = sorted(set(live) - set(before))
    assert len(fresh) == 2
    v, n_new = txlog.tx_analyze(path, ["o_orderkey"])
    assert n_new == 2
    # the profiling commit touched exactly the unseen files
    assert sorted(txlog.read_commit(path, v)["stats"]) == fresh

    # incremental result == full rebuild over every live file
    inc = txlog.snapshot_stats(path)
    assert inc == txlog.collect_file_stats(path, live, ["o_orderkey"])
    assert sum(s["n"] for s in inc.values()) == o.count()


def test_update_manifest_hive_partition_column_stats(spark, tmp_path):
    # Stats on a PARTITION column: the txlog keeps partition columns
    # inside the data files, so each append profiles them from the
    # footers like any other column, and a later append's stats fold
    # into the snapshot equal to a full rebuild.
    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.sources import txlog

    o = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = str(tmp_path / "part_t")
    for parity in (0, 1):
        txlog.tx_append(
            o.filter(f"o_orderkey % 2 = {parity}"), path,
            partition_by=["o_orderpriority"],
            stats_cols=["o_orderpriority"],
        )
    stats = txlog.snapshot_stats(path)
    _, live = txlog.snapshot_files(path)
    assert stats == txlog.collect_file_stats(path, live, ["o_orderpriority"])
    # each file is value-pure on the partition column
    assert all(
        s["c"]["o_orderpriority"][0] == s["c"]["o_orderpriority"][1]
        for s in stats.values()
    )
    got, n_read, n_total = txlog.tx_read_skipping(
        spark, path, "o_orderpriority", "1-URGENT", "1-URGENT"
    )
    assert n_read < n_total
    assert got.count() == o.filter("o_orderpriority = '1-URGENT'").count()


def test_ignore_corrupt_files_salvages_intact_files(spark, tmp_path):
    # Operational resilience at 100 TB: one truncated/corrupt parquet
    # file must not take down the whole scan when the session opts in
    # (spark.sql.files.ignoreCorruptFiles) — the reference's scanner
    # silently desynchronizes columns on bad cells instead
    # (/root/reference/src/headers/table.cpp:194-201); we either fail
    # loudly (default) or skip the file explicitly, never corrupt.
    import glob as _glob

    import pytest
    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table

    path = str(tmp_path / "t")
    o = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_totalprice"
    )
    o.repartition(4).write.parquet(path)
    files = sorted(_glob.glob(path + "/part-*.parquet"))
    assert len(files) == 4
    # truncate one file mid-body: unreadable footer -> corrupt
    with open(files[0], "r+b") as fh:
        fh.truncate(200)

    with pytest.raises(Exception):
        # fails loudly (footer read or scan, depending on listing order)
        spark.read.parquet(path).agg(F.count(F.lit(1))).collect()

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        got = (
            spark.read.schema(o.schema).parquet(path)
            .select(F.col("_metadata.file_path").alias("f"))
            .groupBy("f")
            .count()
        )
        rows = {r["f"].rsplit("/", 1)[1]: r["count"] for r in got.collect()}
        # exactly the three intact files survive
        assert len(rows) == 3
        assert files[0].rsplit("/", 1)[1] not in rows
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")


def test_delete_keys_rewrites_only_affected_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from parallel_dbms_spark.sources import txlog

    t = str(tmp_path / "orders")
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    # cluster on k: victims [100..120] live in ONE file of 10
    txlog.tx_append(
        df.repartitionByRange(10, "k").sortWithinPartitions("k"), t,
        stats_cols=["k"], bloom_cols=["k"],
    )
    victims = list(range(100, 121))
    in_list = f"k IN ({', '.join(map(str, victims))})"

    _, n_rewritten = txlog.tx_delete_where(spark, t, in_list, stats_cols=["k"])
    assert n_rewritten == 1

    after = txlog.read_snapshot(spark, t)
    assert after.count() == 10_000 - len(victims)
    assert after.filter(F.col("k").isin(victims)).count() == 0

    # stats stayed consistent: one entry per live file, stats usable
    _, live = txlog.snapshot_files(t)
    assert sorted(txlog.snapshot_stats(t)) == sorted(live) and len(live) == 10
    pruned, n_read, n_tot2 = txlog.tx_read_skipping(spark, t, "k", 5000, 5010)
    assert pruned.count() == 11 and n_read < n_tot2

    # the rewritten file has no Bloom filter, so it is must-read:
    # survivor rows in it are still found, deleted ones are not
    hit, _, _ = txlog.tx_point_lookup(spark, t, "k", 121)
    assert hit.count() == 1
    miss, _, _ = txlog.tx_point_lookup(spark, t, "k", 110)
    assert miss.count() == 0

    # no-victim delete is a no-op: no file rewritten, no commit
    head = txlog.log_versions(t)[-1]
    assert txlog.tx_delete_where(spark, t, "k IN (10000000)") == (head, 0)


def test_delete_where_predicate_and_null_rows_survive(spark, tmp_path):
    """tx_delete_where: arbitrary predicate, and rows where the
    predicate evaluates NULL are survivors (3VL), never silently lost."""
    from pyspark.sql import functions as F

    from parallel_dbms_spark.sources import txlog

    t = str(tmp_path / "events")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise((F.col("id") % 100).cast("double"))
        .alias("score"),
    )
    txlog.tx_append(df.repartitionByRange(5, "k"), t)
    n_null = 100  # every 10th row has NULL score

    _, n_rewritten = txlog.tx_delete_where(spark, t, "score > 89.5")
    after = txlog.read_snapshot(spark, t)
    # victims: score in {90..99} excluding NULLed ids -> 9 per 100-block
    assert after.count() == 1000 - 90
    assert after.filter(F.col("score") > 89.5).count() == 0
    # NULL-predicate rows all survived
    assert after.filter(F.col("score").isNull()).count() == n_null
    assert 1 <= n_rewritten <= 5


def test_z_value_n_morton_codes_and_2d_equivalence(spark):
    from pyspark.sql import functions as F

    from parallel_dbms_spark.sources.lake import z_value, z_value_n

    df = spark.createDataFrame(
        [(0, 0, 0), (1, 0, 0), (0, 1, 0), (0, 0, 1), (1, 1, 1), (3, 5, 7)],
        "x long, y long, w long",
    )
    rows = df.select(
        z_value_n([F.col("x"), F.col("y"), F.col("w")], bits=4).alias("z3"),
        z_value_n([F.col("x"), F.col("y")], bits=4).alias("z2n"),
        z_value(F.col("x"), F.col("y"), bits=4).alias("z2"),
    ).collect()
    # 3-D Morton: bit i of col j -> position 3i+j
    def morton3(x, y, w):
        z = 0
        for i in range(4):
            z |= ((x >> i) & 1) << (3 * i)
            z |= ((y >> i) & 1) << (3 * i + 1)
            z |= ((w >> i) & 1) << (3 * i + 2)
        return z

    data = [(0, 0, 0), (1, 0, 0), (0, 1, 0), (0, 0, 1), (1, 1, 1), (3, 5, 7)]
    assert [r["z3"] for r in rows] == [morton3(*t) for t in data]
    # the 2-D special case is bit-identical through both entry points
    assert [r["z2n"] for r in rows] == [r["z2"] for r in rows]
    import pytest as _pt

    with _pt.raises(ValueError, match="> 63"):
        z_value_n([F.col("x")] * 5, bits=16)


def test_z_order_n_prunes_on_every_clustered_dimension(spark, tmp_path):
    from pyspark.sql import functions as F

    from parallel_dbms_spark.sources import txlog

    t = str(tmp_path / "z3")
    n = 40_000
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % n).alias("a"),
        (F.col("id") * 40503 % n).alias("b"),
        (F.col("id") * 69069 % n).alias("c"),
    )
    dims = ["a", "b", "c"]
    txlog.tx_append(df, t, cluster_by=dims, cluster_files=16, stats_cols=dims)
    rng = (n // 2, n // 2 + n // 40)
    for col in dims:
        pruned, n_read, n_total = txlog.tx_read_skipping(spark, t, {col: rng})
        assert n_total == 16
        assert n_read < n_total, f"no pruning on {col}: {n_read}/{n_total}"
        want = df.filter(F.col(col).between(*rng)).count()
        assert pruned.count() == want
    # the 3-D box intersects the per-dimension prunes
    box = {"a": (0, n // 2), "b": (0, n // 2), "c": (0, n // 2)}
    pruned, n_read, _ = txlog.tx_read_skipping(spark, t, box)
    assert n_read < 16
    assert pruned.count() == df.filter(
        F.col("a").between(0, n // 2)
        & F.col("b").between(0, n // 2)
        & F.col("c").between(0, n // 2)
    ).count()


def test_delete_where_preserves_partition_directories(spark, tmp_path):
    """Survivors of a delete rewrite in a partitioned table stay
    value-pure on their partition, so partition pruning keeps working
    after the rewrite."""
    from pyspark.sql import functions as F

    from parallel_dbms_spark.sources import txlog

    t = str(tmp_path / "events_parted")
    df = spark.range(600).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("day"),
        (F.col("id") % 100).cast("double").alias("score"),
    )
    txlog.tx_append(df, t, partition_by=["day"])

    txlog.tx_delete_where(spark, t, "score >= 90.0")
    after = txlog.read_snapshot(spark, t)
    assert after.count() == 540  # 10 per 100-block x 6 blocks deleted
    assert set(after.columns) == {"k", "day", "score"}
    # every surviving row still knows its partition value
    per_day = {r["day"]: r["n"] for r in
               after.groupBy("day").agg(F.count("*").alias("n")).collect()}
    assert per_day == {0: 180, 1: 180, 2: 180}
    assert after.filter(F.col("score") >= 90.0).count() == 0
    # partition pruning still works post-rewrite
    _, live = txlog.snapshot_files(t)
    assert sorted(txlog.snapshot_pv(t)) == sorted(live)
    day1 = txlog.read_snapshot(spark, t, partition_filter={"day": 1})
    assert day1.count() == 180


def test_delete_where_partition_value_with_space(spark, tmp_path):
    """_metadata.file_path URI-encodes special chars (space -> %20);
    the delete's hit-file lookup must decode back to the real names
    or a delete under a table path with a space, partitioned on a
    value with a space, rewrites nothing or the wrong files."""
    from pyspark.sql import functions as F

    from parallel_dbms_spark.sources import txlog

    t = str(tmp_path / "orders parted")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "NOT SPECIFIED")
        .otherwise("1-URGENT")
        .alias("prio"),
    )
    txlog.tx_append(df, t, partition_by=["prio"])

    _, n_rewritten = txlog.tx_delete_where(spark, t, "k < 100")
    assert n_rewritten >= 1
    after = txlog.read_snapshot(spark, t)
    assert after.count() == 200
    assert after.filter(F.col("k") < 100).count() == 0
    # survivors kept their space-containing partition value
    per = {r["prio"]: r["n"] for r in
           after.groupBy("prio").agg(F.count("*").alias("n")).collect()}
    assert per == {"NOT SPECIFIED": 100, "1-URGENT": 100}
    spaced = txlog.read_snapshot(
        spark, t, partition_filter={"prio": "NOT SPECIFIED"}
    )
    assert spaced.count() == 100


def test_distinct_sidecar_incremental_equals_rebuild(spark, tmp_path):
    """Per-file bitmap sidecars riding appends give the same exact
    distinct count as a backfill over every live file — including
    under a table path and partition value containing a space."""
    from pyspark.sql import functions as F

    from parallel_dbms_spark.sources import txlog

    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 137).alias("uid"),
        F.when(F.col("id") % 2 == 0, "NOT SPECIFIED")
        .otherwise("1-URGENT").alias("prio"),
    )
    t = str(tmp_path / "t spaced")
    txlog.tx_append(
        df.filter("k < 600"), t, partition_by=["prio"], distinct_cols=["uid"]
    )
    got, n_scanned, _ = txlog.tx_instant_distinct(spark, t, "uid")
    assert got.first()["n_distinct"] == 137 and n_scanned == 0

    # append new files (new uids too), each commit brings its bitmaps
    df2 = spark.range(1000, 1400).select(
        F.col("id").alias("k"),
        (F.col("id") % 211).alias("uid"),
        F.lit("NOT SPECIFIED").alias("prio"),
    )
    txlog.tx_append(df2, t, distinct_cols=["uid"])
    want = txlog.read_snapshot(spark, t).select("uid").distinct().count()
    got, n_scanned, n_total = txlog.tx_instant_distinct(spark, t, "uid")
    # the answer path reads ONLY the sidecars (zero table data files)
    assert got.first()["n_distinct"] == want and n_scanned == 0
    assert n_total == len(txlog.snapshot_files(t)[1])

    # a rebuild over every live file gives the same answer
    txlog.tx_distinct(spark, t, ["uid"])
    assert txlog.tx_instant_distinct(spark, t, "uid")[0].first()[
        "n_distinct"
    ] == want
