"""Reference-parity relational query surface.

One registered query per operator of the reference's inventory
(SURVEY §2.1 O1-O18: scan/pushdown/filter/projection/aggregate/join/
sort/sink surface of /root/reference/src/main.cpp:636-674) plus the
§2.3 gap categories (GROUP BY, windows, set ops, outer/semi/anti joins,
grouping sets, subqueries, scalar functions) that the Spark engine gets
natively. Every query has a DuckDB oracle.

Float-determinism convention (so oracle value-hashes match bit-for-bit):
the testdata's numeric columns are 2-decimal currency values stored as
doubles, so both engines cast the RAW column to DECIMAL(18,2) (both
round to the same exact decimal), do all arithmetic/aggregation in
exact decimal, and cast the final result to DOUBLE. Plain double sums
would differ in the low bits between engines (different accumulation
order); exact decimal sums cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table, run_sql
from ..operators import (
    aggregate,
    asof_join,
    asof_join_sharded,
    filter_rows,
    join_tables,
    limit,
    order_by,
    project,
    set_op,
    top_k_per_group,
)
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _money(col: str):
    """Exact-decimal view of a 2-decimal currency double (see module doc)."""
    return F.col(col).cast("decimal(18,2)")


# --------------------------------------------------------------------------
# O1/O5: scan + projection (column pruning reaches the parquet ReadSchema)
# --------------------------------------------------------------------------
@register(
    "scan_project",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem",
    tags=("scan", "projection"),
)
def scan_project(spark, sf_dir):
    return project(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate",
    )


# --------------------------------------------------------------------------
# O2/O3/O4: conjunctive filter, pushed into the scan by Catalyst
# --------------------------------------------------------------------------
@register(
    "filter_pushdown_conj",
    oracle="""SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
              WHERE l_quantity < 5 AND l_discount > 0.05""",
    tags=("filter", "pushdown"),
)
def filter_pushdown_conj(spark, sf_dir):
    li = filter_rows(
        _t(spark, sf_dir, "lineitem"),
        ("l_quantity", "<", 5.0),
        ("l_discount", ">", 0.05),
    )
    return project(li, "l_orderkey", "l_linenumber", "l_quantity", "l_discount")


# OR filters — the case the reference's scan throws on
# (/root/reference/src/main.cpp:152-163) and its FILTER node drops.
@register(
    "filter_disjunction",
    oracle="""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
              WHERE l_returnflag = 'R' OR l_quantity > 45""",
    tags=("filter",),
)
def filter_disjunction(spark, sf_dir):
    li = filter_rows(
        _t(spark, sf_dir, "lineitem"),
        ("l_returnflag", "=", "R"),
        ("l_quantity", ">", 45.0),
        disjunction=True,
    )
    return project(li, "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")


# Timestamp-typed filter (the reference's DATE filter path,
# /root/reference/src/headers/table.cpp:50-81).
@register(
    "filter_date_range",
    oracle="""SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'""",
    tags=("filter", "timestamp"),
)
def filter_date_range(spark, sf_dir):
    li = filter_rows(
        _t(spark, sf_dir, "lineitem"),
        ("l_shipdate", ">=", "1995-01-01 00:00:00"),
        ("l_shipdate", "<", "1996-01-01 00:00:00"),
    )
    return project(li, "l_orderkey", "l_linenumber", "l_shipdate")


# --------------------------------------------------------------------------
# O5+: computed SELECT expressions (reference plans them but never
# evaluates them, /root/reference/src/main.cpp:378-403)
# --------------------------------------------------------------------------
@register(
    "project_expressions",
    oracle="""SELECT l_orderkey, l_linenumber,
                     l_extendedprice * (1 - l_discount) AS revenue,
                     CASE WHEN l_quantity > 25 THEN 'bulk' ELSE 'small' END AS qty_class
              FROM lineitem""",
    tags=("projection", "expressions"),
)
def project_expressions(spark, sf_dir):
    return project(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice * (1 - l_discount) AS revenue",
        "CASE WHEN l_quantity > 25 THEN 'bulk' ELSE 'small' END AS qty_class",
    )


# --------------------------------------------------------------------------
# O6/O8: ungrouped COUNT/SUM/AVG/MIN/MAX — the reference's GPU
# reduction surface (/root/reference/src/cuda/aggregate.cu:88-242)
# --------------------------------------------------------------------------
@register(
    "agg_ungrouped_all5",
    oracle="""SELECT COUNT(*) AS n_rows,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(l_extendedprice) AS avg_price,
                     MIN(l_shipdate) AS min_ship,
                     MAX(l_shipdate) AS max_ship
              FROM lineitem""",
    tags=("aggregate",),
)
def agg_ungrouped_all5(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_money("l_quantity")).cast("double").alias("sum_qty"),
        (F.sum(_money("l_extendedprice")).cast("double") / F.count("l_extendedprice")).alias("avg_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


# Same surface through the operator-library aggregate() helper.
# l_quantity is integer-valued, so plain double SUM/AVG are exact in
# both engines — no decimal detour needed.
@register(
    "agg_operator_stats",
    oracle="""SELECT COUNT(*) AS n_rows, MIN(l_quantity) AS min_qty,
                     MAX(l_quantity) AS max_qty, SUM(l_quantity) AS sum_qty,
                     AVG(l_quantity) AS avg_qty
              FROM lineitem""",
    tags=("aggregate",),
)
def agg_operator_stats(spark, sf_dir):
    return aggregate(
        _t(spark, sf_dir, "lineitem"),
        [
            ("count", "*", "n_rows"),
            ("min", "l_quantity", "min_qty"),
            ("max", "l_quantity", "max_qty"),
            ("sum", "l_quantity", "sum_qty"),
            ("avg", "l_quantity", "avg_qty"),
        ],
    )


# GROUP BY — the reference's biggest gap (no HASH_GROUP_BY dispatch,
# /root/reference/src/main.cpp:636-674). TPC-H Q1 shape.
@register(
    "agg_grouped_q1",
    oracle="""SELECT l_returnflag, l_linestatus,
                     SUM(l_quantity) AS sum_qty,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                     AVG(l_quantity) AS avg_qty,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(l_extendedprice) AS avg_price,
                     COUNT(*) AS count_order
              FROM lineitem
              GROUP BY l_returnflag, l_linestatus""",
    tags=("aggregate", "groupby"),
)
def agg_grouped_q1(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(_money("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_money("l_extendedprice") * (F.lit(1) - _money("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            (F.sum(_money("l_extendedprice")).cast("double") / F.count("l_extendedprice")).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# O9-O12: joins. The reference demotes every join to one inner BNLJ
# kernel (/root/reference/src/main.cpp:654-665); here Catalyst picks
# broadcast-hash / sort-merge and all join types exist.
# --------------------------------------------------------------------------
@register(
    "join_broadcast_equi",
    oracle="""SELECT c_mktsegment, COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment""",
    tags=("join", "broadcast", "groupby"),
)
def join_broadcast_equi(spark, sf_dir):
    j = join_tables(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        [("o_custkey", "=", "c_custkey")],
        broadcast_right=True,
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_money("o_totalprice")).cast("double").alias("sum_total"),
    )


# Conjunctive equi+theta condition — correct AND fold (the reference's
# CPU join overwrites instead of AND-ing, /root/reference/src/operators/join.cpp:166-175).
@register(
    "join_theta_conj",
    oracle="""SELECT p_brand, COUNT(*) AS n_li
              FROM lineitem JOIN part
                ON l_partkey = p_partkey AND l_extendedprice > p_retailprice
              GROUP BY p_brand""",
    tags=("join", "theta"),
)
def join_theta_conj(spark, sf_dir):
    j = join_tables(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        [("l_partkey", "=", "p_partkey"), ("l_extendedprice", ">", "p_retailprice")],
    )
    return j.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_li"))


# PURE theta join — no equality conjunct at all, the exact workload of
# the reference's block-nested-loop CUDA kernel
# (/root/reference/src/Join/join.cu:161-336; condition structs
# /root/reference/src/operators/join.h:9-14). With no equi-key Catalyst
# cannot hash-partition, so the only scale-sane plan is broadcasting
# the SMALL side into a BroadcastNestedLoopJoin — the distributed
# analogue of the kernel's shared-memory inner table. Plan-asserted in
# tests/test_plans.py (broadcast NLJ, never CartesianProduct).
@register(
    "join_theta_only",
    oracle="""SELECT n_name, r_name
              FROM nation JOIN region ON n_nationkey > r_regionkey""",
    tags=("join", "theta", "bnlj"),
)
def join_theta_only(spark, sf_dir):
    j = join_tables(
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        [("n_nationkey", ">", "r_regionkey")],
        broadcast_right=True,
    )
    return project(j, "n_name", "r_name")


@register(
    "join_left_outer",
    oracle="""SELECT c_custkey, COUNT(o_orderkey) AS n_orders
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey""",
    tags=("join", "outer"),
)
def join_left_outer(spark, sf_dir):
    j = join_tables(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        [("c_custkey", "=", "o_custkey")],
        how="left",
    )
    return j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("n_orders"))


@register(
    "join_semi",
    oracle="""SELECT c_custkey, c_name FROM customer
              WHERE EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey AND o_totalprice > 400000)""",
    tags=("join", "semi"),
)
def join_semi(spark, sf_dir):
    big = filter_rows(_t(spark, sf_dir, "orders"), ("o_totalprice", ">", 400000.0))
    j = join_tables(
        _t(spark, sf_dir, "customer"), big, [("c_custkey", "=", "o_custkey")],
        how="left_semi",
    )
    return project(j, "c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""SELECT c_custkey, c_name FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    tags=("join", "anti"),
)
def join_anti(spark, sf_dir):
    j = join_tables(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        [("c_custkey", "=", "o_custkey")],
        how="left_anti",
    )
    return project(j, "c_custkey", "c_name")


# --------------------------------------------------------------------------
# O13/O15: ORDER BY — multi-key, any size, strings included (the
# reference sorts ONE column of ONE batch, /root/reference/src/main.cpp:405-544)
# --------------------------------------------------------------------------
@register(
    "order_by_multikey",
    oracle="""SELECT l_shipdate, l_orderkey, l_linenumber, l_quantity FROM lineitem
              ORDER BY l_shipdate DESC, l_orderkey ASC, l_linenumber ASC
              LIMIT 100""",
    tags=("sort", "limit"),
)
def order_by_multikey(spark, sf_dir):
    li = project(
        _t(spark, sf_dir, "lineitem"),
        "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity",
    )
    return limit(
        order_by(li, ("l_shipdate", False), ("l_orderkey", True), ("l_linenumber", True)),
        100,
    )


# Sort on a STRING key — the reference's CPU fallback path
# (/root/reference/src/operators/cpu_sort.cpp:3-78); no special path here.
@register(
    "order_by_string",
    oracle="""SELECT c_name, c_acctbal FROM customer
              ORDER BY c_name ASC LIMIT 50""",
    tags=("sort", "string"),
)
def order_by_string(spark, sf_dir):
    c = project(_t(spark, sf_dir, "customer"), "c_name", "c_acctbal")
    return limit(order_by(c, ("c_name", True)), 50)


# TOP-N: orderBy+limit collapses to TakeOrderedAndProject (distributed
# top-N, no global sort) — LIMIT is planned-but-absent in the reference.
@register(
    "top_n",
    oracle="""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50""",
    tags=("sort", "limit"),
)
def top_n(spark, sf_dir):
    o = project(_t(spark, sf_dir, "orders"), "o_orderkey", "o_custkey", "o_totalprice")
    return limit(order_by(o, ("o_totalprice", False), ("o_orderkey", True)), 50)


# --------------------------------------------------------------------------
# §2.3 gap categories
# --------------------------------------------------------------------------
@register(
    "distinct_values",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("distinct",),
)
def distinct_values(spark, sf_dir):
    return project(_t(spark, sf_dir, "lineitem"), "l_returnflag", "l_linestatus").distinct()


@register(
    "set_union",
    oracle="""SELECT c_nationkey AS nationkey FROM customer
              UNION SELECT s_nationkey AS nationkey FROM supplier""",
    tags=("setop",),
)
def set_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return set_op(c, s, "union")


@register(
    "set_intersect",
    oracle="""SELECT c_nationkey AS nationkey FROM customer
              INTERSECT SELECT s_nationkey AS nationkey FROM supplier""",
    tags=("setop",),
)
def set_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return set_op(c, s, "intersect")


@register(
    "set_except",
    oracle="""SELECT c_nationkey AS nationkey FROM customer
              EXCEPT ALL SELECT s_nationkey AS nationkey FROM supplier""",
    tags=("setop",),
)
def set_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return set_op(c, s, "except")


@register(
    "window_topk_per_group",
    oracle="""SELECT o_custkey, o_orderkey, o_totalprice FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders) WHERE rn <= 3""",
    tags=("window", "topk"),
)
def window_topk_per_group(spark, sf_dir):
    o = project(_t(spark, sf_dir, "orders"), "o_custkey", "o_orderkey", "o_totalprice")
    return top_k_per_group(o, ["o_custkey"], [("o_totalprice", False), ("o_orderkey", True)], 3)


@register(
    "window_running_sum",
    oracle="""SELECT o_custkey, o_orderkey,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS DOUBLE) AS running_total
              FROM orders""",
    tags=("window",),
)
def window_running_sum(spark, sf_dir):
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(_money("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


@register(
    "window_rank_lag",
    oracle="""SELECT o_custkey, o_orderkey,
                     CAST(rank() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rk,
                     lag(o_orderkey) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey) AS prev_order
              FROM orders""",
    tags=("window",),
)
def window_rank_lag(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rk"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
    )


@register(
    "grouping_rollup",
    oracle="""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
              FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
    tags=("rollup",),
)
def grouping_rollup(spark, sf_dir):
    # count via grouping_agg operator; the decimal sum is appended the
    # same way (operator aggs and column aggs compose).
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_money("o_totalprice")).cast("double").alias("sum_total"),
        )
    )


@register(
    "grouping_cube",
    oracle="""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
              FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""",
    tags=("cube",),
)
def grouping_cube(spark, sf_dir):
    from ..operators import grouping_agg

    return grouping_agg(
        _t(spark, sf_dir, "orders"),
        ["o_orderpriority", "o_orderstatus"],
        [("count", "*", "n")],
        mode="cube",
    )


_GROUPING_SETS_SQL = """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))"""


@register("grouping_sets", oracle=_GROUPING_SETS_SQL, tags=("grouping_sets", "sql"))
def grouping_sets(spark, sf_dir):
    return run_sql(spark, sf_dir, _GROUPING_SETS_SQL)


# --------------------------------------------------------------------------
# O17/O18: the SQL frontend end-to-end (spark.sql ≡ the reference's
# DuckDB parse/plan + custom traversal). Identical SQL text runs on
# both engines.
# --------------------------------------------------------------------------
_CORRELATED_SQL = """SELECT c_custkey, c_name,
       (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders WHERE o_custkey = c_custkey) AS total_spent
FROM customer"""


@register("sql_correlated_subquery", oracle=_CORRELATED_SQL, tags=("sql", "subquery"))
def sql_correlated_subquery(spark, sf_dir):
    # SampleTest query3's shape (/root/reference/src/SampleTest.zip):
    # correlated scalar subquery, decorrelated by the optimizer.
    return run_sql(spark, sf_dir, _CORRELATED_SQL)


_COMMA_JOIN_SQL = """SELECT o.o_orderkey, c.c_name, o.o_totalprice
FROM orders o, customer c
WHERE o.o_custkey = c.c_custkey AND c.c_acctbal > 5000"""


@register("sql_comma_join", oracle=_COMMA_JOIN_SQL, tags=("sql", "join"))
def sql_comma_join(spark, sf_dir):
    # The reference's README documents joins via comma syntax + WHERE
    # (/root/reference/README.md:65-81).
    return run_sql(spark, sf_dir, _COMMA_JOIN_SQL)


# --------------------------------------------------------------------------
# As-of join (extension; DuckDB has native ASOF JOIN as the oracle)
# --------------------------------------------------------------------------
@register(
    "asof_join_events",
    oracle="""SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
                     c.value AS last_click_value
              FROM events e ASOF JOIN
                   (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                    FROM events WHERE event_type = 'click') c
                ON e.user_id = c.user_id AND CAST(e.ts AS TIMESTAMP) >= c.ts""",
    tags=("asof", "join"),
)
def asof_join_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    j = asof_join(
        ev.select("event_id", "user_id", "ts"),
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["value"],
    )
    return j.select(
        "event_id", "user_id", "ts", F.col("r_value").alias("last_click_value")
    )


# --------------------------------------------------------------------------
# Scalar-function surface (absent in the reference: projections are bare
# column refs, /root/reference/src/main.cpp:385-396)
# --------------------------------------------------------------------------
@register(
    "scalar_functions",
    oracle="""SELECT o_orderkey,
                     CAST(year(o_orderdate) AS INTEGER) AS yr,
                     CAST(month(o_orderdate) AS INTEGER) AS mth,
                     upper(substr(o_orderpriority, 1, 3)) AS prio3,
                     CAST(length(o_orderstatus) AS INTEGER) AS status_len,
                     concat(o_orderstatus, '-', o_orderpriority) AS tag
              FROM orders""",
    tags=("functions",),
)
def scalar_functions(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio3"),
        F.length("o_orderstatus").alias("status_len"),
        F.concat(F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")).alias("tag"),
    )


# --------------------------------------------------------------------------
# Statistical aggregates via exact decimal moments. Built-in
# stddev/corr accumulate doubles in engine-specific orders, so they
# can never hash-match an oracle; the moment sums (x, x^2, x*y) are
# exact decimals, and the final combining arithmetic is the same
# double expression on both sides — bit-exact, and exactly how a
# scale-out engine computes moments anyway (one partial-agg pass).
# --------------------------------------------------------------------------
@register(
    "agg_variance_corr",
    oracle="""WITH m AS (
                SELECT COUNT(*) AS n,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                                * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                                * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
                FROM lineitem)
              SELECT n,
                     (sxx - sx * sx / n) / (n - 1) AS var_qty,
                     sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
                     (sxy - sx * sy / n)
                       / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_qty_price
              FROM m""",
    tags=("aggregate", "statistics"),
)
def agg_variance_corr(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_money("l_quantity")).cast("double").alias("sx"),
        F.sum(_money("l_quantity") * _money("l_quantity")).cast("double").alias("sxx"),
        F.sum(_money("l_extendedprice")).cast("double").alias("sy"),
        F.sum(_money("l_extendedprice") * _money("l_extendedprice")).cast("double").alias("syy"),
        F.sum(_money("l_quantity") * _money("l_extendedprice")).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    return m.select(
        n.alias("n"),
        ((sxx - sx * sx / n) / (n - F.lit(1))).alias("var_qty"),
        F.sqrt((sxx - sx * sx / n) / (n - F.lit(1))).alias("stddev_qty"),
        (
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))
        ).alias("corr_qty_price"),
    )


@register(
    "agg_percentiles",
    oracle="""SELECT quantile_cont(l_extendedprice, 0.5) AS p50,
                     quantile_cont(l_extendedprice, 0.95) AS p95,
                     quantile_cont(l_quantity, 0.5) AS med_qty
              FROM lineitem""",
    tags=("aggregate", "percentile"),
)
def agg_percentiles(spark, sf_dir):
    # Exact interpolated percentile: Spark's percentile() and DuckDB's
    # quantile_cont use the same linear interpolation over the sorted
    # values, so results are bit-identical (verified at sf0.01).
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.percentile("l_extendedprice", 0.5).alias("p50"),
        F.percentile("l_extendedprice", 0.95).alias("p95"),
        F.percentile("l_quantity", 0.5).alias("med_qty"),
    )


@register(
    "pivot_status_counts",
    oracle="""SELECT o_orderpriority,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
              FROM orders GROUP BY o_orderpriority""",
    tags=("aggregate", "pivot"),
)
def pivot_status_counts(spark, sf_dir):
    p = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    # pivot emits NULL for absent combinations; the FILTER-count oracle
    # emits 0 — normalize.
    return p.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
    )


@register("agg_approx_distinct", oracle=None, tags=("aggregate", "approx"))
def agg_approx_distinct(spark, sf_dir):
    # Rows-only: HLL sketches are engine-specific. Relative error vs
    # exact COUNT(DISTINCT) is pytest-asserted (<5%).
    return _t(spark, sf_dir, "orders").agg(
        F.approx_count_distinct("o_custkey").alias("approx_custkeys")
    )


@register(
    "datetime_functions",
    oracle="""SELECT o_orderkey,
                     CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
                     CAST(isodow(o_orderdate) - 1 AS INTEGER) AS weekday_mon0,
                     CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
                       AS days_since_95,
                     CAST(quarter(o_orderdate) AS INTEGER) AS qtr
              FROM orders""",
    tags=("functions", "datetime"),
)
def datetime_functions(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.weekday("o_orderdate").alias("weekday_mon0"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        F.quarter("o_orderdate").alias("qtr"),
    )


@register(
    "string_functions",
    oracle="""SELECT o_orderkey,
                     lower(o_orderpriority) AS prio_lower,
                     replace(o_orderpriority, '-', '_') AS prio_repl,
                     lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded,
                     reverse(o_orderstatus) AS status_rev,
                     CAST(strpos(o_orderpriority, '-') AS INTEGER) AS dash_pos,
                     split_part(o_orderpriority, '-', 1) AS prio_num
              FROM orders""",
    tags=("functions", "string"),
)
def string_functions(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.lower("o_orderpriority").alias("prio_lower"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("prio_repl"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("key_padded"),
        F.reverse("o_orderstatus").alias("status_rev"),
        F.instr("o_orderpriority", "-").alias("dash_pos"),
        F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(1)).alias("prio_num"),
    )


# --------------------------------------------------------------------------
# Flagship (entry()): join + group + sort across 3 tables
# --------------------------------------------------------------------------
@register(
    "flagship_revenue_by_nation",
    oracle="""SELECT n_name, COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              GROUP BY n_name""",
    tags=("join", "groupby", "flagship"),
)
def flagship_revenue_by_nation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = join_tables(o, c, [("o_custkey", "=", "c_custkey")])
    j = join_tables(j, n, [("c_nationkey", "=", "n_nationkey")], broadcast_right=True)
    return j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_money("o_totalprice")).cast("double").alias("revenue"),
    )


@register(
    "range_join_time_band",
    oracle="""SELECT p.event_id, COUNT(c.event_id) AS n_clicks_30m
              FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'purchase') p
              LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                         FROM events WHERE event_type = 'click') c
                ON p.user_id = c.user_id
               AND abs(epoch_us(p.ts) - epoch_us(c.ts)) <= 1800000000
              GROUP BY p.event_id""",
    tags=("join", "range"),
)
def range_join_time_band(spark, sf_dir):
    # Banded time join: bucketed hash equi-join (see operators/range_join.py),
    # NOT the nested loop the naive |l.ts-r.ts|<=band condition would plan.
    from ..operators.range_join import time_band_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    j = time_band_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        band_seconds=1800, how="left",
    )
    return j.groupBy("event_id").agg(F.count("r_event_id").alias("n_clicks_30m"))


@register(
    "json_extract_props",
    oracle="""SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k_val FROM events""",
    tags=("functions", "json"),
)
def json_extract_props(spark, sf_dir):
    # JSON scalar extraction from the events.props payload column.
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


@register(
    "json_agg_by_type",
    oracle="""SELECT event_type,
                     CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
                     COUNT(*) AS n
              FROM events GROUP BY event_type""",
    tags=("functions", "json", "groupby"),
)
def json_agg_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type", F.get_json_object("props", "$.k").cast("int").alias("k")
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Classic analytical shapes: multi-way joins with selective filters,
# exercising join ordering / AQE across 3 and 6 tables.
# --------------------------------------------------------------------------
@register(
    "tpch_q3_shape",
    oracle="""SELECT l_orderkey, o_orderdate,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
              FROM customer
              JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              WHERE c_mktsegment = 'BUILDING'
                AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
              GROUP BY l_orderkey, o_orderdate
              ORDER BY revenue DESC, l_orderkey ASC
              LIMIT 10""",
    tags=("join", "groupby", "sort", "tpch"),
)
def tpch_q3_shape(spark, sf_dir):
    c = filter_rows(_t(spark, sf_dir, "customer"), ("c_mktsegment", "=", "BUILDING"))
    o = filter_rows(
        _t(spark, sf_dir, "orders"), ("o_orderdate", "<", "1998-01-01 00:00:00")
    )
    li = filter_rows(
        _t(spark, sf_dir, "lineitem"), ("l_shipdate", ">", "1996-01-01 00:00:00")
    )
    j = join_tables(join_tables(c, o, [("c_custkey", "=", "o_custkey")]),
                    li, [("o_orderkey", "=", "l_orderkey")])
    agg = j.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(_money("l_extendedprice") * (F.lit(1) - _money("l_discount")))
        .cast("double")
        .alias("revenue")
    )
    return limit(order_by(agg, ("revenue", False), ("l_orderkey", True)), 10)


@register(
    "tpch_q5_shape",
    oracle="""SELECT n_name,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
              FROM customer
              JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
                AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
              GROUP BY n_name""",
    tags=("join", "groupby", "tpch"),
)
def tpch_q5_shape(spark, sf_dir):
    # Six-table join: big fact tables shuffle on their keys, the three
    # dims (supplier, nation, region) broadcast; Catalyst+AQE order it.
    c = _t(spark, sf_dir, "customer")
    o = filter_rows(
        _t(spark, sf_dir, "orders"),
        ("o_orderdate", ">=", "1996-01-01 00:00:00"),
        ("o_orderdate", "<", "1999-01-01 00:00:00"),
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = filter_rows(_t(spark, sf_dir, "region"), ("r_name", "=", "ASIA"))
    j = join_tables(c, o, [("c_custkey", "=", "o_custkey")])
    j = join_tables(j, li, [("o_orderkey", "=", "l_orderkey")])
    j = join_tables(
        j, s, [("l_suppkey", "=", "s_suppkey"), ("c_nationkey", "=", "s_nationkey")],
        broadcast_right=True,
    )
    j = join_tables(j, n, [("s_nationkey", "=", "n_nationkey")], broadcast_right=True)
    j = join_tables(j, r, [("n_regionkey", "=", "r_regionkey")], broadcast_right=True)
    return j.groupBy("n_name").agg(
        F.sum(_money("l_extendedprice") * (F.lit(1) - _money("l_discount")))
        .cast("double")
        .alias("revenue")
    )


@register(
    "tpch_q14_shape",
    oracle="""SELECT CAST(100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                          THEN CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                     AS promo_revenue_pct
              FROM lineitem JOIN part ON l_partkey = p_partkey""",
    tags=("aggregate", "case_when", "tpch"),
)
def tpch_q14_shape(spark, sf_dir):
    # Conditional aggregation (CASE WHEN inside SUM) — the expression
    # class the reference's projection node can't evaluate at all
    # (SURVEY §2.3 "Expressions in SELECT"). part is the small side:
    # broadcast, no shuffle of lineitem.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = _money("l_extendedprice") * (F.lit(1) - _money("l_discount"))
    zero = F.lit(0).cast("decimal(18,2)")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(
        (
            (F.lit(100.00) * F.sum(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(zero)).cast("double"))
            / F.sum(rev).cast("double")
        ).alias("promo_revenue_pct")
    )


@register(
    "tpch_q18_shape",
    oracle="""WITH big AS (
                SELECT l_orderkey FROM lineitem
                GROUP BY l_orderkey
                HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 55),
              j AS (
                SELECT c_name, o.o_custkey, o.o_orderkey, o_orderdate, o_totalprice
                FROM orders o
                JOIN customer ON c_custkey = o_custkey
                WHERE o.o_orderkey IN (SELECT l_orderkey FROM big))
              SELECT j.c_name, j.o_custkey, j.o_orderkey, j.o_orderdate, j.o_totalprice,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
              FROM j JOIN lineitem ON j.o_orderkey = l_orderkey
              GROUP BY 1, 2, 3, 4, 5""",
    tags=("aggregate", "having", "semi_join", "tpch"),
)
def tpch_q18_shape(spark, sf_dir):
    # Q18 shape: HAVING over a fact aggregate feeding a semi-join
    # (IN-subquery), then re-aggregation. The HAVING output is tiny, so
    # it broadcasts into the semi join — lineitem is scanned twice but
    # never shuffled to the driver.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_money("l_quantity")).alias("q"))
        .filter(F.col("q") > 55)
        .select("l_orderkey")
    )
    j = (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
    )
    return (
        j.join(li, F.col("o_orderkey") == li["l_orderkey"])
        .groupBy("c_name", "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(_money("l_quantity")).cast("double").alias("total_qty"))
    )


@register(
    "window_range_frame",
    oracle="""SELECT o_orderkey, o_custkey, o_orderdate,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                       PARTITION BY o_custkey
                       ORDER BY epoch(o_orderdate)
                       RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
                     ) AS DOUBLE) AS spend_30d
              FROM orders""",
    tags=("window", "range_frame"),
)
def window_range_frame(spark, sf_dir):
    # RANGE (value-based) window frame — peers are rows within 30 days
    # of event time, not a fixed row count; needs no self-join. The
    # rows-frame twin is window_running_sum; together they cover both
    # frame kinds.
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2592000, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(_money("o_totalprice")).over(w).cast("double").alias("spend_30d"),
    )


@register(
    "null_semantics",
    oracle="""WITH x AS (SELECT o_orderkey, o_totalprice,
                                NULLIF(o_orderstatus, 'O') AS st
                         FROM orders)
              SELECT COALESCE(st, '<open>') AS status,
                     COUNT(*) AS n_rows,
                     COUNT(st) AS n_nonnull,
                     CAST(SUM(CASE WHEN st IS NOT DISTINCT FROM 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                     CAST(SUM(CASE WHEN st IS NULL
                              THEN CAST(o_totalprice AS DECIMAL(18,2))
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS open_value
              FROM x GROUP BY 1""",
    tags=("null", "aggregate"),
)
def null_semantics(spark, sf_dir):
    # Three-valued logic end-to-end, the semantics the reference has
    # none of (SURVEY §1.2 "no NULL support"): NULLIF introduces NULLs,
    # COUNT(col) skips them, COUNT(*) doesn't, <=> (null-safe equality
    # ≡ IS NOT DISTINCT FROM) treats NULL as a comparable value, and
    # conditional sums aggregate around them.
    o = _t(spark, sf_dir, "orders")
    x = o.select(
        "o_orderkey",
        "o_totalprice",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("st"),
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return x.groupBy(F.coalesce(F.col("st"), F.lit("<open>")).alias("status")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("st").alias("n_nonnull"),
        F.sum(F.when(F.col("st").eqNullSafe(F.lit("F")), 1).otherwise(0)).alias("n_f"),
        F.sum(F.when(F.col("st").isNull(), _money("o_totalprice")).otherwise(zero))
        .cast("double")
        .alias("open_value"),
    )


@register(
    "join_skew_salted_q",
    oracle="""SELECT o_orderpriority, COUNT(*) AS n,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              GROUP BY o_orderpriority""",
    tags=("join", "skew"),
)
def join_skew_salted_q(spark, sf_dir):
    # Salting changes the SHUFFLE LAYOUT, never the answer: the salted
    # fact⋈orders join must produce exactly the plain join's aggregate.
    # (The salt column uses rand(seed), but every row matches exactly
    # its own salt replica, so results are salt-invariant.)
    from ..operators import join_skew_salted

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = join_skew_salted(li, o, "l_orderkey", "o_orderkey", salt=8)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_money("l_extendedprice")).cast("double").alias("revenue"),
    )


@register(
    "typed_csv_roundtrip",
    oracle="""SELECT CAST(l_orderkey AS DOUBLE) AS l_orderkey, l_returnflag,
                     l_shipdate, l_extendedprice
              FROM lineitem""",
    tags=("sink", "source", "typed_csv"),
)
def typed_csv_roundtrip(spark, sf_dir):
    # O16 (CSV sink) + O1 (CSV scan) graded through the driver: write a
    # lineitem projection with the reference's typed header
    # (``Name (N|T|D)``), read it back, return the re-scanned frame.
    # The (N) tag maps to DOUBLE on re-read — the reference's
    # "numerics are float" semantic — hence the oracle's cast of the
    # integer key; 2-decimal prices and second-precision timestamps
    # survive the text roundtrip bit-exactly.
    import tempfile

    from ..sources import read_typed_csv, write_typed_csv

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate", "l_extendedprice"
    )
    path = tempfile.mkdtemp(prefix="typed_csv_rt_") + "/lineitem_csv"
    write_typed_csv(li, path)
    return read_typed_csv(spark, path)


@register(
    "seasonal_profile_hourly",
    oracle="""WITH e AS (
                SELECT event_type,
                       CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hod,
                       CAST(FLOOR(value * 100) AS BIGINT) AS cents
                FROM events),
              prof AS (
                SELECT event_type, hod,
                       COUNT(*) AS n,
                       CAST(FLOOR(AVG(cents)) AS BIGINT) AS mean_cents
                FROM e GROUP BY 1, 2)
              SELECT e.event_type, e.hod, MIN(prof.n) AS n,
                     MIN(prof.mean_cents) AS mean_cents,
                     CAST(FLOOR(AVG(ABS(e.cents - prof.mean_cents)))
                          AS BIGINT) AS mad_cents,
                     CAST(MIN(e.cents) AS BIGINT) AS min_cents,
                     CAST(MAX(e.cents) AS BIGINT) AS max_cents
              FROM e JOIN prof
                ON e.event_type = prof.event_type AND e.hod = prof.hod
              GROUP BY 1, 2""",
    tags=("timeseries", "seasonal", "aggregate", "join", "anomaly",
          "profiling"),
)
def seasonal_profile_hourly(spark, sf_dir):
    # Hour-of-day seasonal profile + mean-absolute-deviation residual
    # per (event_type, hour) — the detrending table a seasonal anomaly
    # detector joins against (deviation ≫ mad_cents = anomalous).
    # Two passes over the fact table, both grouped on the same
    # (type, hod) key: profile means first, then residuals against the
    # broadcast profile — the fact table never shuffles (group-by is
    # partial-aggregated map-side; the profile is 24 x n_types rows).
    # Integer-floor quantization keeps every output engine-exact.
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("int").alias("hod"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    prof = e.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.avg("cents")).cast("long").alias("mean_cents"),
    )
    return (
        e.join(F.broadcast(prof), ["event_type", "hod"])
        .groupBy("event_type", "hod")
        .agg(
            F.min("n").alias("n"),
            F.min("mean_cents").alias("mean_cents"),
            F.floor(F.avg(F.abs(F.col("cents") - F.col("mean_cents"))))
            .cast("long")
            .alias("mad_cents"),
            # count/mean/deviation/min/max: the per-group PROFILE
            # quartet a column profiler emits, per seasonal bucket
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )
    )


@register(
    "join_longest_prefix",
    oracle="""WITH p AS (SELECT event_id AS id,
                                (event_id * 2654435761) % 65536 AS addr
                         FROM events WHERE event_id % 13 = 0),
                   r AS (SELECT n_nationkey, n_name,
                                (n_nationkey * 2654435761) % 65536 AS prefix,
                                4 + n_nationkey % 9 AS plen
                         FROM nation),
                   m AS (SELECT p.id, p.addr, r.n_nationkey, r.n_name,
                                r.plen,
                                ROW_NUMBER() OVER (
                                  PARTITION BY p.id
                                  ORDER BY r.plen DESC, r.n_nationkey ASC
                                ) AS rk
                         FROM p JOIN r
                           ON (p.addr >> (16 - r.plen))
                              = (r.prefix >> (16 - r.plen)))
              SELECT id, addr, CAST(plen AS INTEGER) AS match_len,
                     n_nationkey, n_name
              FROM m WHERE rk = 1""",
    tags=("join", "lpm", "cidr", "range"),
)
def join_longest_prefix(spark, sf_dir):
    # Longest-prefix-match join (operators/range_join.py
    # longest_prefix_join): CIDR-style routing/geo enrichment as an
    # EQUI-join — each address explodes into its candidate prefix
    # lengths, rules key by (len, masked bits), argmax per address is
    # a groupBy max(struct). The oracle is the naive theta join +
    # rank, so the value-hash proves the explode/mask/argmax rewrite
    # semantically invisible. 16-bit synthetic address space derived
    # from integer hashes both engines compute identically.
    from ..operators.range_join import longest_prefix_join

    probe = _t(spark, sf_dir, "events").filter(
        F.col("event_id") % 13 == 0
    ).select(
        F.col("event_id").alias("id"),
        (F.col("event_id") * 2654435761 % 65536).alias("addr"),
    )
    rules = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        (F.col("n_nationkey") * 2654435761 % 65536).alias("prefix"),
        (4 + F.col("n_nationkey") % 9).cast("int").alias("plen"),
    )
    return longest_prefix_join(
        probe, rules, "addr", "prefix", "plen", bits=16,
        rule_tiebreak="n_nationkey",
    )


@register(
    "agg_percentile_cont",
    oracle="""WITH c AS (
                SELECT o_orderpriority,
                       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
                       NTILE(4) OVER (PARTITION BY o_orderpriority
                                      ORDER BY CAST(FLOOR(o_totalprice * 100)
                                                    AS BIGINT),
                                               o_orderkey) AS q
                FROM orders)
              SELECT o_orderpriority,
                     CAST(ROUND(quantile_cont(cents, 0.5) * 10)
                       AS BIGINT) AS p50_e1,
                     CAST(ROUND(quantile_cont(cents, 0.9) * 10)
                       AS BIGINT) AS p90_e1,
                     CAST(SUM(CASE WHEN q = 1 THEN cents END) AS BIGINT)
                       AS q1_cents,
                     CAST(SUM(CASE WHEN q = 4 THEN cents END) AS BIGINT)
                       AS q4_cents
              FROM c GROUP BY 1""",
    tags=("aggregate", "percentile", "cont", "ntile"),
)
def agg_percentile_cont(spark, sf_dir):
    # Interpolated (continuous) percentiles — Spark's exact
    # ``percentile`` aggregate and DuckDB's ``quantile_cont`` share
    # the lo + frac*(hi-lo) interpolation; over integer cents the two
    # operands are exact, so the 0.1-cent-quantized result hashes
    # across engines (the discrete form is agg_percentile_disc; the
    # bounded-sketch scale path is agg_histogram_quantiles /
    # robust_zscore_prices_approx). The quartile columns are the
    # NTILE twin of the same profile: NTILE(4) over a TOTAL order
    # (cents, key — ties broken, so bucket edges are engine-identical)
    # feeds bottom/top-quartile mass, value-hashing the tile
    # assignment itself, not just the interpolation.
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    c = o.withColumn("q", F.ntile(4).over(w))
    return c.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(cents, 0.5)") * 10).cast("long").alias("p50_e1"),
        F.round(F.expr("percentile(cents, 0.9)") * 10).cast("long").alias("p90_e1"),
        F.sum(F.when(F.col("q") == 1, F.col("cents"))).cast("long")
        .alias("q1_cents"),
        F.sum(F.when(F.col("q") == 4, F.col("cents"))).cast("long")
        .alias("q4_cents"),
    )


_LATERAL_ALIAS_SQL = """\
SELECT l_orderkey,
       CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents,
       cents - CAST(FLOOR(l_discount * l_extendedprice * 100) AS BIGINT)
         AS net_cents,
       net_cents * 2 AS doubled_net
FROM lineitem WHERE l_orderkey % 50 = 0"""


@register(
    "sql_lateral_alias",
    oracle=_LATERAL_ALIAS_SQL,
    # 'scan': the plan is exactly the reference's O1/O3/O5 shape — a
    # parquet scan with a row predicate feeding a computed projection,
    # nothing else (no join/agg/window above it).
    tags=("sql", "dialect", "projection", "scan"),
)
def sql_lateral_alias(spark, sf_dir):
    # Lateral column aliases — a projection expression referencing an
    # alias defined earlier in the SAME select list. Verbatim SQL on
    # both engines (Spark 3.4+ / DuckDB 0.8+ parse it natively), the
    # strongest dialect-parity form in the registry.
    return run_sql(spark, sf_dir, _LATERAL_ALIAS_SQL)


@register(
    "sql_collated_group",
    oracle="""WITH e AS (
                SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                            ELSE event_type END AS et
                FROM events)
              SELECT lower(et) AS event_type, COUNT(*) AS n
              FROM e GROUP BY lower(et)""",
    tags=("sql", "dialect", "collation", "string", "aggregate"),
)
def sql_collated_group(spark, sf_dir):
    # Case-insensitive grouping via Spark 4's native string collation
    # (UTF8_LCASE) over a deliberately mixed-case column — the engine
    # feature, not a lower() rewrite. The group representative keeps
    # an arbitrary casing, so the output canonicalizes with lower()
    # for the hash; the oracle states the same semantics in portable
    # SQL.
    e = _t(spark, sf_dir, "events").select(
        F.when(
            F.col("event_id") % 2 == 0, F.upper("event_type")
        ).otherwise(F.col("event_type")).alias("et")
    )
    return (
        e.groupBy(F.collate(F.col("et"), "UTF8_LCASE").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower(F.col("k")).alias("event_type"), "n")
    )


@register(
    "event_sequence_match",
    oracle="""WITH s AS (
                SELECT user_id,
                       string_agg(substr(event_type, 1, 1), ''
                                  ORDER BY ts, event_id) AS seq
                FROM events GROUP BY user_id)
              SELECT user_id,
                     CAST(length(seq) AS INTEGER) AS seq_len,
                     regexp_matches(seq, 'v.*c.*p') AS converted
              FROM s""",
    tags=("events", "cep", "pattern", "aggregate"),
)
def event_sequence_match(spark, sf_dir):
    # MATCH_RECOGNIZE-style sequence detection, relationally: each
    # user's event-type stream collapses to an ordered symbol string
    # (one char per event, (ts, event_id)-ordered so both engines
    # agree), then a regex states the pattern — here view .* click .*
    # purchase. One groupBy shuffle; per-user state is the symbol
    # string (bytes per event), the same per-key bound as sessionize.
    # Arbitrary CEP patterns (negation, bounded gaps) are regex edits,
    # not new plans.
    e = _t(spark, sf_dir, "events")
    seq = (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("ts"), F.col("event_id"),
                                F.substring("event_type", 1, 1).alias("c"),
                            )
                        )
                    ),
                    lambda x: x["c"],
                ),
                "",
            ).alias("seq")
        )
    )
    return seq.select(
        "user_id",
        F.length("seq").cast("int").alias("seq_len"),
        F.col("seq").rlike("v.*c.*p").alias("converted"),
    )


@register(
    "impute_group_mean",
    oracle="""WITH e AS (
                SELECT event_id, event_type,
                       CASE WHEN event_id % 7 = 0 THEN NULL
                            ELSE CAST(FLOOR(value * 100) AS BIGINT) END AS cents
                FROM events),
              m AS (SELECT event_type,
                           CAST(FLOOR(AVG(cents)) AS BIGINT) AS mean_cents
                    FROM e GROUP BY 1)
              SELECT e.event_id, e.event_type,
                     COALESCE(e.cents, m.mean_cents) AS cents_filled,
                     e.cents IS NULL AS was_imputed
              FROM e JOIN m USING (event_type)""",
    tags=("cleaning", "null", "aggregate", "join"),
)
def impute_group_mean(spark, sf_dir):
    # Missing-value imputation with the group mean — the ML-prep
    # sibling of winsorize/robust-zscore cleaning. NULLs are planted
    # deterministically (every 7th event), the per-group mean is
    # computed over non-nulls (AVG's SQL semantics, floored to integer
    # cents so the fill value hashes exactly), and the fill is a
    # broadcast join of the tiny group-mean table against the fact —
    # the fact table shuffles zero times. was_imputed keeps the
    # provenance bit every feature pipeline wants.
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0, F.lit(None)
        ).otherwise(
            F.floor(F.col("value") * 100).cast("long")
        ).alias("cents"),
    )
    means = e.groupBy("event_type").agg(
        F.floor(F.avg("cents")).cast("long").alias("mean_cents")
    )
    return (
        e.join(F.broadcast(means), "event_type")
        .select(
            "event_id",
            "event_type",
            F.coalesce(F.col("cents"), F.col("mean_cents")).alias("cents_filled"),
            F.col("cents").isNull().alias("was_imputed"),
        )
    )


@register(
    "rfm_segments",
    oracle="""WITH base AS (
                SELECT o_custkey,
                       CAST(FLOOR(epoch(MAX(CAST(o_orderdate AS TIMESTAMP)))) AS BIGINT)
                         AS recency_s,
                       COUNT(*) AS frequency,
                       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                         AS monetary_cents
                FROM orders GROUP BY 1),
              seg AS (
                SELECT o_custkey, recency_s, frequency, monetary_cents,
                       CAST(NTILE(4) OVER (ORDER BY recency_s, o_custkey) AS INTEGER) AS r_seg,
                       CAST(NTILE(4) OVER (ORDER BY frequency, o_custkey) AS INTEGER) AS f_seg,
                       CAST(NTILE(4) OVER (ORDER BY monetary_cents, o_custkey) AS INTEGER) AS m_seg
                FROM base)
              SELECT r_seg, f_seg, m_seg,
                     COUNT(*) AS n_customers,
                     CAST(SUM(monetary_cents) AS BIGINT) AS seg_cents
              FROM seg GROUP BY 1, 2, 3""",
    tags=("analytics", "rfm", "window", "ntile", "aggregate"),
)
def rfm_segments(spark, sf_dir):
    # RFM customer segmentation: per-customer recency/frequency/
    # monetary rollup, quartile assignment per dimension (determinized
    # with the custkey tie-break both engines share), then segment
    # cell counts. Each quartile pass is operators.ntile_distributed —
    # exact NTILE semantics without a single-partition global window
    # (range-partitioned row numbers + closed-form bucket math), so
    # the plan-sweep no-unpartitioned-window invariant holds even
    # though the customer rollup is far smaller than the fact table.
    o = _t(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey")).agg(
        F.floor(
            F.unix_timestamp(F.max("o_orderdate")).cast("double")
        ).cast("long").alias("recency_s"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long").alias("monetary_cents"),
    )
    from ..operators import ntile_distributed

    seg = ntile_distributed(
        base, ["recency_s", "o_custkey"], 4, out_col="r_seg"
    )
    seg = ntile_distributed(
        seg, ["frequency", "o_custkey"], 4, out_col="f_seg"
    )
    seg = ntile_distributed(
        seg, ["monetary_cents", "o_custkey"], 4, out_col="m_seg"
    )
    return seg.groupBy("r_seg", "f_seg", "m_seg").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("seg_cents"),
    )


@register(
    "basket_pairs_support",
    oracle="""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem)
              SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                     COUNT(*) AS support
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2 HAVING COUNT(*) >= 3""",
    tags=("analytics", "basket", "join", "self_join", "aggregate"),
)
def basket_pairs_support(spark, sf_dir):
    # Market-basket co-occurrence: parts ordered together, pair
    # support >= 3. r13 shape (guide §2.4): ONE shuffle gathers each
    # order's items (collect_list — state bounded by items-per-order,
    # ~7 in TPC-H, a few dozen in real carts), pairs generate IN-ROW
    # (nested array transform, all unordered pairs with part_a <
    # part_b over the multiset — order-insensitive, so collect_list's
    # nondeterministic ordering cannot reach the output), then one
    # pair rollup. The previous self-join shuffled the item list
    # twice (both join sides) before the same per-order quadratic;
    # values proven identical (exceptAll = 0) and the oracle stays
    # the self-join spelling. Skew guard (ADVICE r13): the in-row
    # quadratic concentrates each order's O(items²) blowup in ONE
    # task/row — bounded and fine for TPC-H (~7 items/order), but a
    # pathological mega-order (skewed cart data) needs a guard BEFORE
    # this shape applies: cap items per order (size(ps) <= N filter,
    # with the tail routed through the old equi-join spelling) and/or
    # the classic a-priori prefilter (drop parts below min item
    # support) to shrink every basket first.
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    arr = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("ps")
    )
    pairs_arr = F.flatten(
        F.transform(
            "ps",
            lambda x: F.transform(
                F.filter("ps", lambda y: y > x),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        arr.select(F.explode(pairs_arr).alias("pr"))
        .select("pr.part_a", "pr.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )


@register(
    "twap_user_value",
    oracle="""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                                CAST(ROUND(value * 100) AS BIGINT) AS cents
                         FROM events),
                   d AS (SELECT user_id, cents,
                                CAST(FLOOR(epoch(LEAD(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id))) AS BIGINT)
                                - CAST(FLOOR(epoch(ts)) AS BIGINT) AS dur
                         FROM e)
              SELECT user_id,
                     CAST(SUM(cents * dur) AS DOUBLE)
                       / CAST(SUM(dur) AS DOUBLE) / 100.0 AS twap,
                     CAST(SUM(dur) AS BIGINT) AS total_secs,
                     COUNT(*) AS n_obs
              FROM d WHERE dur IS NOT NULL
              GROUP BY user_id HAVING SUM(dur) > 0""",
    tags=("timeseries", "window", "aggregate", "weighted"),
)
def twap_user_value(spark, sf_dir):
    # Time-weighted average (operators/asof.py twap): each observation
    # weighted by its holding duration — the irregular-series mean
    # (TimescaleDB time_weight / kdb twap). Integer cents x whole
    # seconds keep the weighted sum exact in any accumulation order;
    # the oracle replays the identical quantization, so the value-hash
    # covers the weighting itself, not just row counts.
    from ..operators import twap

    return twap(_t(spark, sf_dir, "events"))


@register(
    "ohlc_hourly",
    oracle="""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value
                         FROM events),
                   f AS (SELECT date_trunc('hour', ts) AS bucket_ts, value,
                                ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                                   ORDER BY ts ASC, event_id ASC) AS rn_a,
                                ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                                   ORDER BY ts DESC, event_id DESC) AS rn_d
                         FROM e)
              SELECT bucket_ts,
                     MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
                     MAX(value) AS high,
                     MIN(value) AS low,
                     MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
                     COUNT(*) AS n_events
              FROM f GROUP BY bucket_ts""",
    tags=("timeseries", "window", "aggregate", "ohlc"),
)
def ohlc_hourly(spark, sf_dir):
    # OHLC candlestick rollup (operators/asof.py ohlc_resample):
    # open/close are SELECTIONS of existing doubles (first/last by
    # (ts, event_id)), high/low/n plain min/max/count — everything
    # hashes exactly with zero float accumulation. One bucket-key
    # window + one groupBy, same shuffle key, AQE-coalesced.
    from ..operators import ohlc_resample

    return ohlc_resample(_t(spark, sf_dir, "events"), bucket="1 hour")


@register(
    "resample_ffill_hourly",
    oracle="""WITH obs AS (
                SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS value
                FROM events GROUP BY 1, 2),
              b AS (
                SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
                       date_trunc('hour', MAX(ts)) AS t1
                FROM obs GROUP BY 1),
              g AS (
                SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts
                FROM b)
              SELECT g.user_id, g.grid_ts, o.value AS r_value
              FROM g ASOF JOIN obs o
                ON g.user_id = o.user_id AND g.grid_ts >= o.ts""",
    tags=("timeseries", "asof", "gap_fill"),
)
def resample_ffill_hourly(spark, sf_dir):
    # Gap-fill rollup as a composition: sequence()-generated hourly grid
    # + forward-fill as-of join; oracle is DuckDB generate_series + its
    # native ASOF JOIN.
    from ..operators import resample_ffill

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    return resample_ffill(ev, key="user_id", ts="ts", value="value", step="1 hour")


@register(
    "profile_orders",
    oracle="""SELECT 'o_orderkey' AS column, COUNT(*) AS n_rows,
                     CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                     COUNT(DISTINCT o_orderkey) AS n_distinct,
                     CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
                     CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
              FROM orders
              UNION ALL
              SELECT 'o_orderstatus', COUNT(*),
                     CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     COUNT(DISTINCT o_orderstatus),
                     MIN(o_orderstatus), MAX(o_orderstatus)
              FROM orders
              UNION ALL
              SELECT 'o_orderdate', COUNT(*),
                     CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     COUNT(DISTINCT o_orderdate),
                     CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
              FROM orders""",
    tags=("profiling", "aggregate"),
)
def profile_orders(spark, sf_dir):
    # Data profiling: per-column row/null/ndv/min/max in one job —
    # long format, stringified extrema (int/string/timestamp columns;
    # float extrema stringification is engine-specific, so profile
    # floats via the numeric surface instead).
    from ..operators import profile_table

    return profile_table(
        _t(spark, sf_dir, "orders"), ["o_orderkey", "o_orderstatus", "o_orderdate"]
    )


# --------------------------------------------------------------------------
# Correlated EXISTS / NOT EXISTS (TPC-H Q21 shape): multi-supplier
# orders where exactly one supplier shipped last. The DataFrame build
# uses semi/anti joins — the physical plans Catalyst would rewrite the
# subqueries into anyway — so the operator surface is explicit.
# --------------------------------------------------------------------------
@register(
    "tpch_q21_shape",
    oracle="""SELECT s_name, COUNT(*) AS numwait
              FROM supplier
              JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
              JOIN orders ON o_orderkey = l1.l_orderkey
              WHERE o_orderstatus = 'F'
                AND EXISTS (SELECT 1 FROM lineitem l2
                            WHERE l2.l_orderkey = l1.l_orderkey
                              AND l2.l_suppkey <> l1.l_suppkey)
                AND NOT EXISTS (SELECT 1 FROM lineitem l3
                                WHERE l3.l_orderkey = l1.l_orderkey
                                  AND l3.l_suppkey <> l1.l_suppkey
                                  AND l3.l_shipdate > l1.l_shipdate)
              GROUP BY s_name
              ORDER BY numwait DESC, s_name ASC
              LIMIT 10""",
    tags=("join", "semi", "anti", "exists", "tpch"),
)
def tpch_q21_shape(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = filter_rows(_t(spark, sf_dir, "orders"), ("o_orderstatus", "=", "F"))
    s = _t(spark, sf_dir, "supplier")
    l1 = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
        F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"),
        F.col("l_suppkey").alias("l2_suppkey"),
    )
    l3 = li.select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
        F.col("l_shipdate").alias("l3_shipdate"),
    )
    with_other = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("l2_orderkey"))
        & (F.col("l_suppkey") != F.col("l2_suppkey")),
        "left_semi",
    )
    not_latest_elsewhere = with_other.join(
        l3,
        (F.col("l_orderkey") == F.col("l3_orderkey"))
        & (F.col("l_suppkey") != F.col("l3_suppkey"))
        & (F.col("l3_shipdate") > F.col("l_shipdate")),
        "left_anti",
    )
    agg = not_latest_elsewhere.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("numwait")
    )
    return limit(order_by(agg, ("numwait", False), ("s_name", True)), 10)


# --------------------------------------------------------------------------
# Fixed-width histogram: the bucket expression (divide/floor/least on
# doubles) is IEEE-deterministic, so both engines bin identically; the
# per-bucket bounds go through the exact-decimal convention.
# --------------------------------------------------------------------------
@register(
    "agg_histogram",
    oracle="""SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9) AS INTEGER) AS bucket,
                     COUNT(*) AS n,
                     CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
                     CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi
              FROM orders GROUP BY 1""",
    tags=("aggregate", "histogram"),
)
def agg_histogram(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(50000.0)), F.lit(9)
    ).cast("int")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(_money("o_totalprice")).cast("double").alias("lo"),
        F.max(_money("o_totalprice")).cast("double").alias("hi"),
    )


@register(
    "window_ntile_deciles",
    oracle="""WITH d AS (SELECT o_totalprice,
                     NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
                     FROM orders)
              SELECT CAST(decile AS INTEGER) AS decile, COUNT(*) AS n,
                     CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
                     CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi
              FROM d GROUP BY 1""",
    tags=("window", "ntile"),
)
def window_ntile_deciles(spark, sf_dir):
    # Exact NTILE semantics WITHOUT the single-partition global window:
    # ntile_distributed range-partitions on (price, key), numbers rows
    # per partition in parallel, and offsets with broadcast partition
    # counts (operators/relational.py). Tie-broken on the key so both
    # engines assign identical deciles. The input here is every orders
    # row — the full fact table — which is exactly why the global
    # WindowExec form is banned.
    from ..operators import ntile_distributed

    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    d = ntile_distributed(
        o,
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        n_buckets=10,
        out_col="decile",
    )
    return d.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(_money("o_totalprice")).cast("double").alias("lo"),
        F.max(_money("o_totalprice")).cast("double").alias("hi"),
    )


# --------------------------------------------------------------------------
# Batch sessionization (operators/sessionize.py): gaps-and-islands with
# a 30-minute inactivity gap. Both engines mark session starts with the
# same floor-epoch gap test, then running-sum them into sequence ids.
# --------------------------------------------------------------------------
@register(
    "sessionize_events",
    oracle="""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
                         FROM events),
                   f AS (SELECT user_id, event_id, ts,
                                CASE WHEN LAG(ts) OVER w IS NULL
                                       OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                                          - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
                                     THEN 1 ELSE 0 END AS new_s
                         FROM e
                         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
                   s AS (SELECT user_id, ts,
                                CAST(SUM(new_s) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                         FROM f)
              SELECT user_id, session_seq,
                     MIN(ts) AS session_start, MAX(ts) AS session_end,
                     COUNT(*) AS n_events,
                     MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))
                       - MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS duration_s
              FROM s GROUP BY 1, 2""",
    tags=("window", "sessionize", "events"),
)
def sessionize_events(spark, sf_dir):
    from ..operators.sessionize import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(ev, key="user_id", ts="ts", gap_minutes=30)


# --------------------------------------------------------------------------
# CDC snapshot diff + MERGE upsert (operators/cdc.py). Snapshots are
# derived deterministically from orders so the oracle can rebuild them.
# --------------------------------------------------------------------------
@register(
    "cdc_orders_diff",
    oracle="""WITH old AS (SELECT o_orderkey, o_orderstatus, o_orderpriority
                           FROM orders WHERE o_orderkey % 97 <> 3),
                   new AS (SELECT o_orderkey, o_orderstatus,
                                  CASE WHEN o_orderkey % 11 = 0 THEN 'X-UPDATED'
                                       ELSE o_orderpriority END AS o_orderpriority
                           FROM orders WHERE o_orderkey % 89 <> 5),
                   d AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                                CASE WHEN o.o_orderkey IS NULL THEN 'I'
                                     WHEN n.o_orderkey IS NULL THEN 'D'
                                     WHEN (o.o_orderstatus, o.o_orderpriority)
                                          IS DISTINCT FROM
                                          (n.o_orderstatus, n.o_orderpriority) THEN 'U'
                                END AS change_type,
                                CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus
                                     ELSE n.o_orderstatus END AS o_orderstatus,
                                CASE WHEN n.o_orderkey IS NULL THEN o.o_orderpriority
                                     ELSE n.o_orderpriority END AS o_orderpriority
                         FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey)
              SELECT * FROM d WHERE change_type IS NOT NULL""",
    tags=("cdc", "join"),
)
def cdc_orders_diff(spark, sf_dir):
    from ..operators.cdc import snapshot_diff

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    old = o.filter(F.col("o_orderkey") % 97 != 3)
    new = o.filter(F.col("o_orderkey") % 89 != 5).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X-UPDATED")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    return snapshot_diff(
        old, new, keys=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_orderpriority"],
    )


@register(
    "merge_upsert_orders",
    oracle="""WITH src AS (
                SELECT o_orderkey, 'U' AS o_orderstatus, o_orderpriority
                FROM orders WHERE o_orderkey % 13 = 0
                UNION ALL
                SELECT o_orderkey + 10000000 AS o_orderkey,
                       'N' AS o_orderstatus, o_orderpriority
                FROM orders WHERE o_orderkey % 17 = 0),
                   tgt AS (SELECT o_orderkey, o_orderstatus, o_orderpriority
                           FROM orders)
              SELECT * FROM tgt
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
              UNION ALL
              SELECT * FROM src""",
    tags=("cdc", "merge", "join"),
)
def merge_upsert_orders(spark, sf_dir):
    from ..operators.cdc import merge_upsert

    tgt = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    updates = tgt.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    inserts = (
        tgt.filter(F.col("o_orderkey") % 17 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10000000)
        .withColumn("o_orderstatus", F.lit("N"))
    )
    return merge_upsert(tgt, updates.unionByName(inserts), keys=["o_orderkey"])


# --------------------------------------------------------------------------
# Z-order clustering key (sources/lake.py): the multi-dimensional
# layout key behind z_order_write, exposed as a query so the bit
# interleave itself is oracle-verified (identical bit ops in DuckDB).
# --------------------------------------------------------------------------
_ZBITS = 8
_Z_TERMS = " | ".join(
    f"(((x >> {i}) & 1) << {2 * i}) | (((y >> {i}) & 1) << {2 * i + 1})"
    for i in range(_ZBITS)
)


@register(
    "zorder_key_orders",
    oracle=f"""WITH b AS (SELECT o_orderkey,
                     o_custkey & 255 AS x,
                     (CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400) & 255 AS y
                     FROM orders)
              SELECT o_orderkey, CAST({_Z_TERMS} AS BIGINT) AS zval
              FROM b""",
    tags=("lake", "zorder"),
)
def zorder_key_orders(spark, sf_dir):
    from ..sources.lake import z_value

    o = _t(spark, sf_dir, "orders")
    # o_orderdate is TIMESTAMP_NTZ (no direct long cast in ANSI mode);
    # unix_timestamp interprets it in the pinned UTC session zone.
    days = F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400).cast("long")
    return o.select(
        "o_orderkey",
        z_value(F.col("o_custkey"), days, bits=_ZBITS).alias("zval"),
    )


# --------------------------------------------------------------------------
# Event analytics: ordered funnel and weekly cohort retention. Both are
# join + hash-agg compositions on user_id — one key, reusable
# partitioning, no windows over the full event stream.
# --------------------------------------------------------------------------
@register(
    "funnel_view_click_purchase",
    oracle="""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                         FROM events),
                   v AS (SELECT user_id, MIN(ts) AS t1 FROM e
                         WHERE event_type = 'view' GROUP BY 1),
                   c AS (SELECT e.user_id, MIN(e.ts) AS t2
                         FROM e JOIN v USING (user_id)
                         WHERE e.event_type = 'click' AND e.ts >= v.t1 GROUP BY 1),
                   p AS (SELECT e.user_id, MIN(e.ts) AS t3
                         FROM e JOIN c USING (user_id)
                         WHERE e.event_type = 'purchase' AND e.ts >= c.t2 GROUP BY 1)
              SELECT (SELECT COUNT(*) FROM v) AS n_view_users,
                     (SELECT COUNT(*) FROM c) AS n_click_after_view,
                     (SELECT COUNT(*) FROM p) AS n_purchase_funnel""",
    tags=("events", "funnel", "join"),
)
def funnel_view_click_purchase(spark, sf_dir):
    # Strictly-ordered funnel: first view, first click at-or-after that
    # view, first purchase at-or-after that click. Distinct users per
    # stage; each stage is a filtered min-aggregation joined to the
    # previous stage's per-user timestamps.
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view_users"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_funnel")))
    )


@register(
    "cohort_retention_weekly",
    oracle="""WITH e AS (SELECT user_id,
                     CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 604800 AS wk
                     FROM events),
                   f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1),
                   a AS (SELECT DISTINCT e.user_id, f.cohort_wk,
                                e.wk - f.cohort_wk AS week_offset
                         FROM e JOIN f USING (user_id))
              SELECT cohort_wk, week_offset, COUNT(*) AS n_users
              FROM a GROUP BY 1, 2""",
    tags=("events", "cohort", "join"),
)
def cohort_retention_weekly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.floor(F.col("ts").cast("long") / 604800).cast("long").alias("wk"),
    )
    f = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    a = (
        e.join(f, "user_id")
        .select(
            "user_id",
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).alias("week_offset"),
        )
        .distinct()
    )
    return a.groupBy("cohort_wk", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register("agg_approx_percentiles", oracle=None, tags=("aggregate", "approx"))
def agg_approx_percentiles(spark, sf_dir):
    # Rows-only: approx_percentile's sketch (Greenwald-Khanna) is
    # engine-specific. Error vs the exact percentiles is
    # pytest-asserted (<1% of the value at accuracy 10000) — together
    # with approx_count_distinct (HLL) and count_min_sketch this
    # completes the mergeable-sketch family: all three aggregate
    # partition-local sketches and merge tiny state at the reduce.
    return _t(spark, sf_dir, "lineitem").agg(
        F.approx_percentile(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), F.lit(10000)
        ).alias("p50_p95_p99")
    )


@register("agg_hll_reaggregate", oracle=None, tags=("aggregate", "approx", "sketch"))
def agg_hll_reaggregate(spark, sf_dir):
    # Mergeable-sketch REaggregation: per-day HLL sketches of distinct
    # users union-merged into weekly estimates WITHOUT rescanning the
    # events — the pattern that makes 100 TB rollup cubes cheap (store
    # binary sketches per fine grain, merge for any coarser grain).
    # Rows-only: sketch estimates are engine-specific; accuracy vs
    # exact weekly COUNT(DISTINCT) is pytest-asserted (<5%).
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return (
        daily.groupBy(F.date_trunc("week", F.col("day")).alias("week"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"))
        .select(F.col("week").cast("string").alias("week"), "approx_users")
    )


@register(
    "profile_skew_lineitem",
    oracle="""WITH c AS (SELECT l_orderkey, COUNT(*) AS n_rows
                         FROM lineitem GROUP BY 1),
                   t AS (SELECT SUM(n_rows) AS total, COUNT(*) AS nkeys FROM c)
              SELECT l_orderkey, n_rows,
                     CAST(n_rows AS DOUBLE) / total AS row_share,
                     CAST(n_rows AS DOUBLE) * nkeys / total AS skew_ratio
              FROM c, t
              ORDER BY n_rows DESC, l_orderkey ASC
              LIMIT 10""",
    tags=("profile", "skew"),
)
def profile_skew_lineitem(spark, sf_dir):
    from ..operators.profile import skew_report

    return skew_report(_t(spark, sf_dir, "lineitem"), "l_orderkey", top=10)


@register(
    "validate_orders",
    oracle="""SELECT 'not_null:o_custkey' AS rule,
                     CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_violations
              FROM orders
              UNION ALL
              SELECT 'in_set:o_orderstatus',
                     CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                                    AND o_orderstatus NOT IN ('O','F','P')
                                   THEN 1 ELSE 0 END) AS BIGINT)
              FROM orders
              UNION ALL
              SELECT 'range:o_totalprice',
                     CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                                    AND (o_totalprice < 0 OR o_totalprice > 600000)
                                   THEN 1 ELSE 0 END) AS BIGINT)
              FROM orders
              UNION ALL
              SELECT 'unique:o_orderkey',
                     CAST(COALESCE(SUM(n), 0) AS BIGINT)
              FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey
                    HAVING COUNT(*) > 1)
              UNION ALL
              SELECT 'references:o_custkey',
                     CAST(COUNT(*) AS BIGINT)
              FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL""",
    tags=("validate", "quality"),
)
def validate_orders(spark, sf_dir):
    # Data-quality gate over orders: NULLs, domain, range, key
    # uniqueness, and referential integrity vs customer — one report.
    from ..operators.validate import check_rules

    return check_rules(
        _t(spark, sf_dir, "orders"),
        not_null=["o_custkey"],
        unique=["o_orderkey"],
        in_set={"o_orderstatus": ["O", "F", "P"]},
        ranges={"o_totalprice": (0, 600000)},
        references={"o_custkey": (_t(spark, sf_dir, "customer"), "c_custkey")},
    )


@register(
    "sample_k_per_group",
    oracle="""WITH r AS (SELECT doc_id, lang,
                     ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || 's0') ASC,
                                doc_id ASC) AS rk
                     FROM documents)
              SELECT doc_id, lang FROM r WHERE rk <= 20""",
    # limit: per-group TOP-N via row_number <= k — exactly the
    # LIMIT/TOP-N primitive SURVEY §2.3 names (F.row_number() <= n)
    tags=("sampling", "limit"),
)
def sample_k_per_group_q(spark, sf_dir):
    # Deterministic per-class cap: 20 docs per language, chosen by
    # md5 rank — identical draw in any engine / partitioning.
    from ..functions.sampling import sample_k_per_group

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return sample_k_per_group(docs, "lang", "doc_id", k=20)


@register(
    "unpivot_lineitem_metrics",
    oracle="""SELECT l_orderkey, l_linenumber, metric, value
              FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
                    FROM lineitem WHERE l_orderkey < 200)
              UNPIVOT (value FOR metric IN (l_quantity, l_discount, l_tax))""",
    tags=("reshape", "unpivot"),
)
def unpivot_lineitem_metrics(spark, sf_dir):
    # Wide -> long reshape (melt), the inverse of pivot_status_counts.
    # Values pass through unchanged, so doubles compare exactly.
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "value",
    )


@register(
    "window_analytics_full",
    oracle="""SELECT o_custkey, o_orderkey,
                     CAST(round(percent_rank() OVER w * 1e9) AS BIGINT) AS pr_e9,
                     CAST(round(cume_dist() OVER w * 1e9) AS BIGINT) AS cd_e9,
                     CAST(ntile(4) OVER w AS INTEGER) AS quartile,
                     first_value(o_orderkey) OVER w AS first_ok,
                     last_value(o_orderkey) OVER (PARTITION BY o_custkey
                                                  ORDER BY o_orderdate, o_orderkey
                                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                                           AND UNBOUNDED FOLLOWING) AS last_ok,
                     nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
                                                    ORDER BY o_orderdate, o_orderkey
                                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                                             AND UNBOUNDED FOLLOWING) AS second_ok,
                     lead(o_orderkey) OVER w AS next_ok
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    tags=("window", "analytics", "ntile"),
)
def window_analytics_full(spark, sf_dir):
    # The full analytic-function surface in one query: relative-position
    # functions (percent_rank, cume_dist — quantized to integer 1e-9
    # grid so the double ratios hash identically), equi-depth bucketing
    # (ntile), positional values over an unbounded frame
    # (first/last/nth), and lookahead (lead). One window spec = one
    # shuffle + one partition-local sort.
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w) * 1e9).cast("long").alias("pr_e9"),
        F.round(F.cume_dist().over(w) * 1e9).cast("long").alias("cd_e9"),
        F.ntile(4).over(w).cast("integer").alias("quartile"),
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(wfull).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_ok"),
        F.lead("o_orderkey").over(w).alias("next_ok"),
    )


@register(
    "incremental_rollup_merge",
    oracle="""SELECT o_orderpriority, COUNT(*) AS n_rows,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                       AS avg_value,
                     CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
                     CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_value
              FROM orders GROUP BY o_orderpriority""",
    tags=("incremental", "aggregate"),
)
def incremental_rollup_merge(spark, sf_dir):
    # Incremental-view maintenance: history (orders before 1998) was
    # rolled up once; the 1998+ delta arrives later and is merged as
    # mergeable state (operators/incremental.py) WITHOUT rescanning
    # history. The oracle is the full recompute — merge-of-parts must
    # equal it exactly, which is the associativity the state algebra
    # guarantees (sums in exact decimal).
    from ..operators.incremental import agg_state, finalize, merge_states

    o = _t(spark, sf_dir, "orders")
    hist = o.filter(F.col("o_orderdate") < "1998-01-01")
    delta = o.filter(F.col("o_orderdate") >= "1998-01-01")
    state = agg_state(hist, ["o_orderpriority"], "o_totalprice")
    state = merge_states(state, agg_state(delta, ["o_orderpriority"], "o_totalprice"),
                         ["o_orderpriority"])
    return finalize(state, ["o_orderpriority"])


@register(
    "window_rolling_median",
    oracle="""WITH r AS (
                SELECT o_custkey, o_orderkey,
                       median(CAST(o_totalprice AS DOUBLE)) OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_median,
                       ROW_NUMBER() OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS rn
                FROM orders)
              SELECT o_custkey, o_orderkey, roll_median FROM r WHERE rn >= 5""",
    tags=("window", "median"),
)
def window_rolling_median(spark, sf_dir):
    # Rolling 5-order median spend per customer. Restricted to full
    # 5-row frames so the median is a pure SELECTION (3rd of 5) — no
    # even-count interpolation, hence bit-exact across engines. Spark's
    # median aggregate rejects window frames, so the frame's 5 values
    # are collected, sorted, and indexed — O(frame) state per row, fine
    # for any constant frame width.
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    frame_vals = F.sort_array(
        F.collect_list(F.col("o_totalprice").cast("double")).over(
            w.rowsBetween(-4, 0)
        )
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.element_at(frame_vals, 3).alias("roll_median"),
            F.row_number().over(w).alias("__rn"),
        )
        .filter(F.col("__rn") >= 5)
        .drop("__rn")
    )


@register(
    "daily_orders_gapfilled",
    oracle="""WITH daily AS (
                SELECT date_trunc('day', o_orderdate) AS day, COUNT(*) AS n_orders,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
                FROM orders GROUP BY 1),
                   bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
                   spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
                             FROM bounds)
              SELECT spine.day AS day, COALESCE(n_orders, 0) AS n_orders,
                     CAST(COALESCE(rev, 0) AS DOUBLE) AS revenue
              FROM spine LEFT JOIN daily ON spine.day = daily.day""",
    tags=("timeseries", "gapfill"),
)
def daily_orders_gapfilled(spark, sf_dir):
    # Date-spine gap fill: a calendar spine (sequence+explode, no
    # driver loop) left-joined to the daily rollup so empty days emit
    # explicit zero rows — the shape behind every time-series dashboard
    # and the batch twin of streaming's "emit empty windows" concern.
    # The spine is tiny (one row per day) and broadcast; the rollup is
    # one map-side-combinable aggregation of the fact table.
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_money("o_totalprice")).alias("rev"),
    )
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("rev"), F.lit(0).cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "revenue_share_by_nation",
    oracle="""WITH rev AS (
                SELECT r_name, n_name,
                       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS nat_rev
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                GROUP BY 1, 2)
              SELECT r_name, n_name, CAST(nat_rev AS DOUBLE) AS nation_revenue,
                     CAST(nat_rev AS DOUBLE)
                       / CAST(SUM(nat_rev) OVER (PARTITION BY r_name) AS DOUBLE)
                       AS share_of_region,
                     CAST(ntile(4) OVER (PARTITION BY r_name
                                         ORDER BY nat_rev DESC, n_name)
                          AS INTEGER) AS revenue_quartile
              FROM rev""",
    tags=("window", "share", "ntile", "join"),
)
def revenue_share_by_nation(spark, sf_dir):
    # Percent-of-parent: each nation's revenue share inside its region,
    # plus its revenue quartile WITHIN the region (equi-depth ntile(4),
    # ties broken by name so both engines bucket identically).
    # The grouped sums stay in exact decimal through the window total
    # (order-invariant), doubles appear only in the final division —
    # one deterministic float op, identical in both engines. The window
    # runs over the ~25-row aggregate, never the fact table.
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum(_money("o_totalprice")).alias("nat_rev"))
    )
    w = Window.partitionBy("r_name")
    wq = Window.partitionBy("r_name").orderBy(
        F.col("nat_rev").desc(), F.col("n_name").asc()
    )
    return rev.select(
        "r_name",
        "n_name",
        F.col("nat_rev").cast("double").alias("nation_revenue"),
        (
            F.col("nat_rev").cast("double")
            / F.sum("nat_rev").over(w).cast("double")
        ).alias("share_of_region"),
        F.ntile(4).over(wq).cast("integer").alias("revenue_quartile"),
    )


@register(
    "asof_join_forward",
    oracle="""SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
                     p.value AS next_purchase_value
              FROM events e ASOF JOIN
                   (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                    FROM events WHERE event_type = 'purchase') p
                ON e.user_id = p.user_id AND CAST(e.ts AS TIMESTAMP) <= p.ts""",
    tags=("asof", "join", "forward"),
)
def asof_join_forward(spark, sf_dir):
    # Forward as-of: each event picks the user's NEXT purchase at or
    # after it — the attribution-lookahead twin of the backward join,
    # same single-shuffle window plan in descending time order.
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    j = asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["value"],
        direction="forward",
    )
    return j.select(
        "event_id", "user_id", "ts", F.col("r_value").alias("next_purchase_value")
    )


@register(
    "anomaly_hourly_counts",
    oracle="""WITH hc AS (
                SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                       COUNT(*) AS c
                FROM events GROUP BY 1, 2),
                   stats AS (
                SELECT event_type,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(c) AS BIGINT) AS s,
                       CAST(SUM(c * c) AS BIGINT) AS ssq
                FROM hc GROUP BY 1)
              SELECT hc.event_type, hr, CAST(c AS BIGINT) AS c
              FROM hc JOIN stats ON hc.event_type = stats.event_type
              WHERE (c * n - s) * (c * n - s) > 9 * (n * ssq - s * s)
                AND c * n > s""",
    tags=("anomaly", "agg"),
)
def anomaly_hourly_counts(spark, sf_dir):
    # Spike detection with ZERO floats: hours where the count exceeds
    # mean + 3σ of that event type's hourly distribution, via the
    # all-integer identity z² > 9 ⟺ (c·n − s)² > 9·(n·ssq − s²) — so a
    # statistical detector is exactly oracle-checked. (int64 is ample
    # here; at counts beyond ~3e9·hours the squares need DECIMAL(38).)
    ev = _t(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = hc.groupBy(F.col("event_type").alias("__et")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ssq"),
    )
    d = F.col("c") * F.col("n") - F.col("s")
    return (
        hc.join(F.broadcast(stats), hc["event_type"] == stats["__et"])
        .filter((d * d > 9 * (F.col("n") * F.col("ssq") - F.col("s") * F.col("s"))) & (d > 0))
        .select("event_type", "hr", F.col("c").cast("long").alias("c"))
    )


@register(
    "agg_two_stage_distinct",
    oracle="""SELECT l_returnflag,
                     CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
                     CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supps
              FROM lineitem GROUP BY l_returnflag""",
    tags=("agg", "distinct", "skew"),
)
def agg_two_stage_distinct(spark, sf_dir):
    # COUNT(DISTINCT) the scale-safe way: dedup on (key, value) first
    # (map-side combinable — the shuffle carries distinct pairs, not
    # rows), then count per key. Avoids the Expand-operator blowup of
    # multi-distinct aggregates: each distinct column deduped in its
    # own bounded aggregation, joined back on the group key.
    li = _t(spark, sf_dir, "lineitem")

    def nd(col, alias):
        return (
            li.select("l_returnflag", col).distinct()
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).cast("long").alias(alias))
        )
    return nd("l_partkey", "nd_parts").join(
        nd("l_suppkey", "nd_supps"), "l_returnflag"
    )


@register(
    "agg_percentile_disc",
    oracle="""SELECT o_orderpriority,
                     quantile_disc(o_totalprice, 0.25) AS p25,
                     quantile_disc(o_totalprice, 0.50) AS p50,
                     quantile_disc(o_totalprice, 0.90) AS p90
              FROM orders GROUP BY o_orderpriority""",
    tags=("aggregate", "percentile", "disc"),
)
def agg_percentile_disc(spark, sf_dir):
    # DISCRETE percentiles (SQL-standard PERCENTILE_DISC): the result
    # is an actual data value, not an interpolation — so unlike
    # continuous percentiles it is bit-exact across engines and fully
    # oracle-checkable (DuckDB quantile_disc picks the same element).
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__pdisc_orders")
    return spark.sql("""
        SELECT o_orderpriority,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_disc(0.90) WITHIN GROUP (ORDER BY o_totalprice) AS p90
        FROM __pdisc_orders GROUP BY o_orderpriority""")


@register(
    "agg_quantile_buckets_approx",
    oracle=None,
    tags=("aggregate", "approx", "ntile", "sketch"),
)
def agg_quantile_buckets_approx(spark, sf_dir):
    # The 100 TB decile formulation: approx_percentile boundary sketch
    # + broadcast value-bucketing (operators.bucket_by_quantiles) — no
    # range shuffle, no rank. Rows-only (sketch boundaries are
    # approximate by design); population tolerance and boundary
    # ordering are pytest-asserted against exact NTILE.
    from ..operators.relational import bucket_by_quantiles

    o = _t(spark, sf_dir, "orders").select("o_totalprice")
    d = bucket_by_quantiles(o, "o_totalprice", n_buckets=10)
    return d.groupBy(F.col("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(_money("o_totalprice")).cast("double").alias("lo"),
        F.max(_money("o_totalprice")).cast("double").alias("hi"),
    )


_WEIGHTED_SPS_SQL = """
WITH e AS (
  SELECT doc_id, lang, length(text) AS n_chars
  FROM documents WHERE length(text) > 0),
k AS (
  SELECT doc_id, lang, n_chars,
         ((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|w0'),
                                     1, 13)) AS BIGINT) AS DOUBLE) + 0.5)
          / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS key
  FROM e)
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY key ASC, doc_id ASC) AS rk
  FROM k) t
WHERE rk <= 20"""


@register(
    "sample_weighted_k_per_group",
    oracle=_WEIGHTED_SPS_SQL,
    tags=("sampling", "weighted"),
)
def sample_weighted_k_per_group(spark, sf_dir):
    # Deterministic weighted sampling, ORACLED (round 12 — was rows-
    # only since r8): 20 docs per language, inclusion odds proportional
    # to document length, via sequential Poisson sampling in the
    # md5-pinned mode. The draw is u/w where u comes exactly from 13
    # md5 hex digits (52 bits — u, u+0.5, /2^52 all exact in binary64)
    # and the division is one correctly-rounded IEEE op, so DuckDB
    # replays every key bit-for-bit and the value-hash grades the
    # SAMPLER, not a proxy. Efraimidis-Spirakis (mode="es", xxhash64 +
    # ln) stays the scale default in functions/sampling.py; its ln()
    # has no cross-engine bit guarantee, which is exactly what kept
    # this row rows-only before. Weight-monotonicity and determinism
    # for BOTH modes are pytest-asserted (tests/test_sampling.py).
    from ..functions.sampling import weighted_sample_k_per_group

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    )
    return weighted_sample_k_per_group(
        d, group_col="lang", id_col="doc_id", weight_col="n_chars", k=20,
        mode="sps_md5",
    )


@register(
    "lake_time_travel",
    oracle="""SELECT o_orderkey, o_totalprice
              FROM orders WHERE o_orderkey % 2 = 0""",
    tags=("lake", "time_travel", "versioned"),
)
def lake_time_travel(spark, sf_dir):
    # Versioned-table time travel, driver-graded: append v1 (even
    # keys), overwrite with v2 (a DIFFERENT slice), and read BACK v1 by
    # pinned version number. The oracle recomputes v1's slice directly
    # — so the row passes only if the pinned read really returns the
    # old immutable snapshot, not the latest write
    # (txlog.read_snapshot(version=)). The fixture path is keyed on
    # sf_dir and REUSED: repeated invocations (plan audits, bench
    # reruns, regrades) read the existing versions instead of leaking
    # a fresh temp dir and two write jobs per call.
    import hashlib
    import os
    import shutil
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    t = os.path.join(tempfile.gettempdir(), f"lake_tt_{tag}", "orders_tx")
    if len(txlog.log_versions(t)) < 2:
        # rebuild from scratch so version 1 is ALWAYS the even-keys
        # slice (a crashed partial run must not shift the numbering)
        shutil.rmtree(t, ignore_errors=True)
        txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 0), t)  # v1
        txlog.tx_overwrite(spark, t, o.filter(F.col("o_orderkey") % 3 == 0))
    return txlog.read_snapshot(spark, t, version=1)


# --------------------------------------------------------------------------
# Per-group linear trend (regression slope), all-integer exact sums.
# The anomaly query's zero-float discipline applied to OLS: x = epoch
# seconds since 2024-01-01 (BIGINT), y = value in cents (exact via
# DECIMAL), all five sufficient statistics are int64 sums, and the
# slope is one double division of identical integers on both engines —
# so a *regression* is value-hash exact. num/den stay within int64 at
# the fixtures' ranges (30-day x-span, <=1k rows/user; den <= ~3e18).
# --------------------------------------------------------------------------
@register(
    "trend_slope_per_user",
    oracle="""WITH p AS (
                SELECT user_id,
                       CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                         - 1704067200 AS x,
                       CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
                FROM events),
                   s AS (
                SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx
                FROM p GROUP BY 1),
                   sl AS (
                SELECT user_id, n,
                       CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE)
                         AS slope_cents_per_s
                FROM s WHERE n * sxx - sx * sx <> 0)
              SELECT user_id, n, slope_cents_per_s,
                     CAST(ntile(4) OVER (ORDER BY slope_cents_per_s,
                                         user_id) AS INTEGER)
                       AS slope_quartile
              FROM sl""",
    tags=("aggregate", "regression", "timeseries", "ntile"),
)
def trend_slope_per_user(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    p = e.select(
        "user_id",
        (F.unix_timestamp("ts") - F.lit(1704067200)).alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("y"),
    )
    s = p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    sl = s.filter(den != 0).select(
        "user_id",
        "n",
        (num.cast("double") / den.cast("double")).alias(
            "slope_cents_per_s"
        ),
    )
    # slope QUARTILES (exact NTILE(4) over the bit-exact slope,
    # user_id tiebreak) via the range-partitioned distributed ntile —
    # never a single-partition global window
    from ..operators import ntile_distributed

    return ntile_distributed(
        sl,
        [F.col("slope_cents_per_s"), F.col("user_id")],
        4,
        out_col="slope_quartile",
    )


# --------------------------------------------------------------------------
# Array / higher-order function surface, exercised as a graded query
# (the engine uses these internally everywhere — minhash, chunking,
# BPE; this registers the surface itself against DuckDB's list
# functions). Sort-sensitive columns restrict to [a-z0-9] tokens so
# both engines order identically (binary codepoint order).
# --------------------------------------------------------------------------
@register(
    "array_functions",
    oracle=r"""WITH d AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                   x -> x <> '' AND regexp_matches(x, '^[a-z0-9]+$'))
                         AS t
                FROM documents)
              SELECT doc_id,
                     CAST(len(t) AS INTEGER) AS n_tokens,
                     CAST(COALESCE(list_max(list_transform(t, x -> length(x))), 0)
                          AS INTEGER) AS max_tok_len,
                     CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
                          AS BIGINT) AS sum_tok_len,
                     array_to_string(list_sort(t)[1:3], '-') AS first3_sorted,
                     list_contains(t, 'the') AS has_the,
                     CAST(len(list_distinct(t)) AS INTEGER) AS n_distinct
              FROM d""",
    tags=("functions", "array", "hof"),
)
def array_functions(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda x: (x != "") & x.rlike("^[a-z0-9]+$"),
    )
    lens = F.transform(F.col("t"), F.length)
    return d.select(F.col("doc_id"), t.alias("t")).select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.coalesce(F.array_max(lens), F.lit(0)).cast("int").alias("max_tok_len"),
        F.aggregate(
            lens, F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("sum_tok_len"),
        F.concat_ws("-", F.slice(F.sort_array(F.col("t")), 1, 3)).alias(
            "first3_sorted"
        ),
        F.array_contains(F.col("t"), "the").alias("has_the"),
        F.size(F.array_distinct(F.col("t"))).alias("n_distinct"),
    )


@register(
    "regex_functions",
    oracle=r"""SELECT doc_id,
                     CAST(len(regexp_extract_all(text, '[aeiou]+')) AS INTEGER)
                       AS n_vowel_runs,
                     regexp_extract(text, '[0-9]+') AS first_number,
                     regexp_replace(lower(text), '\s+', '_', 'g') AS snake,
                     regexp_matches(text, '^[A-Z]') AS starts_upper
              FROM documents""",
    tags=("functions", "regex"),
)
def regex_functions(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[aeiou]+"), F.lit(0))
        ).alias("n_vowel_runs"),
        F.regexp_extract(F.col("text"), "[0-9]+", 0).alias("first_number"),
        F.regexp_replace(F.lower(F.col("text")), r"\s+", "_").alias("snake"),
        F.col("text").rlike("^[A-Z]").alias("starts_upper"),
    )


@register(
    "winsorize_prices",
    oracle="""WITH q AS (
                SELECT quantile_cont(l_extendedprice, 0.01) AS p01,
                       quantile_cont(l_extendedprice, 0.99) AS p99
                FROM lineitem)
              SELECT l_orderkey, l_linenumber,
                     GREATEST(p01, LEAST(p99, l_extendedprice)) AS price_w,
                     (l_extendedprice < p01 OR l_extendedprice > p99) AS clipped
              FROM lineitem CROSS JOIN q""",
    tags=("aggregate", "percentile", "cleaning"),
)
def winsorize_prices(spark, sf_dir):
    # Winsorization (P1/P99 clamp) — the outlier-trimming pass of a
    # numeric cleaning pipeline. Spark's percentile() interpolates
    # identically to DuckDB's quantile_cont (proven by agg_percentiles'
    # value-hash), so the clamp bounds — and therefore every clamped
    # value — are engine-exact. The percentile is ONE mergeable
    # aggregation; the clamp is a scan-fused projection against the
    # broadcast bounds; nothing reshuffles the fact table.
    li = _t(spark, sf_dir, "lineitem")
    q = li.agg(
        F.percentile("l_extendedprice", 0.01).alias("p01"),
        F.percentile("l_extendedprice", 0.99).alias("p99"),
    )
    return li.crossJoin(F.broadcast(q)).select(
        "l_orderkey",
        "l_linenumber",
        F.greatest(F.col("p01"), F.least(F.col("p99"), F.col("l_extendedprice"))).alias(
            "price_w"
        ),
        (
            (F.col("l_extendedprice") < F.col("p01"))
            | (F.col("l_extendedprice") > F.col("p99"))
        ).alias("clipped"),
    )


# --------------------------------------------------------------------------
# Type-2 slowly-changing dimension (operators/cdc.py scd2_history): the
# mutation-history surface the reference (SELECT-only,
# /root/reference/README.md:65-81) has no answer to. Each user's
# event_type stream collapses into minimal validity intervals; every
# window is PARTITIONED BY user_id, so the plan is one shuffle on the
# key and holds at any corpus size.
# --------------------------------------------------------------------------
@register(
    "scd2_user_state",
    oracle="""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                                event_type
                         FROM events),
                   m AS (SELECT user_id, event_id, ts, event_type,
                                CASE WHEN ROW_NUMBER() OVER w = 1
                                       OR LAG(event_type) OVER w
                                          IS DISTINCT FROM event_type
                                     THEN 1 ELSE 0 END AS is_start
                         FROM e
                         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
                   s AS (SELECT user_id, event_id, ts, event_type
                         FROM m WHERE is_start = 1)
              SELECT user_id, event_type, ts AS valid_from,
                     LEAD(ts) OVER w2 AS valid_to,
                     LEAD(ts) OVER w2 IS NULL AS is_current
              FROM s
              WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    tags=("cdc", "scd2", "window", "events"),
)
def scd2_user_state(spark, sf_dir):
    from ..operators.cdc import scd2_history

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    return scd2_history(
        ev,
        keys=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak=["event_id"],
    )


# --------------------------------------------------------------------------
# File-level data skipping (txlog.tx_read_skipping): Delta/Iceberg-style
# min/max pruning. The query appends orders range-clustered on
# o_orderdate with per-file stats riding the commit, then answers a
# one-year question opening only the files whose ranges overlap. The
# oracle is the SAME question as a full-scan filter — pruning must be
# semantically invisible, which is exactly what the value-hash asserts.
# --------------------------------------------------------------------------
@register(
    "lake_skipping_scan",
    oracle="""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
                     COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                AND o_orderdate <= TIMESTAMP '1995-12-31 23:59:59'
              GROUP BY 1""",
    tags=("lake", "data-skipping", "source"),
)
def lake_skipping_scan(spark, sf_dir):
    import datetime as _dt
    import tempfile

    from ..sources import txlog

    # order dates are whole days; stored as DATE because Spark writes
    # TIMESTAMP as INT96, whose footer stats pyarrow cannot decode
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    t = tempfile.mkdtemp(prefix="lake_skip_") + "/orders"
    txlog.tx_append(
        o.repartitionByRange(8, "o_orderdate").sortWithinPartitions(
            "o_orderdate"
        ),
        t,
        stats_cols=["o_orderdate"],
    )
    lo, hi = _dt.date(1995, 1, 1), _dt.date(1995, 12, 31)
    pruned, n_read, n_total = txlog.tx_read_skipping(
        spark, t, "o_orderdate", lo, hi
    )
    assert n_read < n_total, "range-clustered write must enable pruning"
    return pruned.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mon")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents"),
    )


# --------------------------------------------------------------------------
# Bloom-sidecar point lookup (sources/lake.py write_bloom_manifest/
# read_point_lookup): equality probes on an UNCLUSTERED key, where
# min/max stats prune nothing. The oracle is the plain equality
# filter — Bloom pruning must be semantically invisible (filters prove
# absence only; false positives cost I/O, never rows).
# --------------------------------------------------------------------------
@register(
    "lake_bloom_point_lookup",
    oracle="""SELECT o_orderkey, o_custkey, o_orderstatus
              FROM orders WHERE o_orderkey = 32""",
    tags=("lake", "bloom", "data-skipping", "source"),
)
def lake_bloom_point_lookup(spark, sf_dir):
    import tempfile

    from ..sources.lake import read_point_lookup, write_bloom_manifest

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    t = tempfile.mkdtemp(prefix="lake_bloom_") + "/orders"
    # hash-spread on a DIFFERENT column: the lookup key is deliberately
    # unclustered, the worst case for range stats
    o.repartition(12, "o_custkey").write.parquet(t)
    write_bloom_manifest(spark, t, "o_orderkey")
    pruned, n_read, n_total = read_point_lookup(spark, t, "o_orderkey", 32)
    assert n_read < n_total, "bloom sidecar must prune an equality probe"
    return pruned


# --------------------------------------------------------------------------
# Targeted key deletion (txlog.tx_delete_where): the GDPR / opt-out purge
# path — locate victim files by pushed-down IN probe, rewrite ONLY those
# files, and commit the swap with fresh stats for the rewrites. The
# oracle is the logical NOT IN filter over the original data: the
# physical locate/rewrite/commit must be semantically invisible.
# --------------------------------------------------------------------------
@register(
    "lake_delete_keys",
    oracle="""SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE o_custkey NOT IN (7, 13, 101, 202, 303, 404, 505)
              GROUP BY 1""",
    tags=("lake", "delete", "cdc", "pipeline"),
)
def lake_delete_keys(spark, sf_dir):
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    t = tempfile.mkdtemp(prefix="lake_delete_") + "/orders"
    # cluster on the DELETE key so the locate probe's pushdown prunes:
    # victims concentrate in few files, the rewrite is O(those files)
    txlog.tx_append(
        o.repartitionByRange(12, "o_custkey").sortWithinPartitions("o_custkey"),
        t,
        stats_cols=["o_custkey"],
    )
    n_total = len(txlog.snapshot_files(t)[1])
    victims = [7, 13, 101, 202, 303, 404, 505]
    _, n_rewritten = txlog.tx_delete_where(
        spark, t, f"o_custkey IN ({', '.join(map(str, victims))})",
        stats_cols=["o_custkey"],
    )
    assert n_rewritten < n_total, "clustered victims must touch few files"
    after = txlog.read_snapshot(spark, t)
    assert after.filter(F.col("o_custkey").isin(victims)).count() == 0
    return after.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )


# --------------------------------------------------------------------------
# Transactional multi-writer lake (sources/txlog.py): optimistic CAS
# commits over an append-only log, the Delta protocol. The queries below
# drive REAL concurrent writers (threads) and time travel; the
# concurrency-semantics matrix (conflicts, retries, isolation) is
# tests/test_txlog.py.
# --------------------------------------------------------------------------
@register(
    "lake_tx_multiwriter_snapshot",
    oracle="""SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE NOT COALESCE(o_totalprice < 1000.0, FALSE)
              GROUP BY o_orderstatus""",
    tags=("lake", "merge", "versioned", "groupby", "acid"),
)
def lake_tx_multiwriter_snapshot(spark, sf_dir):
    # Three CONCURRENT writers append disjoint slices (appends commute,
    # so the interleaving is irrelevant to the final state), then a
    # transactional row-level delete and a compaction land on top. The
    # oracle is the declarative equivalent over the source table — the
    # whole commit protocol must be semantically invisible.
    import tempfile
    import threading

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = tempfile.mkdtemp(prefix="lake_tx_") + "/orders"
    errs: list[Exception] = []

    def _append(mod: int) -> None:
        try:
            txlog.tx_append(o.filter(F.col("o_orderkey") % 3 == mod), t)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=_append, args=(m,)) for m in range(3)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    assert txlog.log_versions(t) == [1, 2, 3], "appends must all land"
    txlog.tx_delete_where(spark, t, "o_totalprice < 1000.0")
    txlog.tx_compact(spark, t, num_files=4)
    snap = txlog.read_snapshot(spark, t)
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )


@register(
    "lake_tx_history_counts",
    oracle="""WITH v1 AS (SELECT COUNT(*) AS n FROM customer
                          WHERE c_custkey % 3 = 0),
                   v2 AS (SELECT COUNT(*) AS n FROM customer
                          WHERE c_custkey % 3 IN (0, 1)),
                   v3 AS (SELECT COUNT(*) AS n FROM customer),
                   v4 AS (SELECT COUNT(*) AS n FROM customer
                          WHERE NOT COALESCE(c_acctbal < 0.0, FALSE))
              SELECT 1 AS version, n FROM v1
              UNION ALL SELECT 2, n FROM v2
              UNION ALL SELECT 3, n FROM v3
              UNION ALL SELECT 4, n FROM v4
              UNION ALL SELECT 5, n FROM v4""",
    tags=("lake", "time-travel", "versioned", "acid"),
)
def lake_tx_history_counts(spark, sf_dir):
    # Row count at EVERY committed version of a transactional table —
    # append, append, append, delete, compact — via snapshot-pinned
    # time travel over the commit log. Compaction (v5) must be
    # invisible to row counts.
    import tempfile
    from functools import reduce

    from ..sources import txlog

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    t = tempfile.mkdtemp(prefix="lake_txh_") + "/customer"
    txlog.tx_append(c.filter(F.col("c_custkey") % 3 == 0), t)
    txlog.tx_append(c.filter(F.col("c_custkey") % 3 == 1), t)
    txlog.tx_append(c.filter(F.col("c_custkey") % 3 == 2), t)
    txlog.tx_delete_where(spark, t, "c_acctbal < 0.0")
    txlog.tx_compact(spark, t, num_files=2)
    per_version = [
        txlog.read_snapshot(spark, t, version=v).agg(
            F.lit(v).cast("int").alias("version"),
            F.count(F.lit(1)).alias("n"),
        )
        for v in txlog.log_versions(t)
    ]
    return reduce(lambda a, b: a.unionByName(b), per_version)


@register(
    "lake_tx_skipping_scan",
    oracle="""SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE o_totalprice >= 50000.0 AND o_totalprice <= 150000.0
                AND NOT COALESCE(o_totalprice < 1000.0, FALSE)
              GROUP BY o_orderstatus""",
    tags=("lake", "data-skipping", "versioned", "groupby", "acid"),
)
def lake_tx_skipping_scan(spark, sf_dir):
    # ACID and data skipping COMPOSING (txlog.tx_read_skipping):
    # per-file min/max stats ride the same atomic commit as the file
    # list — append and delete-rewrite commits each record stats for
    # the files they add — so a snapshot read prunes files from the
    # log itself, with no sidecar manifest that can go stale. Three
    # price-banded appends, a transactional low-band delete, then a
    # mid-band range scan that must open fewer files than live.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = tempfile.mkdtemp(prefix="lake_txs_") + "/orders"
    bands = [
        F.col("o_totalprice") < 50000.0,
        (F.col("o_totalprice") >= 50000.0)
        & (F.col("o_totalprice") < 150000.0),
        F.col("o_totalprice") >= 150000.0,
    ]
    for pred in bands:
        txlog.tx_append(
            o.filter(pred), t, stats_cols=["o_totalprice"]
        )
    txlog.tx_delete_where(
        spark, t, "o_totalprice < 1000.0", stats_cols=["o_totalprice"]
    )
    df, n_read, n_total = txlog.tx_read_skipping(
        spark, t, "o_totalprice", lo=50000.0, hi=150000.0
    )
    assert n_read < n_total, "low-band files must be pruned by log stats"
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )


@register(
    "lake_tx_zorder_skipping",
    oracle="""SELECT COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE o_custkey >= 100 AND o_custkey <= 300""",
    tags=("lake", "data-skipping", "versioned", "zorder", "acid"),
)
def lake_tx_zorder_skipping(spark, sf_dir):
    # OPTIMIZE-ZORDER as ONE ATOMIC COMMIT (txlog.tx_compact with
    # zorder_by + stats_cols): two unclustered appends leave every
    # file spanning the full custkey range (nothing prunes); the
    # z-clustering compaction rewrites the snapshot on the
    # (o_custkey, o_totalprice) curve and its commit carries fresh
    # per-file stats, after which a custkey range scan must open
    # fewer files — transactional multi-dimensional data skipping.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = tempfile.mkdtemp(prefix="lake_txz_") + "/orders"
    txlog.tx_append(
        o.filter(F.col("o_orderkey") % 2 == 0).repartition(4), t,
        stats_cols=["o_custkey"],
    )
    txlog.tx_append(
        o.filter(F.col("o_orderkey") % 2 == 1).repartition(4), t,
        stats_cols=["o_custkey"],
    )
    _, n_before, total_before = txlog.tx_read_skipping(
        spark, t, "o_custkey", lo=100, hi=300
    )
    assert n_before == total_before, "unclustered files must not prune"
    txlog.tx_compact(
        spark, t, num_files=8, stats_cols=["o_custkey", "o_totalprice"],
        zorder_by=["o_custkey", "o_totalprice"],
    )
    df, n_read, n_total = txlog.tx_read_skipping(
        spark, t, "o_custkey", lo=100, hi=300
    )
    assert n_read < n_total, "z-clustered files must prune on custkey"
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )


@register(
    "lake_tx_point_lookup",
    oracle="""SELECT o_orderkey, o_custkey, o_orderstatus,
                     CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders
              WHERE o_orderkey = (SELECT MIN(o_orderkey) + 42
                                  FROM orders
                                  WHERE o_orderkey % 4 = 2)
                 OR o_orderkey = (SELECT MIN(o_orderkey)
                                  FROM orders
                                  WHERE o_orderkey % 4 = 2)""",
    tags=("lake", "bloom", "data-skipping", "source", "versioned", "point-lookup", "acid"),
)
def lake_tx_point_lookup(spark, sf_dir):
    # Needle-in-haystack WHERE id = ? through BLOOM SIDECARS RIDING
    # COMMITS (txlog.tx_append(bloom_cols=...) + tx_point_lookup):
    # four hash-sliced appends leave every file spanning the full
    # orderkey range — min/max stats prune NOTHING for equality — but
    # each append's commit carries per-file Bloom filters, so the
    # lookup opens only the files whose filter admits the key (false
    # positives cost one scan, never a wrong row). The probe keys are
    # derived from the data (min of one hash slice) so the query is
    # scale-factor-independent.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    t = tempfile.mkdtemp(prefix="lake_txb_") + "/orders"
    for mod in range(4):
        txlog.tx_append(
            o.filter(F.col("o_orderkey") % 4 == mod).repartition(3),
            t, bloom_cols=["o_orderkey"],
        )
    base = o.filter(F.col("o_orderkey") % 4 == 2).agg(
        F.min("o_orderkey")
    ).head()[0]
    keys = [int(base), int(base) + 42]
    parts = []
    files_read = files_total = 0
    for k in keys:
        df, n_read, n_total = txlog.tx_point_lookup(
            spark, t, "o_orderkey", k
        )
        parts.append(df)
        files_read += n_read
        files_total += n_total
    assert files_total == 24 and files_read < files_total // 2, (
        "bloom filters must prune most files per probe",
        files_read, files_total,
    )
    out = parts[0].unionByName(parts[1])
    return out.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )


@register(
    "lake_tx_restore_counts",
    oracle="""SELECT c_mktsegment, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM customer
              GROUP BY c_mktsegment""",
    tags=("lake", "time-travel", "versioned", "groupby", "acid"),
)
def lake_tx_restore_counts(spark, sf_dir):
    # RESTORE as a NEW COMMIT (txlog.tx_restore — Delta's RESTORE
    # semantics): three appends build the table, a transactional
    # delete drops every negative-balance customer, then restore
    # rolls the table back to the pre-delete version WITHOUT
    # rewriting history (the delete's version stays readable; the
    # restore is itself versioned). The oracle is the plain aggregate
    # over the source table — the delete+restore round trip must be
    # exactly invisible, including NULL-balance rows the delete's
    # 3VL predicate never touched.
    import tempfile

    from ..sources import txlog

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    t = tempfile.mkdtemp(prefix="lake_txr_") + "/customer"
    for mod in range(3):
        txlog.tx_append(c.filter(F.col("c_custkey") % 3 == mod), t)
    pre = txlog.log_versions(t)[-1]
    txlog.tx_delete_where(spark, t, "c_acctbal < 0.0")
    n_deleted_at = txlog.read_snapshot(spark, t, version=pre + 1).count()
    v = txlog.tx_restore(t, pre)
    assert v == pre + 2, "restore must be a new commit, not a rewrite"
    assert txlog.read_snapshot(spark, t, version=pre + 1).count() == (
        n_deleted_at
    ), "history must stay readable after restore"
    return txlog.read_snapshot(spark, t).groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("c_acctbal") * 100).cast("long")).alias(
            "cents"
        ),
    )


@register(
    "mv_txlog_ivm",
    oracle="""SELECT o_orderpriority, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS sum_cents,
                     MIN(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                         AS min_cents,
                     MAX(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                         AS max_cents
              FROM orders
              WHERE NOT COALESCE(o_totalprice >= 400000.0, FALSE)
              GROUP BY o_orderpriority""",
    tags=("mv", "rollup", "aggregate", "lake", "versioned", "groupby", "cdc", "ivm"),
)
def mv_txlog_ivm(spark, sf_dir):
    # INCREMENTAL VIEW MAINTENANCE DRIVEN BY THE TRANSACTION LOG
    # (operators/mv.mv_sync_txlog): a rollup is defined on the first
    # half of the table, then a second append and a transactional
    # DELETE land, and the view catches up by folding the log's change
    # feed — signed sums/counts, emptied-group eviction, min/max
    # recomputed only for delete-touched groups. The oracle is the
    # full aggregate over the final state: sync-then-answer must equal
    # define-on-current-snapshot EXACTLY, at CDC cost instead of a
    # table rescan.
    import tempfile

    from ..operators.mv import define_mv, mv_answer, mv_sync_txlog
    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_totalprice",
    )
    base = tempfile.mkdtemp(prefix="mv_ivm_")
    t, p = base + "/orders", base + "/mv"
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 0), t)
    define_mv(
        txlog.read_snapshot(spark, t), p, ["o_orderpriority"],
        {
            "n": ("count", "cents"),
            "sum_cents": ("sum", "cents"),
            "min_cents": ("min", "cents"),
            "max_cents": ("max", "cents"),
        },
        synced_version=txlog.log_versions(t)[-1],
    )
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 1), t)
    # the delete hits every group's maximum -> exercises the
    # touched-group min/max recompute, not just signed folding
    txlog.tx_delete_where(spark, t, "o_totalprice >= 400000.0")
    mv_sync_txlog(spark, p, t)
    return mv_answer(
        spark, p, ["o_orderpriority"],
        {
            "n": ("count", "cents"),
            "sum_cents": ("sum", "cents"),
            "min_cents": ("min", "cents"),
            "max_cents": ("max", "cents"),
        },
    )


@register(
    "lake_tx_update_where",
    oracle="""WITH u AS (
                SELECT CASE WHEN o_totalprice < 50000.0
                            THEN LOWER(o_orderstatus)
                            ELSE o_orderstatus END AS st,
                       CASE WHEN o_totalprice < 50000.0
                            THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                                 + LENGTH(o_orderstatus)
                            ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                            END AS cents
                FROM orders)
              SELECT st, COUNT(*) AS n,
                     CAST(SUM(cents) AS BIGINT) AS total_cents
              FROM u GROUP BY st""",
    tags=("lake", "update", "versioned", "groupby", "acid"),
)
def lake_tx_update_where(spark, sf_dir):
    # Transactional row-level UPDATE (txlog.tx_update_where,
    # copy-on-write): cheap orders get their status lowercased AND
    # their cents bumped by the length of the PRE-update status — the
    # oracle's CASE expressions check simultaneous-assignment
    # semantics (every SET expression sees pre-update values), 3VL
    # (NULL prices are never predicate-true), and that only hit files
    # were rewritten.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    t = tempfile.mkdtemp(prefix="lake_txu_") + "/orders"
    # price-banded appends so the update's hit set is a strict subset
    # of the live files (the cheap band plus the boundary file)
    txlog.tx_append(
        o.filter(F.col("o_totalprice") < 100000.0).repartition(3), t
    )
    txlog.tx_append(
        o.filter(
            (F.col("o_totalprice") >= 100000.0)
            | F.col("o_totalprice").isNull()
        ).repartition(3),
        t,
    )
    _, n_rewritten = txlog.tx_update_where(
        spark, t, "o_totalprice < 50000.0",
        {
            "o_orderstatus": "lower(o_orderstatus)",
            "cents": "cents + length(o_orderstatus)",
        },
    )
    assert 0 < n_rewritten <= 3, (
        "update must rewrite only the cheap band's files", n_rewritten
    )
    return txlog.read_snapshot(spark, t).groupBy(
        F.col("o_orderstatus").alias("st")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
    )


@register(
    "lake_tx_merge_upsert",
    oracle="""WITH base AS (
                SELECT c_custkey, c_nationkey,
                       CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal_cents
                FROM customer),
              src AS (
                SELECT o_custkey AS c_custkey,
                       CAST(-1 AS BIGINT) AS c_nationkey,
                       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS bal_cents
                FROM orders GROUP BY o_custkey),
              merged AS (
                SELECT * FROM src
                UNION ALL
                SELECT b.* FROM base b
                WHERE b.c_custkey NOT IN (SELECT c_custkey FROM src))
              SELECT c_nationkey, COUNT(*) AS n,
                     CAST(SUM(bal_cents) AS BIGINT) AS total_cents
              FROM merged GROUP BY c_nationkey""",
    tags=("lake", "merge", "versioned", "cdc", "acid"),
)
def lake_tx_merge_upsert(spark, sf_dir):
    # Transactional MERGE (txlog.tx_merge_upsert): the customer base
    # lands as a multi-file table, then an orders-derived summary feed
    # upserts it — matched custkeys are replaced (only their files
    # rewritten), unmatched insert — in ONE atomic commit. The oracle
    # is the declarative merge (source wins, else base), so the
    # file-level rewrite protocol must be semantically invisible.
    import tempfile

    from ..sources import txlog

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    src = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.lit(-1).cast("long").alias("c_nationkey"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "bal_cents"
            ),
        )
    )
    t = tempfile.mkdtemp(prefix="lake_txm_") + "/customer"
    txlog.tx_append(c.repartition(6), t)
    v, rewritten = txlog.tx_merge_upsert(spark, t, src, keys=["c_custkey"])
    assert rewritten >= 1
    return txlog.read_snapshot(spark, t).groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bal_cents").alias("total_cents"),
    )


@register(
    "lake_tx_change_feed",
    oracle="""WITH deleted AS (
                SELECT c_custkey FROM customer WHERE c_acctbal < 0.0),
              updated AS (
                SELECT c_custkey FROM customer
                WHERE NOT COALESCE(c_acctbal < 0.0, FALSE)
                  AND c_custkey % 100 = 0)
              SELECT 'delete' AS change_type,
                     (SELECT COUNT(*) FROM deleted)
                     + (SELECT COUNT(*) FROM updated) AS n
              UNION ALL
              SELECT 'insert', (SELECT COUNT(*) FROM updated)""",
    tags=("lake", "cdc", "versioned", "acid", "cdc-feed"),
)
def lake_tx_change_feed(spark, sf_dir):
    # Change Data Feed derived from the commit log (txlog.tx_changes):
    # after the initial load, a delete and a merge land; the feed for
    # (v1, head] must contain exactly the delete's rows as deletes and
    # the merge's updates as delete+insert pairs — and compaction must
    # contribute nothing. The oracle states the same change counts
    # declaratively.
    import tempfile

    from ..sources import txlog

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    t = tempfile.mkdtemp(prefix="lake_txc_") + "/customer"
    txlog.tx_append(c.repartition(4), t)
    txlog.tx_delete_where(spark, t, "c_acctbal < 0.0")
    upd = (
        c.filter(
            ~F.coalesce(F.col("c_acctbal") < 0.0, F.lit(False))
            & (F.col("c_custkey") % 100 == 0)
        )
        .withColumn("c_acctbal", F.col("c_acctbal") + 1.0)
    )
    txlog.tx_merge_upsert(spark, t, upd, keys=["c_custkey"])
    txlog.tx_compact(spark, t, num_files=2)
    ch = txlog.tx_changes(spark, t, from_version=1)
    return (
        ch.groupBy(F.col("_change_type").alias("change_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "lake_tx_update_cdf_images",
    oracle="""SELECT 'insert' AS change_type, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM customer
              UNION ALL
              SELECT 'update_preimage', COUNT(*),
                     CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT))
                          AS BIGINT)
              FROM customer WHERE c_acctbal < 0.0
              UNION ALL
              SELECT 'update_postimage', COUNT(*), CAST(0 AS BIGINT)
              FROM customer WHERE c_acctbal < 0.0""",
    tags=("lake", "cdc", "cdc-feed", "versioned", "acid", "update",
          "groupby"),
)
def lake_tx_update_cdf_images(spark, sf_dir):
    # Delta's UPDATE change-data encoding, end to end: the initial
    # load streams as inserts; an UPDATE written with write_cdc=True
    # serves its predicate rows as an update_preimage /
    # update_postimage pair from the commit's change-data sidecar —
    # not as an anonymous delete+insert. The oracle restates each
    # change class declaratively: preimages carry the pre-update
    # cents, postimages the zeroed balance, and counts pair up
    # exactly (no row dropped, duplicated, or mislabeled).
    import tempfile

    from ..sources import txlog

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    t = tempfile.mkdtemp(prefix="lake_txu_") + "/customer"
    txlog.tx_append(c.repartition(4), t)
    txlog.tx_update_where(
        spark, t, "c_acctbal < 0.0", {"c_acctbal": "0.0"}, write_cdc=True
    )
    ch = txlog.tx_changes(spark, t, from_version=0)
    return (
        ch.groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )


@register(
    "lake_tx_clone_divergence",
    oracle="""SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE o_orderkey % 2 = 0
                AND NOT COALESCE(o_totalprice < 50000.0, FALSE)
              GROUP BY o_orderstatus""",
    tags=("lake", "clone", "versioned", "acid", "groupby", "time_travel"),
)
def lake_tx_clone_divergence(spark, sf_dir):
    # Zero-copy CLONE of a historical version: the source lands two
    # appends, the clone pins VERSION 1 (evens only) through hard
    # links — asserted in-query: a cloned file shares its inode with
    # the source, no bytes copied — then the two tables DIVERGE with
    # opposite deletes. The clone's final state (evens, cheap rows
    # deleted) is what the oracle recomputes; the source's own delete
    # proves isolation by not contaminating it.
    import os as _os
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="lake_txclone_")
    t, dst = base + "/orders", base + "/clone"
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 0), t)
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 1), t)
    txlog.tx_clone(t, dst, version=1)
    rel = txlog.snapshot_files(dst)[1][0]
    assert _os.stat(_os.path.join(dst, rel)).st_nlink >= 2, (
        "clone must hard-link, not copy"
    )
    txlog.tx_delete_where(spark, dst, "o_totalprice < 50000.0")
    txlog.tx_delete_where(spark, t, "o_totalprice >= 50000.0")
    return txlog.read_snapshot(spark, dst).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )


@register(
    "lake_tx_check_constraints",
    oracle="""SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders GROUP BY o_orderstatus""",
    tags=("lake", "dq", "constraints", "acid", "versioned", "groupby"),
)
def lake_tx_check_constraints(spark, sf_dir):
    # CHECK constraints on the transactional table (Delta's ALTER
    # TABLE ADD CONSTRAINT): a constraint lands as a metadata commit
    # after validating existing data, a CORRUPTED batch (negated
    # prices) is rejected before anything stages — asserted in-query,
    # including that the log head did not move — and the clean batch
    # lands. The final table therefore equals the source exactly,
    # which is what the oracle states.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = tempfile.mkdtemp(prefix="lake_txck_") + "/orders"
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 0), t)
    txlog.tx_set_constraint(spark, t, "price_pos", "o_totalprice > 0.0")
    head = txlog.log_versions(t)[-1]
    corrupt = o.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_totalprice", -F.abs(F.col("o_totalprice"))
    )
    rejected = False
    try:
        txlog.tx_append(corrupt, t)
    except ValueError:
        rejected = True
    assert rejected and txlog.log_versions(t)[-1] == head, (
        "violating batch must be rejected with no commit landing"
    )
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 1), t)
    return txlog.read_snapshot(spark, t).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )


@register(
    "lake_tx_partition_prune",
    oracle="""SELECT COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders WHERE o_orderstatus = 'F'""",
    tags=("lake", "partition", "data-skipping", "versioned", "acid",
          "aggregate", "source"),
)
def lake_tx_partition_prune(spark, sf_dir):
    # Hive/Delta-style table partitioning on the transactional log:
    # two appends land value-pure files per o_orderstatus with each
    # file's partition values recorded in its commit, and the
    # partition-filtered read prunes whole files from LOG METADATA
    # alone — asserted in-query: the 'F' scan plans strictly fewer
    # files than the snapshot holds, before any footer or row is
    # touched. The oracle recomputes the partition declaratively.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = tempfile.mkdtemp(prefix="lake_txpart_") + "/orders"
    txlog.tx_append(
        o.filter(F.col("o_orderkey") % 2 == 0).repartition(2), t,
        partition_by=["o_orderstatus"],
    )
    # the second append INHERITS the declared partitioning
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 1).repartition(2), t)
    _, files = txlog.snapshot_files(t)
    pruned = txlog.prune_partition_files(t, files, {"o_orderstatus": "F"})
    assert 0 < len(pruned) < len(files), (
        f"partition pruning must drop files from the plan "
        f"({len(pruned)}/{len(files)})"
    )
    df = txlog.read_snapshot(
        spark, t, partition_filter={"o_orderstatus": "F"}
    )
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )


@register(
    "lake_tx_partitioned_merge",
    oracle="""WITH tgt AS (SELECT o_orderkey, o_orderstatus,
                     CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
                     FROM orders),
                   src AS (
                SELECT o_orderkey, 'U' AS o_orderstatus, cents + 100 AS cents
                FROM tgt WHERE o_orderkey % 13 = 0
                UNION ALL
                SELECT o_orderkey + 10000000 AS o_orderkey,
                       o_orderstatus, cents
                FROM tgt WHERE o_orderkey % 17 = 0),
                   merged AS (
                SELECT * FROM tgt
                WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
                UNION ALL
                SELECT * FROM src)
              SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(cents) AS BIGINT) AS total_cents
              FROM merged WHERE o_orderstatus IN ('U', 'P')
              GROUP BY o_orderstatus""",
    tags=("lake", "merge", "acid", "partition", "data-skipping",
          "versioned", "groupby"),
)
def lake_tx_partitioned_merge(spark, sf_dir):
    # MERGE on a PARTITIONED transactional table — the round-8
    # partition-aware rewrite path (_stage_for routes the merge's
    # survivor rewrites through _stage_partitioned) proven end-to-end:
    # the upsert moves matched rows into a NEW partition ('U'), and
    # afterwards EVERY live file still carries recorded partition
    # values (asserted from the log), so metadata pruning survives the
    # rewrite and the partition-filtered read plans strictly fewer
    # files. The oracle replays the merge relationally.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    t = tempfile.mkdtemp(prefix="lake_txpmerge_") + "/orders"
    txlog.tx_append(
        o.repartition(2), t, partition_by=["o_orderstatus"]
    )
    updates = o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    ).withColumn("cents", F.col("cents") + 100)
    inserts = o.filter(F.col("o_orderkey") % 17 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10000000
    )
    txlog.tx_merge_upsert(
        spark, t, updates.unionByName(inserts), keys=["o_orderkey"]
    )
    _, files = txlog.snapshot_files(t)
    pv = txlog.snapshot_pv(t)
    assert files and all(f in pv for f in files), (
        "merge rewrite lost recorded partition values"
    )
    kept = txlog.prune_partition_files(
        t, files, {"o_orderstatus": ["U", "P"]}
    )
    assert 0 < len(kept) < len(files), (len(kept), len(files))
    df = txlog.read_snapshot(
        spark, t, partition_filter={"o_orderstatus": ["U", "P"]}
    )
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


@register(
    "lake_tx_convert_import",
    oracle="""SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders GROUP BY o_orderstatus""",
    tags=("lake", "acid", "source", "import", "groupby"),
)
def lake_tx_convert_import(spark, sf_dir):
    # CONVERT TO transactional, now THROUGH THE SQL DOOR (r13:
    # ``CONVERT TO LAKE '<dir>' AS t`` routes to
    # tx_convert_parquet_dir): an existing plain-parquet directory
    # becomes the table's first commit through HARDLINKS — zero bytes
    # copied (asserted in-query via inode identity), O(files) for a
    # directory of any size — and the converted table immediately
    # serves snapshot reads. The oracle is the plain aggregate over
    # the source fact table, so the hash proves conversion is a pure
    # metadata registration.
    import os as _os
    import tempfile

    from ..sources import txlog
    from ..sources.tx_sql import tx_sql

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="lake_txconv_")
    plain = base + "/plain"
    o.repartition(4).write.parquet(plain)
    t = base + "/orders_tx"
    tx_sql(spark, f"CONVERT TO LAKE '{plain}' AS orders_tx",
           base_dir=base)
    src_inodes = {
        _os.stat(_os.path.join(dp, f)).st_ino
        for dp, _, fs in _os.walk(plain)
        for f in fs
        if f.endswith(".parquet")
    }
    _, files = txlog.snapshot_files(t)
    assert files and all(
        _os.stat(_os.path.join(t, f)).st_ino in src_inodes for f in files
    ), "convert must hardlink, not copy"
    return txlog.read_snapshot(spark, t).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )


@register(
    "lake_tx_partition_evolution",
    oracle="""SELECT o_orderpriority, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
              GROUP BY o_orderpriority""",
    tags=("lake", "partition", "data-skipping", "acid", "versioned",
          "groupby", "compaction"),
)
def lake_tx_partition_evolution(spark, sf_dir):
    # PARTITION EVOLUTION (tx_repartition_table): the table starts
    # partitioned by o_orderstatus, then one atomic commit re-lays it
    # value-pure on o_orderpriority and records the new declaration —
    # asserted in-query: the new-column filter prunes whole files from
    # log metadata immediately after, the OLD column stops being a
    # declared partition key, and content is byte-identical (the
    # oracle is the plain filtered aggregate over the source).
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    t = tempfile.mkdtemp(prefix="lake_txevo_") + "/orders"
    txlog.tx_append(o, t, partition_by=["o_orderstatus"])
    txlog.tx_repartition_table(spark, t, ["o_orderpriority"])
    assert txlog.table_partition_by(t) == ["o_orderpriority"]
    _, files = txlog.snapshot_files(t)
    kept = txlog.prune_partition_files(
        t, files, {"o_orderpriority": ["1-URGENT", "5-LOW"]}
    )
    assert 0 < len(kept) < len(files), (len(kept), len(files))
    df = txlog.read_snapshot(
        spark, t,
        partition_filter={"o_orderpriority": ["1-URGENT", "5-LOW"]},
    )
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )


@register(
    "lake_tx_column_mapping",
    oracle="""WITH base AS (
                SELECT o_orderkey AS okey,
                       o_orderstatus AS status,
                       CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                           AS price_cents,
                       CASE WHEN o_orderkey % 2 = 1 THEN 7 ELSE 0 END
                           AS tagv
                FROM orders)
              SELECT status, COUNT(*) AS n,
                     CAST(SUM(price_cents) AS BIGINT) AS cents,
                     CAST(SUM(tagv) AS BIGINT) AS tag_sum
              FROM base WHERE status IN ('F', 'O')
              GROUP BY status""",
    tags=("lake", "acid", "column-mapping", "partition",
          "data-skipping", "constraints", "groupby"),
)
def lake_tx_column_mapping(spark, sf_dir):
    # COLUMN MAPPING end-to-end (txlog.tx_rename_column /
    # tx_drop_column — Delta's name-mode mapping; the reference's
    # fixed typed headers have no rename surface): half of orders
    # lands under the ORIGINAL names (partitioned + stats +
    # constraint), then the partition column, the stats column, and a
    # throwaway column rename/drop as METADATA-ONLY commits (asserted:
    # no file added or removed), the other half appends under the NEW
    # names, and the dropped column is re-added — minting a fresh
    # physical name, so pre-drop bytes must read NULL (the oracle
    # makes that relational: old rows contribute 0, new rows 7).
    # Pruning by the RENAMED partition column and skipping by the
    # RENAMED stats column are asserted on the way out.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.lit(1).cast("long").alias("tagv"),
    )
    t = tempfile.mkdtemp(prefix="lake_txcm_") + "/orders"
    txlog.tx_append(
        o.filter(F.col("okey") % 2 == 0), t,
        partition_by=["o_orderstatus"], stats_cols=["cents"],
    )
    txlog.tx_set_constraint(spark, t, "cents_pos", "cents >= 0")
    files_before = set(txlog.snapshot_files(t)[1])
    txlog.tx_rename_column(spark, t, "o_orderstatus", "status")
    txlog.tx_rename_column(spark, t, "cents", "price_cents")
    txlog.tx_drop_column(spark, t, "tagv")
    assert set(txlog.snapshot_files(t)[1]) == files_before, (
        "rename/drop must be metadata-only"
    )
    # the constraint re-bound to the new name and still enforces
    assert txlog.table_constraints(t) == {"cents_pos": "price_cents >= 0"}
    # second half appends under the NEW names; tagv re-adds with a
    # fresh physical name (old bytes stay dead)
    txlog.tx_append(
        o.filter(F.col("okey") % 2 == 1)
        .withColumn("tagv", F.lit(7).cast("long"))
        .withColumnsRenamed({"o_orderstatus": "status",
                             "cents": "price_cents"}),
        t, merge_schema=True,
    )
    _, files = txlog.snapshot_files(t)
    kept = txlog.prune_partition_files(t, files, {"status": ["F", "O"]})
    assert 0 < len(kept) < len(files), (len(kept), len(files))
    _, n_read, n_total = txlog.tx_read_skipping(
        spark, t, "price_cents", lo=10**15, hi=None
    )
    assert n_read < n_total, "pre-rename stats must skip post-rename"
    df = txlog.read_snapshot(
        spark, t, partition_filter={"status": ["F", "O"]}
    )
    return df.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price_cents").cast("long").alias("cents"),
        F.sum(F.coalesce(F.col("tagv"), F.lit(0))).cast("long")
        .alias("tag_sum"),
    )


@register(
    "lake_tx_delete_vectors",
    oracle="""SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE NOT COALESCE(o_totalprice < 10000.0, FALSE)
              GROUP BY o_orderstatus""",
    tags=("lake", "versioned", "cdc", "groupby", "acid"),
)
def lake_tx_delete_vectors(spark, sf_dir):
    # MERGE-ON-READ delete (txlog.tx_delete_where_mor): the matching
    # rows' (file, row_index) positions land as DELETION VECTORS in
    # the commit — NO data file is rewritten (asserted on the physical
    # file list), and readers apply the vectors transparently. The
    # fast-delete half of the copy-on-write / merge-on-read trade; the
    # oracle is the declarative NOT-predicate read, so the vector
    # machinery must be semantically invisible.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = tempfile.mkdtemp(prefix="lake_txdv_") + "/orders"
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 0), t)
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 1), t)
    _, before = txlog.snapshot_files(t)
    v, n_deleted = txlog.tx_delete_where_mor(
        spark, t, "o_totalprice < 10000.0"
    )
    _, after = txlog.snapshot_files(t)
    assert before == after, "MOR delete must not rewrite any file"
    assert n_deleted > 0
    return txlog.read_snapshot(spark, t).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )


@register(
    "lake_tx_instant_distinct",
    oracle="""SELECT COUNT(DISTINCT o_custkey) AS n_distinct
              FROM orders""",
    tags=("lake", "metadata", "distinct", "bitmap", "aggregate",
          "versioned", "acid"),
)
def lake_tx_instant_distinct(spark, sf_dir):
    # Exact COUNT(DISTINCT) from bitmap sidecars RIDING TRANSACTIONAL
    # COMMITS (txlog.tx_instant_distinct): three appends each carry
    # per-file distinct bitmaps in their own commit (distinct_cols=),
    # so the final count is an OR-merge + popcount over kilobytes of
    # sidecar with ZERO data files opened — asserted in-query via the
    # returned scan count. The oracle recomputes from raw rows, so the
    # hash proves the commit-riding bitmap algebra exact across
    # multi-writer append boundaries.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    t = tempfile.mkdtemp(prefix="lake_txdst_") + "/orders"
    for m in range(3):
        txlog.tx_append(
            o.filter(F.col("o_orderkey") % 3 == m).repartition(2),
            t,
            distinct_cols=["o_custkey"],
        )
    df, n_scanned, n_total = txlog.tx_instant_distinct(spark, t, "o_custkey")
    assert n_scanned == 0 and n_total == 6, (n_scanned, n_total)
    return df


@register(
    "lake_tx_instant_agg",
    oracle="""SELECT COUNT(*) AS n_rows,
                     CAST(MIN(o_orderkey) AS BIGINT) AS col_min,
                     CAST(MAX(o_orderkey) AS BIGINT) AS col_max
              FROM orders""",
    tags=("lake", "metadata", "aggregate", "data-skipping", "versioned",
          "acid"),
)
def lake_tx_instant_agg(spark, sf_dir):
    # Metadata-only COUNT/MIN/MAX from footer stats RIDING
    # TRANSACTIONAL COMMITS (txlog.tx_instant_agg): each append's
    # commit carries per-file stats (stats_cols=), so the aggregate is
    # three numbers per file read from the LOG — zero data files
    # opened, asserted in-query. A MOR delete would demote only the
    # vectored files back to scans (test-pinned).
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    t = tempfile.mkdtemp(prefix="lake_txagg_") + "/orders"
    for m in range(2):
        txlog.tx_append(
            o.filter(F.col("o_orderkey") % 2 == m).repartition(3),
            t,
            stats_cols=["o_orderkey"],
        )
    df, n_scanned, n_total = txlog.tx_instant_agg(spark, t, "o_orderkey")
    assert n_scanned == 0 and n_total == 6, (n_scanned, n_total)
    return df


@register(
    "lake_tx_sorted_export",
    oracle="""SELECT o_orderkey, o_totalprice
              FROM orders
              ORDER BY o_totalprice ASC, o_orderkey ASC
              LIMIT 100""",
    tags=("lake", "sort", "export", "versioned", "acid", "data-skipping"),
)
def lake_tx_sorted_export(spark, sf_dir):
    # ACID OPTIMIZE-SORT (txlog.tx_compact(sort_by=...)): two appends
    # land, then one atomic commit rewrites the table range-partitioned
    # and sorted on o_totalprice with per-file stats riding the commit,
    # making the TABLE its own totally-ordered export —
    # tx_sorted_file_order recovers the global file order from the log
    # alone (no manifest sidecar, no data read) and validates no two
    # files interleave. The global top-100 cheapest rows must then live
    # in the first files of that order: only 2 of 6 files are read to
    # answer what the oracle computes over the whole table.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t = tempfile.mkdtemp(prefix="lake_txsort_") + "/orders"
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 0), t)
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 1), t)
    txlog.tx_compact(spark, t, num_files=6, sort_by=["o_totalprice"])
    files = txlog.tx_sorted_file_order(t, "o_totalprice")
    assert len(files) == 6, files
    import os

    head = spark.read.parquet(*[os.path.join(t, f) for f in files[:2]])
    return head.orderBy("o_totalprice", "o_orderkey").limit(100)


@register(
    "lake_tx_optimize_small_files",
    oracle="""SELECT c_mktsegment AS seg, COUNT(*) AS n,
                     CAST(SUM(c_custkey) AS BIGINT) AS key_sum
              FROM customer
              GROUP BY c_mktsegment""",
    tags=("lake", "compaction", "versioned", "acid", "groupby"),
)
def lake_tx_optimize_small_files(spark, sf_dir):
    # INCREMENTAL OPTIMIZE (txlog.tx_optimize): a streaming-style
    # ingest leaves six small files next to one large one; the
    # bin-pack rewrites ONLY the small tail (asserted: the large file
    # survives untouched, so cost is O(small files), never O(table) —
    # the compaction that can run continuously behind a 100 TB
    # ingest). The oracle is the declarative aggregate: the swap must
    # be semantically invisible.
    import os
    import tempfile

    from ..sources import txlog

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t = tempfile.mkdtemp(prefix="lake_txopt_") + "/customer"
    # one bulk file holding half the table...
    txlog.tx_append(c.filter(F.col("c_custkey") % 2 == 0).coalesce(1), t)
    # ...then a streaming-style trickle of 7 small commits
    for m in range(7):
        txlog.tx_append(
            c.filter(F.col("c_custkey") % 14 == 2 * m + 1).coalesce(1), t
        )
    _, before = txlog.snapshot_files(t)
    big = max(before, key=lambda f: os.path.getsize(os.path.join(t, f)))
    target = os.path.getsize(os.path.join(t, big))
    v, replaced = txlog.tx_optimize(spark, t, target_file_bytes=target)
    _, after = txlog.snapshot_files(t)
    assert big in after, "at-target file must not be rewritten"
    assert replaced == 7 and len(after) < len(before), (replaced, after)
    return txlog.read_snapshot(spark, t).groupBy(
        F.col("c_mktsegment").alias("seg")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c_custkey").alias("key_sum"),
    )


@register(
    "lake_tx_log_retention",
    oracle="""SELECT o_orderstatus AS st,
                     COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE o_totalprice >= 50000.0
              GROUP BY o_orderstatus""",
    tags=("lake", "versioned", "acid", "retention", "groupby"),
)
def lake_tx_log_retention(spark, sf_dir):
    # LOG RETENTION (txlog.tx_expire_versions + tx_vacuum): three
    # appends and a transactional DELETE land, then history below the
    # delete is EXPIRED — a checkpoint written at the horizon keeps
    # every surviving version resolvable — and vacuum reclaims the
    # dead pre-delete files using the horizon checkpoint's live set
    # (the expired commits' added-lists are gone). The snapshot read
    # after truncation must still equal the declarative aggregate:
    # bounding the log is invisible to readers, which is what makes a
    # years-old 100 TB table's recovery O(active history), not
    # O(table lifetime).
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = tempfile.mkdtemp(prefix="lake_txret_") + "/orders"
    for m in range(3):
        txlog.tx_append(o.filter(F.col("o_orderkey") % 3 == m), t)
    txlog.tx_delete_where(spark, t, "o_totalprice < 50000.0")
    head = txlog.log_versions(t)[-1]
    expired = txlog.tx_expire_versions(t, keep_from=head)
    assert expired == [1, 2, 3], expired
    reclaimed = txlog.tx_vacuum(t, retention_seconds=0.0)
    assert any(r.startswith("data/") for r in reclaimed), reclaimed
    assert txlog.log_versions(t) == [head]
    return txlog.read_snapshot(spark, t).groupBy(
        F.col("o_orderstatus").alias("st")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )


# --------------------------------------------------------------------------
# Mergeable equi-width histogram (functions/histogram.py): bucket counts
# are exact integers over deterministic double arithmetic, so the BUILD
# value-hashes against the identical SQL floor expression — unlike
# GK/t-digest sketches whose internals are engine-private. Merge
# linearity and quantile interpolation are pytest-asserted.
# --------------------------------------------------------------------------
@register(
    "agg_histogram_prices",
    oracle="""SELECT CAST(GREATEST(0, LEAST(99,
                       FLOOR(l_extendedprice / 1000.0))) AS INTEGER) AS bucket,
                     COUNT(*) AS cnt
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
              GROUP BY 1""",
    tags=("aggregate", "histogram", "sketch"),
)
def agg_histogram_prices(spark, sf_dir):
    from ..functions.histogram import histogram_sketch

    li = _t(spark, sf_dir, "lineitem")
    return histogram_sketch(li, "l_extendedprice", 0.0, 100_000.0, 100)


# --------------------------------------------------------------------------
# Data-quality expectations (operators/dq.py): Great-Expectations/Delta-
# constraints shape as a DataFrame program — all row-local rules in ONE
# conditional-sum scan, uniqueness as a key groupBy, referential
# integrity as a broadcast anti-join. The oracle recomputes every rule
# as plain SQL, so the whole report value-hashes.
# --------------------------------------------------------------------------
@register(
    "dq_orders_expectations",
    oracle="""SELECT 'not_null(o_orderkey)' AS rule,
                     CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                     COUNT(*) AS n_rows,
                     SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
              FROM orders
              UNION ALL
              SELECT 'in_set(o_orderstatus)',
                     CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                                    AND o_orderstatus NOT IN ('O','F','P')
                                   THEN 1 ELSE 0 END) AS BIGINT),
                     COUNT(*),
                     SUM(CASE WHEN o_orderstatus IS NOT NULL
                               AND o_orderstatus NOT IN ('O','F','P')
                              THEN 1 ELSE 0 END) = 0
              FROM orders
              UNION ALL
              SELECT 'in_range(o_totalprice)',
                     CAST(SUM(CASE WHEN o_totalprice < 0
                                     OR o_totalprice > 10000000
                                   THEN 1 ELSE 0 END) AS BIGINT),
                     COUNT(*),
                     SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 10000000
                              THEN 1 ELSE 0 END) = 0
              FROM orders
              UNION ALL
              SELECT 'unique(o_orderkey)',
                     CAST(COALESCE((SELECT SUM(c) FROM (
                         SELECT COUNT(*) AS c FROM orders
                         GROUP BY o_orderkey HAVING COUNT(*) > 1)), 0) AS BIGINT),
                     (SELECT COUNT(*) FROM orders),
                     COALESCE((SELECT SUM(c) FROM (
                         SELECT COUNT(*) AS c FROM orders
                         GROUP BY o_orderkey HAVING COUNT(*) > 1)), 0) = 0
              UNION ALL
              SELECT 'ref_integrity(o_custkey)',
                     CAST((SELECT COUNT(*) FROM orders o
                           WHERE o.o_custkey IS NOT NULL
                             AND NOT EXISTS (SELECT 1 FROM customer c
                                             WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
                     (SELECT COUNT(*) FROM orders),
                     (SELECT COUNT(*) FROM orders o
                      WHERE o.o_custkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM customer c
                                        WHERE c.c_custkey = o.o_custkey)) = 0""",
    tags=("dq", "constraints", "aggregate", "join"),
)
def dq_orders_expectations(spark, sf_dir):
    from ..operators.dq import check_expectations

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return check_expectations(o, [
        {"type": "not_null", "col": "o_orderkey"},
        {"type": "in_set", "col": "o_orderstatus", "values": ["O", "F", "P"]},
        {"type": "in_range", "col": "o_totalprice", "lo": 0, "hi": 10_000_000},
        {"type": "unique", "cols": ["o_orderkey"]},
        {"type": "ref_integrity", "col": "o_custkey", "ref": c,
         "ref_col": "c_custkey"},
    ])


@register(
    "agg_histogram_quantiles",
    oracle="""WITH sk AS (
                SELECT CAST(GREATEST(0, LEAST(99,
                         FLOOR(l_extendedprice / 1000.0))) AS INTEGER) AS bucket,
                       COUNT(*) AS cnt
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL
                GROUP BY 1),
                   c AS (
                SELECT bucket, cnt,
                       SUM(cnt) OVER (ORDER BY bucket
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                       SUM(cnt) OVER () AS total
                FROM sk),
                   qs AS (SELECT unnest([CAST(0.5 AS DOUBLE),
                                         CAST(0.9 AS DOUBLE),
                                         CAST(0.99 AS DOUBLE)]) AS q)
              SELECT qs.q AS q,
                     (SELECT 0.0 + (CAST(bucket AS DOUBLE)
                              + (qs.q * total - (cum - cnt)) / cnt) * 1000.0
                      FROM c WHERE cum >= qs.q * total
                      ORDER BY bucket LIMIT 1) AS est
              FROM qs""",
    tags=("aggregate", "histogram", "sketch", "window"),
)
def agg_histogram_quantiles(spark, sf_dir):
    # Quantiles FROM the mergeable sketch: the cumulative walk is a
    # window over <=100 rows BY CONSTRUCTION (sketch size, not corpus
    # size) — the safe global window. The oracle replays the identical
    # double arithmetic, so even the interpolation value-hashes.
    from ..functions.histogram import histogram_sketch, quantiles_from_histogram

    li = _t(spark, sf_dir, "lineitem")
    sk = histogram_sketch(li, "l_extendedprice", 0.0, 100_000.0, 100)
    return quantiles_from_histogram(sk, [0.5, 0.9, 0.99], 0.0, 100_000.0, 100)


# --------------------------------------------------------------------------
# Materialized-view rewrite (operators/mv.py): the monthly rollup is
# materialized once, then a per-priority question is answered by
# RE-AGGREGATING the (priority, month) view — the fact table is not
# scanned. The oracle recomputes from the raw table, so the value-hash
# proves the rewrite exact (integer cents re-sum associatively; the
# derived avg is one double division on both sides).
# --------------------------------------------------------------------------
@register(
    "mv_rollup_rewrite",
    oracle="""SELECT o_orderpriority,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS total_cents,
                     COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / COUNT(*) AS avg_cents
              FROM orders
              GROUP BY 1""",
    tags=("mv", "aggregate", "rollup", "lake"),
)
def mv_rollup_rewrite(spark, sf_dir):
    import tempfile

    from ..operators.mv import define_mv, mv_answer

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").alias("mon"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    p = tempfile.mkdtemp(prefix="mv_rollup_") + "/mv"
    define_mv(
        o, p,
        group_cols=["o_orderpriority", "mon"],
        measures={"sum_cents": ("sum", "cents"), "n_cents": ("count", "cents")},
    )
    return mv_answer(
        spark, p, ["o_orderpriority"],
        {"total_cents": ("sum", "cents"), "n": ("count", "cents"),
         "avg_cents": ("avg", "cents")},
    )


@register(
    "mv_incremental_refresh",
    oracle="""SELECT o_orderpriority,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS total_cents,
                     COUNT(*) AS n,
                     CAST(MAX(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS max_cents,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / COUNT(*) AS avg_cents
              FROM orders
              GROUP BY 1""",
    # 'ivm': mv_refresh IS incremental view maintenance — the delta
    # folds into the materialized state in O(delta + |view|), never a
    # history rescan (the batch twin of mv_txlog_ivm's signed fold).
    tags=("mv", "ivm", "cdc", "aggregate", "lake"),
)
def mv_incremental_refresh(spark, sf_dir):
    # MV MAINTENANCE end-to-end (operators/mv.py mv_refresh): the view
    # is built on 90% of history, the remaining 10% arrives as an
    # append-only delta and is FOLDED in (sums/counts add, maxes fold;
    # cost O(delta + |view|), never O(history)). The answer then comes
    # from the refreshed view alone; the oracle recomputes from the
    # full fact table, so the value-hash proves refresh-then-answer ==
    # define-on-full-history exactly.
    import tempfile

    from ..operators.mv import define_mv, mv_answer, mv_refresh

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").alias("mon"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    hist = o.filter(F.col("o_orderkey") % 10 != 0).drop("o_orderkey")
    delta = o.filter(F.col("o_orderkey") % 10 == 0).drop("o_orderkey")
    p = tempfile.mkdtemp(prefix="mv_incr_") + "/mv"
    define_mv(
        hist, p,
        group_cols=["o_orderpriority", "mon"],
        measures={
            "sum_cents": ("sum", "cents"),
            "n_cents": ("count", "cents"),
            "max_cents": ("max", "cents"),
        },
    )
    mv_refresh(spark, p, delta)
    return mv_answer(
        spark, p, ["o_orderpriority"],
        {"total_cents": ("sum", "cents"), "n": ("count", "cents"),
         "max_cents": ("max", "cents"), "avg_cents": ("avg", "cents")},
    )


@register(
    "lake_compact_roundtrip",
    oracle="""SELECT o_orderkey,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                       AS o_totalprice,
                     o_orderpriority
              FROM orders""",
    # sink: the roundtrip WRITES the compacted parquet output and the
    # oracle grades the written bytes' content — an exercised sink, not
    # just a source
    tags=("lake", "compaction", "source", "pipeline", "sink"),
)
def lake_compact_roundtrip(spark, sf_dir):
    # Nightly-compaction story (sources/lake.py compact_small_files):
    # a streaming-decayed table of 64 tiny files is bin-packed to
    # ~target-size files (driver-side byte listing, coalesce — no
    # shuffle), and the compacted table must be CONTENT-IDENTICAL to
    # the sprawl it replaced — the oracle reads the original fact
    # table, so the value-hash proves compaction is a pure physical
    # rewrite. The file-count collapse is asserted in-line (and
    # perf-asserted in tests/test_lake.py).
    import glob as _glob
    import tempfile

    from ..sources.lake import compact_small_files

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").cast("double")
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    root = tempfile.mkdtemp(prefix="compact_")
    src, dst = root + "/sprawl", root + "/compacted"
    o.repartition(64).write.parquet(src)  # the decayed state
    n_out = compact_small_files(spark, src, dst, target_file_mb=128)
    n_src = len(_glob.glob(src + "/part-*.parquet"))
    assert n_out < n_src, (n_out, n_src)
    return spark.read.parquet(dst)


@register(
    "scd2_pit_enrich",
    oracle="""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                                event_type
                         FROM events),
                   m AS (SELECT user_id, event_id, ts, event_type,
                                CASE WHEN ROW_NUMBER() OVER w = 1
                                       OR LAG(event_type) OVER w
                                          IS DISTINCT FROM event_type
                                     THEN 1 ELSE 0 END AS is_start
                         FROM e
                         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
                   dim AS (SELECT user_id, event_type, ts AS valid_from
                           FROM m WHERE is_start = 1),
                   facts AS (SELECT user_id, event_id,
                                    ts + INTERVAL 30 MINUTE AS fts
                             FROM e WHERE event_id % 13 = 0)
              SELECT f.user_id, f.event_id, f.fts,
                     d.event_type AS r_event_type
              FROM facts f
              ASOF JOIN dim d
                ON f.user_id = d.user_id AND f.fts >= d.valid_from""",
    tags=("cdc", "scd2", "asof", "join", "timeseries"),
)
def scd2_pit_enrich(spark, sf_dir):
    # Point-in-time enrichment (operators/cdc.py pit_enrich): facts 30
    # minutes after each 13th event must see the dimension state AS OF
    # that moment — DuckDB's native ASOF JOIN against the same
    # recursively-derived dimension is the oracle.
    from ..operators.cdc import pit_enrich, scd2_history

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    dim = scd2_history(
        ev, keys=["user_id"], ts_col="ts",
        attr_cols=["event_type"], tiebreak=["event_id"],
    )
    facts = ev.filter(F.col("event_id") % 13 == 0).select(
        "user_id",
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("fts"),
    )
    return pit_enrich(facts, dim, key="user_id", fact_ts="fts",
                      attr_cols=["event_type"])


@register(
    "scd2_time_in_state",
    oracle="""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                                event_type
                         FROM events),
                   m AS (SELECT user_id, event_id, ts, event_type,
                                CASE WHEN ROW_NUMBER() OVER w = 1
                                       OR LAG(event_type) OVER w
                                          IS DISTINCT FROM event_type
                                     THEN 1 ELSE 0 END AS is_start
                         FROM e
                         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
                   s AS (SELECT user_id, event_id, ts, event_type
                         FROM m WHERE is_start = 1),
                   iv AS (SELECT user_id, event_type, ts AS valid_from,
                                 LEAD(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS valid_to
                          FROM s)
              SELECT user_id, event_type,
                     CAST(SUM(CAST(FLOOR(epoch(COALESCE(valid_to,
                                TIMESTAMP '2024-02-01'))) AS BIGINT)
                              - CAST(FLOOR(epoch(valid_from)) AS BIGINT))
                          AS BIGINT) AS total_s,
                     COUNT(*) AS n_intervals
              FROM iv GROUP BY 1, 2""",
    tags=("cdc", "scd2", "aggregate", "timeseries"),
)
def scd2_time_in_state(spark, sf_dir):
    # Duration-weighted state stats (operators/cdc.py state_durations):
    # integer epoch sums over the SCD2 intervals, open intervals closed
    # at a fixed horizon just past the feed — exact and value-hashed.
    import datetime as _dt

    from ..operators.cdc import scd2_history, state_durations

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    dim = scd2_history(
        ev, keys=["user_id"], ts_col="ts",
        attr_cols=["event_type"], tiebreak=["event_id"],
    )
    return state_durations(
        dim, keys=["user_id"], attr_cols=["event_type"],
        horizon=_dt.datetime(2024, 2, 1),
    )


@register(
    "sql_lateral_topk",
    oracle="""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
              FROM customer c,
                   LATERAL (SELECT o_orderkey, o_totalprice
                            FROM orders
                            WHERE o_custkey = c.c_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC
                            LIMIT 2) o
              WHERE c.c_custkey % 10 = 0""",
    tags=("sql", "subquery", "lateral", "join"),
)
def sql_lateral_topk(spark, sf_dir):
    # LATERAL correlated derived table — the "top-2 orders per
    # customer" idiom both engines parse natively (Spark decorrelates
    # to a ranked window join; DuckDB to a dependent join). Same SQL
    # text on both sides: the frontend parity point of SURVEY §2.2
    # taken past the reference's comma-join-only grammar.
    return run_sql(
        spark, sf_dir,
        """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
           FROM customer c,
                LATERAL (SELECT o_orderkey, o_totalprice
                         FROM orders
                         WHERE o_custkey = c.c_custkey
                         ORDER BY o_totalprice DESC, o_orderkey ASC
                         LIMIT 2) o
           WHERE c.c_custkey % 10 = 0""",
    )


@register(
    "window_moving_avg_7d",
    oracle="""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                                value
                         FROM events WHERE user_id % 37 = 0),
                   w AS (SELECT event_id, user_id, ts,
                                CAST(SUM(CAST(value AS DECIMAL(18,2)))
                                     OVER win AS DOUBLE) AS sum_7d,
                                COUNT(value) OVER win AS n_7d
                         FROM e
                         WINDOW win AS (PARTITION BY user_id ORDER BY ts
                                        RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
                                              AND CURRENT ROW))
              SELECT event_id, user_id, ts, sum_7d / n_7d AS avg_7d, n_7d
              FROM w""",
    tags=("window", "timeseries", "events"),
)
def window_moving_avg_7d(spark, sf_dir):
    # Trailing time-INTERVAL window frame (7-day moving average per
    # user): Spark range frames are numeric, so the frame runs on
    # integer epoch seconds — semantically identical to DuckDB's
    # native RANGE INTERVAL frame, which is the oracle. The exact
    # decimal sum divided by the count keeps the average bit-stable
    # (same discipline as the streaming window sums). Partitioned by
    # user — per-key state only.
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 37 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-7 * 86400, 0)
    )
    sum_7d = F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
    n_7d = F.count("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (sum_7d / n_7d).alias("avg_7d"),
        n_7d.alias("n_7d"),
    )


@register(
    "interval_overlap_sessions",
    oracle="""WITH a AS (SELECT user_id, event_id AS a_id,
                                CAST(ts AS TIMESTAMP) AS a_start,
                                CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS a_end
                         FROM events WHERE event_id % 11 = 0),
                   b AS (SELECT user_id, event_id AS b_id,
                                CAST(ts AS TIMESTAMP) AS b_start,
                                CAST(ts AS TIMESTAMP) + INTERVAL 45 MINUTE AS b_end
                         FROM events WHERE event_id % 13 = 0)
              SELECT a.user_id, a.a_id, b.b_id
              FROM a JOIN b
                ON a.user_id = b.user_id
               AND a.a_start <= b.b_end
               AND b.b_start <= a.a_end""",
    tags=("range", "join", "timeseries", "events"),
)
def interval_overlap_sessions(spark, sf_dir):
    # Interval × interval overlap join (operators/range_join.py
    # interval_overlap_join): both sides bucket-exploded, hash
    # equi-join on (key, cell), pair claimed once in the first shared
    # cell — no nested loop anywhere. The oracle is the naive
    # inequality join, which DuckDB can afford at oracle scale.
    from ..operators.range_join import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 11 == 0).select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("a_end"),
    )
    b = ev.filter(F.col("event_id") % 13 == 0).select(
        "user_id",
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_start"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("b_end"),
    )
    out = interval_overlap_join(
        a, b, on="user_id",
        left_start="a_start", left_end="a_end",
        right_start="b_start", right_end="b_end",
        bucket_seconds=3600,
    )
    return out.select("user_id", "a_id", F.col("r_b_id").alias("b_id"))


@register(
    "robust_zscore_prices",
    oracle="""WITH med AS (SELECT l_returnflag,
                                 quantile_cont(l_extendedprice, 0.5) AS med
                          FROM lineitem GROUP BY 1),
                   mad AS (SELECT l.l_returnflag,
                                  quantile_cont(ABS(l.l_extendedprice - m.med), 0.5) AS mad
                           FROM lineitem l JOIN med m
                             ON l.l_returnflag = m.l_returnflag
                           GROUP BY 1),
                   s AS (SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
                                (l.l_extendedprice - m.med) / (1.4826 * d.mad)
                                  AS rz
                         FROM lineitem l
                         JOIN med m ON l.l_returnflag = m.l_returnflag
                         JOIN mad d ON l.l_returnflag = d.l_returnflag)
              SELECT l_orderkey, l_linenumber, l_returnflag, rz,
                     ABS(rz) > 3.5 AS is_outlier
              FROM s""",
    tags=("aggregate", "percentile", "cleaning", "join"),
)
def robust_zscore_prices(spark, sf_dir):
    # Robust z-score (median/MAD with the 1.4826 normal-consistency
    # constant): the outlier score that, unlike mean/stddev, is not
    # dragged by the outliers it hunts. Two grouped exact-percentile
    # passes (Spark percentile ≡ DuckDB quantile_cont, proven by
    # agg_percentiles' value-hash) + two broadcast joins of group-
    # cardinality frames; the fact table is scanned, never shuffled.
    # Scale note: EXACT percentile buffers a group's values; beyond
    # ~10^7 rows/group swap both passes to approx_percentile (same
    # plan shape, bounded state) or the mergeable histogram sketch —
    # exactness here is what makes the oracle bit-checkable.
    # r13: med and mad are GROUP-CARDINALITY frames consumed by
    # multiple subtrees (mad's deviation pass and the scoring join);
    # without materialization the med percentile subtree replans
    # inside each consumer — the static plan read 8 lineitem scans /
    # 12 exchanges. localCheckpoint pins each tiny frame once: 3
    # scans total at runtime (plan: 2 visible + the med checkpoint),
    # 4 exchanges (guide §5; values proven identical, exceptAll = 0).
    li = _t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("med")
    ).localCheckpoint(eager=False)
    dev = li.join(F.broadcast(med), "l_returnflag")
    mad = dev.groupBy("l_returnflag").agg(
        F.percentile(F.abs(F.col("l_extendedprice") - F.col("med")), 0.5).alias("mad")
    ).localCheckpoint(eager=False)
    scored = (
        li.join(F.broadcast(med), "l_returnflag")
        .join(F.broadcast(mad), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            (
                (F.col("l_extendedprice") - F.col("med"))
                / (F.lit(1.4826) * F.col("mad"))
            ).alias("rz"),
        )
    )
    return scored.withColumn("is_outlier", F.abs(F.col("rz")) > 3.5)


@register(
    "robust_zscore_prices_approx",
    oracle=None,  # approx sketch: engine-specific estimates, rows-only
    tags=("aggregate", "percentile", "cleaning", "approx", "sketch"),
)
def robust_zscore_prices_approx(spark, sf_dir):
    # The documented 100x scale path of robust_zscore_prices: both
    # percentile passes swapped to approx_percentile (KLL-style sketch,
    # BOUNDED per-group state that is mergeable map-side), identical
    # plan shape otherwise — the fact table is still scanned, never
    # shuffled, and group-cardinality frames are still broadcast.
    # accuracy=10000 => rank error <= 1/10000, so on any realistically
    # sized group the med/MAD (hence rz) track the exact form closely;
    # tests/test_operators_extra.py bounds the deviation vs the exact
    # query and the bench tracks that this form stays flat as group
    # size grows.
    li = _t(spark, sf_dir, "lineitem")
    acc = F.lit(10000)
    med = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", F.lit(0.5), acc).alias("med")
    ).localCheckpoint(eager=False)  # r13: same dedup of the med/mad
    # subtrees as robust_zscore_prices (8 scans -> 3 at runtime)
    dev = li.join(F.broadcast(med), "l_returnflag")
    mad = dev.groupBy("l_returnflag").agg(
        F.percentile_approx(
            F.abs(F.col("l_extendedprice") - F.col("med")), F.lit(0.5), acc
        ).alias("mad")
    ).localCheckpoint(eager=False)
    scored = (
        li.join(F.broadcast(med), "l_returnflag")
        .join(F.broadcast(mad), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            (
                (F.col("l_extendedprice") - F.col("med"))
                / (F.lit(1.4826) * F.col("mad"))
            ).alias("rz"),
        )
    )
    return scored.withColumn("is_outlier", F.abs(F.col("rz")) > 3.5)


@register(
    "categorical_drift_event_types",
    oracle="""WITH c AS (SELECT event_type,
                                CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                                CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb
                         FROM events GROUP BY 1),
                   t AS (SELECT CAST(SUM(na) AS BIGINT) AS ta,
                                CAST(SUM(nb) AS BIGINT) AS tb FROM c)
              SELECT c.event_type, c.na, c.nb,
                     CAST(ABS(c.na * t.tb - c.nb * t.ta) AS BIGINT) AS drift_num
              FROM c CROSS JOIN t""",
    # profiling: the row materializes the two cohorts' per-category
    # distribution profiles (na/nb counts) — drift is a comparison OF
    # profiles, the categorical sibling of the corpus report
    tags=("aggregate", "drift", "events", "profiling"),
)
def categorical_drift_event_types(spark, sf_dir):
    # Categorical-distribution drift between two cohorts (even/odd
    # users as the deterministic day-over-day stand-in): per category
    # the cross-product numerator |na*Tb - nb*Ta| is zero iff the
    # category's share is identical in both cohorts — the integer-
    # exact core of a chi-square test, hashable across engines (the
    # sibling of vector_centroid_drift for categorical columns). One
    # conditional-sum aggregation + a broadcast of the two totals.
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("user_id") % 2 != 0, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    t = c.agg(
        F.sum("na").cast("long").alias("ta"),
        F.sum("nb").cast("long").alias("tb"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "event_type",
        "na",
        "nb",
        F.abs(F.col("na") * F.col("tb") - F.col("nb") * F.col("ta"))
        .cast("long")
        .alias("drift_num"),
    )


@register(
    "agg_histogram_by_flag",
    oracle="""SELECT l_returnflag,
                     CAST(GREATEST(0, LEAST(63,
                       FLOOR(l_extendedprice / 1562.5))) AS INTEGER) AS bucket,
                     COUNT(*) AS cnt
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
              GROUP BY 1, 2""",
    tags=("aggregate", "histogram", "sketch", "groupby"),
)
def agg_histogram_by_flag(spark, sf_dir):
    # Per-group histograms (functions/histogram.py grouped variant):
    # bucket width 100000/64 = 1562.5 is exact in binary, keeping the
    # floor arithmetic engine-identical.
    from ..functions.histogram import histogram_sketch_grouped

    li = _t(spark, sf_dir, "lineitem")
    return histogram_sketch_grouped(
        li, ["l_returnflag"], "l_extendedprice", 0.0, 100_000.0, 64
    )


@register(
    "lake_zorder_2d_skipping",
    oracle="""SELECT o_orderkey, o_custkey, o_totalprice
              FROM orders
              WHERE o_custkey BETWEEN 100 AND 200
                AND o_totalprice BETWEEN 50000 AND 150000""",
    tags=("lake", "data-skipping", "zorder", "source"),
)
def lake_zorder_2d_skipping(spark, sf_dir):
    # Z-order + commit stats, composed: the append is clustered on
    # the (custkey, totalprice) z-curve, per-file min/max stats for
    # BOTH columns ride the commit, and a 2-D box query prunes to the
    # files whose rectangles intersect it — multi-dimensional data
    # skipping from ONE layout, the thing neither a single-column sort
    # nor hash layout can give. The oracle is the plain 2-predicate
    # filter: pruning must change nothing but I/O.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = tempfile.mkdtemp(prefix="lake_z2d_") + "/orders"
    dims = ["o_custkey", "o_totalprice"]
    txlog.tx_append(o, t, cluster_by=dims, cluster_files=16, stats_cols=dims)
    pruned, n_read, n_total = txlog.tx_read_skipping(
        spark, t,
        {"o_custkey": (100, 200), "o_totalprice": (50_000.0, 150_000.0)},
    )
    assert n_read < n_total, "z-ordered layout must prune a 2-D box query"
    return pruned


@register(
    "lake_zorder_3d_skipping",
    oracle="""SELECT o_orderkey, o_custkey, o_totalprice,
                     CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
              FROM orders
              WHERE o_custkey BETWEEN 100 AND 400
                AND o_totalprice BETWEEN 40000 AND 160000
                AND CAST(o_orderdate AS TIMESTAMP)
                    BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1996-12-31'""",
    tags=("lake", "data-skipping", "zorder", "source"),
)
def lake_zorder_3d_skipping(spark, sf_dir):
    # The N-dimensional z-curve (here N=3 with 63//3=21-bit capped
    # interleave, lake.z_cluster): one clustered append prunes a 3-D
    # box query — and, per the unit test, a filter on ANY single
    # clustered column still prunes. The date dimension interleaves as
    # epoch days. Oracle: the plain 3-predicate filter.
    import datetime as _dt
    import tempfile

    from ..sources import txlog

    o = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .withColumn("__days", F.datediff(F.col("o_orderdate"), F.lit("1990-01-01")))
    )
    t = tempfile.mkdtemp(prefix="lake_z3d_") + "/orders"
    dims = ["o_custkey", "o_totalprice", "__days"]
    txlog.tx_append(o, t, cluster_by=dims, cluster_files=16, stats_cols=dims)
    d0 = (_dt.date(1994, 1, 1) - _dt.date(1990, 1, 1)).days
    d1 = (_dt.date(1996, 12, 31) - _dt.date(1990, 1, 1)).days
    pruned, n_read, n_total = txlog.tx_read_skipping(
        spark, t,
        {
            "o_custkey": (100, 400),
            "o_totalprice": (40_000.0, 160_000.0),
            "__days": (d0, d1),
        },
    )
    assert n_read < n_total, "3-D z-ordered layout must prune a 3-D box query"
    return pruned.drop("__days")


@register(
    "sql_pivot_syntax",
    oracle="""SELECT o_orderpriority,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
              FROM orders GROUP BY o_orderpriority""",
    tags=("sql", "dialect", "pivot", "aggregate"),
)
def sql_pivot_syntax(spark, sf_dir):
    # The SQL-dialect PIVOT form (pivot_status_counts covers the
    # DataFrame groupBy().pivot() API). Spark's PIVOT leaves an empty
    # cell NULL where DuckDB's FILTER count is 0 — COALESCE pins the
    # shared semantics.
    return run_sql(
        spark, sf_dir,
        """SELECT o_orderpriority,
                  COALESCE(F, 0) AS F, COALESCE(O, 0) AS O, COALESCE(P, 0) AS P
           FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
           PIVOT (COUNT(*) FOR o_orderstatus IN ('F' AS F, 'O' AS O, 'P' AS P))""",
    )


@register(
    "spatial_radius_pairs",
    oracle="""WITH p AS (SELECT event_id AS id,
                     CAST(event_id * 2654435761 % 100000 AS DOUBLE) / 100.0 AS x,
                     CAST(event_id * 40503 % 100000 AS DOUBLE) / 100.0 AS y
              FROM events WHERE event_id % 97 = 0)
              SELECT a.id AS id_a, b.id AS id_b,
                     CAST(FLOOR(((a.x - b.x) * (a.x - b.x)
                                 + (a.y - b.y) * (a.y - b.y)) * 1000000)
                          AS BIGINT) AS d2_e6
              FROM p a JOIN p b ON a.id < b.id
              WHERE (a.x - b.x) * (a.x - b.x)
                    + (a.y - b.y) * (a.y - b.y) <= 25.0""",
    tags=("spatial", "range", "join"),
)
def spatial_radius_pairs(spark, sf_dir):
    # Fixed-grid spatial join (operators/range_join.radius_neighbor_
    # pairs): cell-bucket candidates, exact-distance verify — the 2-D
    # sibling of the interval overlap join. Points derive from integer
    # hashes of event_id so both engines compute bit-identical doubles;
    # the oracle is the quadratic inequality join over the SAME points
    # (bucketing must be semantically invisible). Distances hash as
    # micro-quantized squared distance: products of identical doubles
    # are IEEE-exact on both engines, sqrt is not part of the contract.
    from ..operators import radius_neighbor_pairs

    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 97 == 0)
        .select(
            F.col("event_id").alias("id"),
            ((F.col("event_id") * 2654435761 % 100000).cast("double") / 100.0).alias("x"),
            ((F.col("event_id") * 40503 % 100000).cast("double") / 100.0).alias("y"),
        )
    )
    out = radius_neighbor_pairs(pts, radius=5.0)
    return out.select(
        "id_a",
        "id_b",
        F.floor(F.col("dist2") * 1_000_000).cast("long").alias("d2_e6"),
    )


@register(
    "spatial_geo_radius",
    oracle="""WITH p AS (SELECT event_id AS id,
                     CAST(event_id * 40503 % 170000 AS DOUBLE) / 1000.0
                       - 85.0 AS lat,
                     CAST(event_id * 2654435761 % 360000 AS DOUBLE) / 1000.0
                       - 180.0 AS lon
                     FROM events WHERE event_id % 53 = 0),
                   j AS (SELECT a.id AS id_a, b.id AS id_b,
                     2.0 * 6371.0088 * asin(sqrt(least(
                       sin(radians(b.lat - a.lat) / 2)
                         * sin(radians(b.lat - a.lat) / 2)
                       + cos(radians(a.lat)) * cos(radians(b.lat))
                         * sin(radians(b.lon - a.lon) / 2)
                         * sin(radians(b.lon - a.lon) / 2), 1.0))) AS d
                     FROM p a JOIN p b ON a.id < b.id)
              SELECT id_a, id_b,
                     CAST(ROUND(d * 1000) AS BIGINT) AS dist_m
              FROM j WHERE d <= 300.0""",
    tags=("spatial", "range", "join", "geo"),
)
def spatial_geo_radius(spark, sf_dir):
    # Geodesic (lat/lon) radius self-join on a 3-D unit-sphere grid —
    # pole- and date-line-safe (operators/range_join.geo_radius_pairs).
    # The grid prunes candidate pairs; the oracle is the naive O(n^2)
    # haversine join (fine at oracle scale), so the hash proves the
    # grid drops NO qualifying pair. Distances quantize to integer
    # meters for the compare — JVM and libm trig agree far beyond
    # millimeter precision on these fixed fixtures; the raw-double
    # twin stays differential-tested vs naive haversine in
    # tests/test_asof.py (incl. +-180 and near-pole planted pairs).
    from ..operators import geo_radius_pairs

    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 53 == 0)
        .select(
            F.col("event_id").alias("id"),
            ((F.col("event_id") * 40503 % 170000).cast("double") / 1000.0 - 85.0).alias("lat"),
            ((F.col("event_id") * 2654435761 % 360000).cast("double") / 1000.0 - 180.0).alias("lon"),
        )
    )
    pairs = geo_radius_pairs(pts, radius_km=300.0)
    return pairs.select(
        "id_a",
        "id_b",
        F.round(F.col("dist_km") * 1000).cast("long").alias("dist_m"),
    )


# Fixture geofence: convex pentagon, vertices CCW (convexity + winding
# asserted in tests/test_spatial_polygon.py). The oracle's half-plane
# constants are GENERATED from this same list so both engines evaluate
# byte-identical literals.
_FENCE = [
    (500.0, 900.0),
    (120.0, 624.0),
    (265.0, 176.0),
    (735.0, 176.0),
    (880.0, 624.0),
]


def _fence_sql_pred(verts) -> str:
    xs, ys = [v[0] for v in verts], [v[1] for v in verts]
    conds = [
        f"x >= {min(xs)}",
        f"x <= {max(xs)}",
        f"y >= {min(ys)}",
        f"y <= {max(ys)}",
    ]
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        conds.append(
            f"({x2 - x1}) * (y - {y1}) - ({y2 - y1}) * (x - {x1}) >= 0.0"
        )
    return " AND ".join(conds)


@register(
    "spatial_point_in_polygon",
    oracle=f"""WITH p AS (SELECT event_id AS id,
                     CAST(event_id * 2654435761 % 100000 AS DOUBLE) / 100.0 AS x,
                     CAST(event_id * 40503 % 100000 AS DOUBLE) / 100.0 AS y
              FROM events WHERE event_id % 97 = 0)
              SELECT id,
                     CAST(FLOOR(x * 1000000.0) AS BIGINT) AS x_e6,
                     CAST(FLOOR(y * 1000000.0) AS BIGINT) AS y_e6
              FROM p
              WHERE {_fence_sql_pred(_FENCE)}""",
    tags=("spatial", "filter", "geo"),
)
def spatial_point_in_polygon(spark, sf_dir):
    # Geofence containment: bbox prefilter + CCW half-plane conjunction
    # (operators/range_join.points_in_convex_polygon) — a pure codegen
    # predicate, no join, no UDF; on stored coordinates the bbox
    # conjuncts push into the scan. Points derive from integer hashes
    # (as spatial_radius_pairs) so both engines test identical doubles.
    from ..operators import points_in_convex_polygon

    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 97 == 0)
        .select(
            F.col("event_id").alias("id"),
            ((F.col("event_id") * 2654435761 % 100000).cast("double") / 100.0).alias("x"),
            ((F.col("event_id") * 40503 % 100000).cast("double") / 100.0).alias("y"),
        )
    )
    inside = points_in_convex_polygon(pts, _FENCE)
    return inside.select(
        "id",
        F.floor(F.col("x") * 1000000.0).cast("long").alias("x_e6"),
        F.floor(F.col("y") * 1000000.0).cast("long").alias("y_e6"),
    )


@register(
    "sql_nulls_ordering",
    oracle="""SELECT event_id,
                     CASE WHEN event_id % 10 = 0 THEN NULL
                          ELSE CAST(FLOOR(value * 100) AS BIGINT) END AS v
              FROM events
              ORDER BY v ASC NULLS LAST, event_id ASC
              LIMIT 50""",
    tags=("sql", "sort", "null"),
)
def sql_nulls_ordering(spark, sf_dir):
    # Explicit NULLS LAST pins the one place engine defaults diverge
    # (Spark sorts NULLS FIRST on ASC, DuckDB NULLS LAST) — the same
    # SQL text runs verbatim on both and must produce the same rows.
    return run_sql(
        spark, sf_dir,
        """SELECT event_id,
                  CASE WHEN event_id % 10 = 0 THEN NULL
                       ELSE CAST(FLOOR(value * 100) AS BIGINT) END AS v
           FROM events
           ORDER BY v ASC NULLS LAST, event_id ASC
           LIMIT 50""",
    )


@register(
    "sql_group_by_all",
    oracle="""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
              FROM lineitem
              GROUP BY ALL""",
    tags=("sql", "groupby", "aggregate"),
)
def sql_group_by_all(spark, sf_dir):
    # GROUP BY ALL — the modern shorthand both engines parse natively
    # (every non-aggregate select item becomes a grouping key).
    return run_sql(
        spark, sf_dir,
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
           FROM lineitem
           GROUP BY ALL""",
    )


@register(
    "sql_udf_scalar",
    oracle="""SELECT l_returnflag,
                     CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
                                         * 100) AS BIGINT)) AS BIGINT)
                       AS revenue_cents
              FROM lineitem WHERE l_quantity < 25
              GROUP BY 1""",
    tags=("sql", "functions", "udf"),
)
def sql_udf_scalar(spark, sf_dir):
    # Spark 4 SQL-language UDF (CREATE FUNCTION ... RETURN <expr>):
    # declared in SQL, inlined by Catalyst into the plan — codegen-
    # compiled like any expression, NO Python boundary (contrast
    # F.udf, which serializes rows). The oracle inlines the same
    # expression, which is exactly the point: a SQL UDF is sugar the
    # optimizer sees through.
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION disc_cents(
               p DOUBLE, d DOUBLE) RETURNS BIGINT
           RETURN CAST(FLOOR(p * (1.0 - d) * 100) AS BIGINT)"""
    )
    return run_sql(
        spark, sf_dir,
        """SELECT l_returnflag,
                  SUM(disc_cents(l_extendedprice, l_discount)) AS revenue_cents
           FROM lineitem WHERE l_quantity < 25
           GROUP BY 1""",
    )


@register(
    "sql_pipe_syntax",
    oracle="""SELECT o_orderpriority, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE o_orderstatus = 'O'
              GROUP BY 1""",
    tags=("sql", "dialect", "pipe", "aggregate"),
)
def sql_pipe_syntax(spark, sf_dir):
    # SQL pipe syntax (Spark 4.0+, SQL:2023-adjacent): the same logical
    # plan written as a left-to-right pipeline. Parses to the identical
    # Catalyst tree as the oracle's classic form — dialect parity row.
    return run_sql(
        spark, sf_dir,
        """FROM orders
           |> WHERE o_orderstatus = 'O'
           |> AGGREGATE COUNT(*) AS n,
                        SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS cents
              GROUP BY o_orderpriority
           |> SELECT o_orderpriority, n, cents""",
    )


@register(
    "dq_table_checksum",
    oracle=r"""SELECT COUNT(*) AS n_rows,
                      CAST(SUM(CAST(('0x' || substr(md5(
                        CAST(o_orderkey AS VARCHAR) || '|' ||
                        CAST(o_custkey AS VARCHAR) || '|' ||
                        o_orderstatus || '|' ||
                        CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR)), 1, 12)) AS BIGINT))
                        AS VARCHAR) AS checksum""" + "\n              FROM orders",
    tags=("dq", "aggregate"),
)
def dq_table_checksum(spark, sf_dir):
    # Order-independent CROSS-ENGINE content checksum of orders
    # (operators/dq.py portable_checksum): md5-48bit per canonical row
    # rendering, summed exactly — the two-number integrity handshake a
    # migration runs on source and target. The oracle replays the
    # identical arithmetic in DuckDB, so the value-hash proves the
    # checksum definition is engine-portable, not just stable. (The
    # Spark-internal xxhash64 twin, table_checksum, stays the in-fleet
    # fast path; its invariances are pytest-asserted in test_dq.py.)
    from ..operators.dq import portable_checksum

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    out = portable_checksum(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "cents"]
    )
    # exact digits, not a rounded double — the sum exceeds 2^53 at
    # warehouse row counts and a lossy cast would defeat the handshake
    return out.select(
        "n_rows", F.col("checksum").cast("string").alias("checksum")
    )


@register(
    "sql_trycast_values_ilike",
    oracle="""SELECT t.k, t.raw, TRY_CAST(t.raw AS BIGINT) AS num,
                     n.n_name
              FROM (VALUES (1, '42', 'ALGERIA'), (2, 'x7', 'brazil'),
                           (3, '8', 'CANADA'), (4, '', 'no-such-%')) AS t(k, raw, pat)
              LEFT JOIN nation n ON n.n_name ILIKE t.pat
              ORDER BY t.k""",
    tags=("sql", "functions", "null", "join"),
)
def sql_trycast_values_ilike(spark, sf_dir):
    # Column naming note: the driver's comparator sorts rows by the
    # alphabetically-first column, so the unique key ``k`` must sort
    # before the nullable ``num`` (None is unorderable against int).
    # Three more verbatim-SQL parity points in one query: TRY_CAST
    # (error-safe cast -> NULL, never throw, even under Spark's ANSI
    # mode), inline VALUES tables with column aliases, and ILIKE
    # case-insensitive matching — identical text on both engines.
    return run_sql(
        spark, sf_dir,
        """SELECT t.k, t.raw, TRY_CAST(t.raw AS BIGINT) AS num,
                  n.n_name
           FROM (VALUES (1, '42', 'ALGERIA'), (2, 'x7', 'brazil'),
                        (3, '8', 'CANADA'), (4, '', 'no-such-%')) AS t(k, raw, pat)
           LEFT JOIN nation n ON n.n_name ILIKE t.pat
           ORDER BY t.k""",
    )


@register(
    "agg_bitmap_distinct_weekly",
    oracle="""SELECT event_type,
                     CAST(date_trunc('week', ts) AS VARCHAR) AS week,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
              FROM events GROUP BY 1, 2""",
    tags=("aggregate", "bitmap", "distinct", "sketch"),
)
def agg_bitmap_distinct_weekly(spark, sf_dir):
    # EXACT mergeable distinct counting — the value-hash-checkable twin
    # of agg_hll_reaggregate: per-(type, day) bitmap indexes of user
    # ids, OR-merged to weeks, popcounted (functions/bitmaps.py). The
    # raw events shuffle exactly once (into daily bitmaps); the weekly
    # answer — and any future monthly/quarterly one — reaggregates
    # 4 KB bitsets. Reference parity: COUNT(DISTINCT) done by kernels
    # that rescan raw values per question (src/operators/aggregate.h).
    from ..functions.bitmaps import rollup_distinct

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("week", F.col("ts")).alias("wk"),
        "user_id",
    )
    out = rollup_distinct(
        ev,
        fine_keys=("event_type", "wk", "day"),
        coarse_keys=("event_type", "wk"),
        id_col="user_id",
    )
    return out.select(
        "event_type",
        # DuckDB's date_trunc('week') yields DATE; match its text form
        F.col("wk").cast("date").cast("string").alias("week"),
        "n_distinct",
    )


@register(
    "union_by_name_drift",
    oracle="""SELECT o_orderkey, o_orderstatus, o_totalprice
              FROM (SELECT o_orderkey, o_orderstatus FROM orders
                    WHERE o_orderkey % 3 = 0
                    UNION ALL BY NAME
                    SELECT o_orderkey, o_totalprice FROM orders
                    WHERE o_orderkey % 3 = 1)""",
    tags=("set", "setop", "schema_evolution"),
)
def union_by_name_drift(spark, sf_dir):
    # Schema-drift ingestion: two landing batches whose column sets
    # differ (a column added/dropped between pipeline versions) are
    # unioned BY NAME, absent columns padded with NULL — Spark
    # unionByName(allowMissingColumns=True) == DuckDB UNION ALL BY
    # NAME. The positional-union trap (silently pairing unrelated
    # columns) is exactly what this surface exists to avoid.
    o = _t(spark, sf_dir, "orders")
    b1 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    b2 = o.filter(F.col("o_orderkey") % 3 == 1).select(
        "o_orderkey", "o_totalprice"
    )
    return b1.unionByName(b2, allowMissingColumns=True).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "agg_mode_listagg",
    oracle="""WITH c AS (SELECT o_orderstatus AS st, o_orderpriority AS pr,
                                COUNT(*) AS n
                         FROM orders GROUP BY 1, 2),
                   m AS (SELECT st, MIN(pr) AS mode_priority
                         FROM (SELECT st, pr, n,
                                      MAX(n) OVER (PARTITION BY st) AS mx
                               FROM c)
                         WHERE n = mx GROUP BY st),
                   l AS (SELECT o_orderstatus AS st,
                                string_agg(DISTINCT o_orderpriority, ','
                                           ORDER BY o_orderpriority) AS priorities
                         FROM orders GROUP BY 1)
              SELECT m.st AS o_orderstatus, m.mode_priority, l.priorities
              FROM m JOIN l ON m.st = l.st""",
    tags=("aggregate", "mode", "listagg"),
)
def agg_mode_listagg(spark, sf_dir):
    # Two aggregate surfaces the reference lacks entirely, both made
    # DETERMINISTIC so the value-hash gate can check them: modal value
    # per group (F.mode breaks ties arbitrarily -> recompute as
    # min-priority-among-max-count) and LISTAGG/string_agg (order
    # pinned by sorting the collected set before joining).
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy(
        F.col("o_orderstatus").alias("st"), F.col("o_orderpriority").alias("pr")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("st")
    mode = (
        counts.withColumn("mx", F.max("n").over(w))
        .filter(F.col("n") == F.col("mx"))
        .groupBy("st")
        .agg(F.min("pr").alias("mode_priority"))
    )
    lst = o.groupBy(F.col("o_orderstatus").alias("st")).agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), ","
        ).alias("priorities")
    )
    return mode.join(lst, "st").select(
        F.col("st").alias("o_orderstatus"), "mode_priority", "priorities"
    )


@register(
    "pareto_frontier_parts",
    oracle="""SELECT p1.p_partkey,
                     CAST(p1.p_retailprice AS DOUBLE) AS price,
                     CAST(p1.p_size AS INTEGER) AS psize
              FROM part p1
              WHERE NOT EXISTS (
                SELECT 1 FROM part p2
                WHERE p2.p_retailprice <= p1.p_retailprice
                  AND p2.p_size <= p1.p_size
                  AND (p2.p_retailprice < p1.p_retailprice
                       OR p2.p_size < p1.p_size))""",
    tags=("skyline", "pandas_udf"),
)
def pareto_frontier_parts(spark, sf_dir):
    # SKYLINE: cheapest-and-smallest parts (nothing both <= and
    # strictly < in a dimension). The oracle is the quadratic NOT
    # EXISTS self-join; the engine answers with the two-level local
    # frontier reduction (operators/skyline.py) — no self-join at all.
    from ..operators.skyline import skyline_2d

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("price"),
        F.col("p_size").cast("int").alias("psize"),
    )
    return skyline_2d(p, "price", "psize")


@register(
    "window_distinct_trailing_7d",
    oracle="""WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
                                 user_id
                          FROM events),
                   days AS (SELECT DISTINCT day FROM du)
              SELECT CAST(d.day AS VARCHAR) AS day,
                     CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS n_users_7d
              FROM days d
              JOIN du ON du.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
              GROUP BY 1""",
    tags=("window", "distinct", "timeseries"),
)
def window_distinct_trailing_7d(spark, sf_dir):
    # Trailing-7-day EXACT distinct users per active day (rolling MAU
    # shape). COUNT(DISTINCT) is not window-decomposable — the classic
    # answer is a per-day state machine or a range self-join. Scale
    # design: dedupe to (day, user) FIRST (the only pass over raw
    # events), then replicate each surviving pair to the <=7 target
    # days it can serve via sequence+explode and run one exact
    # distinct agg keyed by (target_day, user). Replication factor is
    # a constant 7x of the *deduped* pairs, not of the raw events, and
    # every stage is a plain hash shuffle — no global window, no
    # quadratic day x day join.
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    grid = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    )
    out = grid.join(days, "day").groupBy("day").agg(
        F.count_distinct("user_id").alias("n_users_7d")
    )
    return out.select(F.col("day").cast("string").alias("day"), "n_users_7d")


@register(
    "asof_join_sharded_backward",
    oracle="""SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
                     c.value AS last_click_value
              FROM events e ASOF JOIN
                   (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                           MAX(value) AS value
                    FROM events WHERE event_type = 'click'
                    GROUP BY 1, 2) c
                ON e.user_id = c.user_id
               AND CAST(e.ts AS TIMESTAMP) >= c.ts""",
    tags=("asof", "join", "skew", "timeseries"),
)
def asof_join_sharded_backward(spark, sf_dir):
    # The pathological-key scale path (operators/asof.asof_join_sharded):
    # same as-of semantics, but the union-window runs partitioned by
    # (key, time-shard) with per-shard carry-in rows, so one fat key
    # spreads over 16 partitions instead of one. Oracle: DuckDB's
    # native ASOF JOIN — identical to the unsharded form's, which is
    # the point: the salting is invisible in the result. Right side is
    # pre-aggregated to one row per (user, ts) so the match is
    # deterministic.
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    j = asof_join_sharded(
        ev.select("event_id", "user_id", "ts"),
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["value"],
        how="inner",
        n_shards=16,
    )
    return j.select(
        "event_id", "user_id", "ts", F.col("r_value").alias("last_click_value")
    )


@register(
    "asof_join_tolerance",
    oracle="""WITH j AS MATERIALIZED (
                SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
                       c.value AS last_click_value, c.ts AS match_ts
                FROM events e ASOF JOIN
                     (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                      FROM events WHERE event_type = 'click') c
                  ON e.user_id = c.user_id
                 AND CAST(e.ts AS TIMESTAMP) >= c.ts)
              -- MATERIALIZED: DuckDB would otherwise push the age
              -- filter INTO the ASOF join ("Multiple ASOF JOIN
              -- inequalities" binder error)
              SELECT event_id, user_id, ts, last_click_value
              FROM j WHERE match_ts >= ts - INTERVAL 2 HOUR""",
    tags=("asof", "join", "tolerance"),
)
def asof_join_tolerance(spark, sf_dir):
    # Bounded-staleness as-of (pandas merge_asof tolerance=...): the
    # latest click counts only if it is at most 2 h old. Oracle =
    # native ASOF JOIN then an age filter — equivalent because ASOF
    # already picked the LATEST match, so "match exists within
    # tolerance" == "the latest match is within tolerance".
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    j = asof_join(
        ev.select("event_id", "user_id", "ts"),
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["value"],
        tolerance="2 hours",
    )
    return j.select(
        "event_id", "user_id", "ts", F.col("r_value").alias("last_click_value")
    )


@register(
    "lake_sorted_export",
    oracle="""SELECT l_orderkey, l_linenumber, l_extendedprice
              FROM lineitem
              ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC
              LIMIT 100""",
    tags=("lake", "sort", "sink", "export"),
)
def lake_sorted_export(spark, sf_dir):
    # Totally-ordered multi-file export (the scalable form of the
    # reference's ORDER BY -> CSV sink, which only sorts one batch):
    # an append, then one sorting compaction — range-partitioned
    # rewrite with per-file stats riding the commit
    # (txlog.tx_compact(sort_by=)) — then CONSUME the contract: the
    # global top-100 cheapest rows must live in the first files of
    # the log's file order (txlog.tx_sorted_file_order), so only 2 of
    # the 8 files are read to answer a query the oracle computes over
    # the whole table.
    import os
    import tempfile

    from ..sources import txlog

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    path = tempfile.mkdtemp(prefix="sorted_export_") + "/li"
    txlog.tx_append(li, path)
    txlog.tx_compact(spark, path, num_files=8, sort_by=["l_extendedprice"])
    files = txlog.tx_sorted_file_order(path, "l_extendedprice")
    assert len(files) >= 2, "export must span multiple files"
    head = spark.read.parquet(*[os.path.join(path, f) for f in files[:2]])
    return head.orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).limit(100)


@register(
    "lake_instant_count",
    oracle="""SELECT COUNT(*) AS n_rows,
                     CAST(MIN(o_orderkey) AS BIGINT) AS key_min,
                     CAST(MAX(o_orderkey) AS BIGINT) AS key_max
              FROM orders""",
    tags=("lake", "data-skipping", "metadata", "aggregate"),
)
def lake_instant_count(spark, sf_dir):
    # Metadata-only query answering: COUNT/MIN/MAX served from the
    # per-file stats the append's commit carries (txlog.tx_instant_agg)
    # — ZERO data files scanned, asserted in-query (the stats are a
    # few numbers per file; at 100 TB that's kilobytes vs terabytes,
    # the same trick Delta/Iceberg stats and parquet footer-count
    # pushdown play). The oracle recomputes from the full table;
    # equality proves the stats stay truthful.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="instant_count_") + "/orders"
    txlog.tx_append(o.repartition(6), path, stats_cols=["o_orderkey"])
    df, n_scanned, n_total = txlog.tx_instant_agg(spark, path, "o_orderkey")
    assert n_scanned == 0 and n_total == 6, (n_scanned, n_total)
    return df.select(
        "n_rows",
        F.col("col_min").cast("long").alias("key_min"),
        F.col("col_max").cast("long").alias("key_max"),
    )


@register(
    "lake_instant_distinct",
    oracle="""SELECT COUNT(DISTINCT o_custkey) AS n_distinct
              FROM orders""",
    tags=("lake", "metadata", "distinct", "bitmap", "aggregate"),
)
def lake_instant_distinct(spark, sf_dir):
    # Exact COUNT(DISTINCT) served from per-file BITMAP sidecars
    # (txlog.tx_instant_distinct): the table is appended with its
    # bitmaps riding the commit, two more files are appended the same
    # way (each commit builds bitmaps for its own files only), then the
    # answer is an OR-merge + popcount over the sidecars with ZERO
    # data files scanned. The oracle recomputes from raw rows, so the
    # hash proves the bitmap algebra exact through the append.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    path = tempfile.mkdtemp(prefix="instant_distinct_") + "/orders"
    for keep, n in ((F.col("o_orderkey") % 3 != 0, 4),
                    (F.col("o_orderkey") % 3 == 0, 2)):
        txlog.tx_append(
            o.filter(keep).repartition(n), path, distinct_cols=["o_custkey"]
        )
    df, n_scanned, n_total = txlog.tx_instant_distinct(spark, path, "o_custkey")
    assert n_scanned == 0 and n_total == 6, (n_scanned, n_total)
    return df


@register(
    "lake_version_diff",
    oracle="""WITH v0 AS (SELECT o_orderkey, o_totalprice, o_orderstatus
                          FROM orders WHERE o_orderkey % 3 <> 0),
                   v1 AS (SELECT o_orderkey,
                                 CASE WHEN o_orderkey % 7 = 0
                                      THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
                                      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS o_totalprice,
                                 o_orderstatus
                          FROM orders
                          WHERE (o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0)
                             OR o_orderkey % 15 = 0)
              SELECT COALESCE(v0.o_orderkey, v1.o_orderkey) AS o_orderkey,
                     CASE WHEN v0.o_orderkey IS NULL THEN 'I'
                          WHEN v1.o_orderkey IS NULL THEN 'D'
                          ELSE 'U' END AS change_type,
                     CAST(CASE WHEN v1.o_orderkey IS NULL THEN v0.o_totalprice
                               ELSE v1.o_totalprice END AS DOUBLE) AS o_totalprice,
                     CASE WHEN v1.o_orderkey IS NULL THEN v0.o_orderstatus
                          ELSE v1.o_orderstatus END AS o_orderstatus
              FROM v0 FULL JOIN v1 ON v0.o_orderkey = v1.o_orderkey
              WHERE v0.o_orderkey IS NULL OR v1.o_orderkey IS NULL
                 OR v0.o_totalprice <> v1.o_totalprice
                 OR v0.o_orderstatus <> v1.o_orderstatus""",
    tags=("lake", "cdc", "time-travel"),
)
def lake_version_diff(spark, sf_dir):
    # Time travel composed with CDC: two snapshots land as versions of
    # one transactional table (an append, then an overwrite), then
    # snapshot_diff(read v0, read v1) derives the I/U/D change feed —
    # "what changed between yesterday's and today's table" without any
    # event log, the lakehouse answer to the reference's
    # rewrite-the-whole-CSV sink. Snapshots are deterministic
    # derivations of orders so the oracle can rebuild both sides.
    import tempfile

    from ..operators.cdc import snapshot_diff
    from ..sources import txlog

    o = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    v0 = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", price.cast("double").alias("o_totalprice"), "o_orderstatus"
    )
    v1 = (
        o.filter(
            ((F.col("o_orderkey") % 3 != 0) & (F.col("o_orderkey") % 5 != 0))
            | (F.col("o_orderkey") % 15 == 0)
        )
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, price * 2)
            .otherwise(price)
            .cast("double")
            .alias("o_totalprice"),
            "o_orderstatus",
        )
    )
    path = tempfile.mkdtemp(prefix="version_diff_") + "/orders"
    n0 = txlog.tx_append(v0, path)
    n1, _ = txlog.tx_overwrite(spark, path, v1)
    old = txlog.read_snapshot(spark, path, version=n0)
    new = txlog.read_snapshot(spark, path, version=n1)
    return snapshot_diff(old, new, keys=["o_orderkey"])


@register(
    "window_locf_fill",
    oracle="""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                                CASE WHEN event_id % 5 = 0 THEN NULL
                                     ELSE CAST(FLOOR(value * 100) AS BIGINT)
                                END AS v
                         FROM events WHERE user_id % 41 = 0)
              SELECT event_id, user_id, ts, v,
                     LAST_VALUE(v IGNORE NULLS) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS v_locf
              FROM e""",
    tags=("window", "null", "timeseries", "gap_fill"),
)
def window_locf_fill(spark, sf_dir):
    # Last-observation-carried-forward via LAST_VALUE ... IGNORE NULLS
    # — the window idiom for in-row gap fill (resample_ffill_hourly is
    # the grid-spine variant; this fills at the ORIGINAL row grain).
    # The engines place IGNORE NULLS differently (Spark:
    # `LAST_VALUE(v) IGNORE NULLS`, DuckDB: `LAST_VALUE(v IGNORE
    # NULLS)`) but the semantics match exactly: leading NULL runs stay
    # NULL, every other NULL takes the latest non-NULL before it.
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 41 == 0)
    e = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 == 0, None)
        .otherwise(F.floor(F.col("value") * 100).cast("long"))
        .alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.withColumn("v_locf", F.last("v", ignorenulls=True).over(w))


@register(
    "agg_hll_set_ops",
    oracle=None,
    tags=("aggregate", "approx", "sketch", "setop"),
)
def agg_hll_set_ops(spark, sf_dir):
    # Sketch SET ALGEBRA: audience-overlap estimation from per-segment
    # HLL sketches alone. |click ∩ purchase| users is estimated by
    # inclusion-exclusion over three mergeable sketches (A, B, A∪B) —
    # no rescan of the raw events, the exact question ("how many users
    # did both?") a 100 TB audience system answers from a sketch store.
    # Rows-only (estimates are engine-specific); the error bound vs
    # exact COUNT(DISTINCT) intersection is pytest-asserted.
    ev = _t(spark, sf_dir, "events")
    sk = ev.filter(F.col("event_type").isin("click", "purchase")).groupBy(
        "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    both = sk.agg(
        F.hll_union_agg("sk").alias("sk_union"),
        # per-segment sketches survive as a map for the estimates
        F.map_from_entries(
            F.collect_list(F.struct(F.col("event_type"), F.col("sk")))
        ).alias("by_type"),
    )
    return both.select(
        F.hll_sketch_estimate(F.element_at("by_type", "click")).alias("n_click"),
        F.hll_sketch_estimate(F.element_at("by_type", "purchase")).alias(
            "n_purchase"
        ),
        F.hll_sketch_estimate("sk_union").alias("n_union"),
        (
            F.hll_sketch_estimate(F.element_at("by_type", "click"))
            + F.hll_sketch_estimate(F.element_at("by_type", "purchase"))
            - F.hll_sketch_estimate("sk_union")
        ).alias("n_intersect_est"),
    )


@register(
    "asof_join_strict",
    oracle="""SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
                     c.value AS prev_click_value
              FROM events e ASOF JOIN
                   (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
                    FROM events WHERE event_type = 'click') c
                ON e.user_id = c.user_id AND CAST(e.ts AS TIMESTAMP) > c.ts""",
    tags=("asof", "join", "null"),
)
def asof_join_strict(spark, sf_dir):
    # STRICT as-of (allow_exact=False): the latest click strictly
    # BEFORE each event — a click must not match the event it is
    # (pandas merge_asof(allow_exact_matches=False)). Same one-shuffle
    # plan; only the equal-timestamp tiebreak flips. Oracle: DuckDB
    # native ASOF with the strict `>` comparison.
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    j = asof_join(
        ev.select("event_id", "user_id", "ts"),
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["value"],
        allow_exact=False,
    )
    return j.select(
        "event_id", "user_id", "ts", F.col("r_value").alias("prev_click_value")
    )


@register(
    "asof_join_nearest",
    oracle="""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                                MAX(value) AS value
                         FROM events WHERE event_type = 'click'
                         GROUP BY 1, 2),
                   e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                         FROM events),
                   b AS (SELECT e.event_id, c.ts AS bts, c.value AS bval
                         FROM e ASOF LEFT JOIN c
                           ON e.user_id = c.user_id AND e.ts >= c.ts),
                   f AS (SELECT e.event_id, c.ts AS fts, c.value AS fval
                         FROM e ASOF LEFT JOIN c
                           ON e.user_id = c.user_id AND e.ts <= c.ts)
              SELECT e.event_id, e.user_id, e.ts,
                     CASE WHEN b.bts IS NULL THEN f.fval
                          WHEN f.fts IS NULL THEN b.bval
                          WHEN (f.fts - e.ts) < (e.ts - b.bts) THEN f.fval
                          ELSE b.bval END AS near_click_value
              FROM e
              JOIN b USING (event_id)
              JOIN f USING (event_id)
              WHERE b.bts IS NOT NULL OR f.fts IS NOT NULL""",
    tags=("asof", "join", "timeseries"),
)
def asof_join_nearest(spark, sf_dir):
    # direction="nearest" (pandas merge_asof parity, ties -> backward):
    # BOTH direction fills ride the same single shuffle (two window
    # sorts over one exchange), then the smaller gap wins. Right side
    # pre-aggregated to one row per (user, ts) so the pick is
    # deterministic. Oracle: two native DuckDB ASOF joins + the same
    # CASE. how="inner" == at least one side matched.
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    j = asof_join(
        ev.select("event_id", "user_id", "ts"),
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["value"],
        direction="nearest",
    )
    return j.select(
        "event_id", "user_id", "ts", F.col("r_value").alias("near_click_value")
    )


# --------------------------------------------------------------------------
# Scale-technique joins the brief calls out by name: bucketed co-located
# sort-merge (zero-shuffle join at read time) and Bloom-prefiltered join
# (cut the fact side BEFORE its shuffle). Both oracles are the plain
# join — the techniques must be invisible in the result.
# --------------------------------------------------------------------------
@register(
    "join_bucketed_smb",
    oracle="""SELECT c_mktsegment,
                     COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment""",
    tags=("join", "bucketed", "lake", "scale"),
)
def join_bucketed_smb(spark, sf_dir):
    # Co-located join via bucketing (sources/lake.py
    # write_bucketed_table): both sides pre-shuffled into 8 buckets by
    # the join key at WRITE time, so the sort-merge join at READ time
    # has NO Exchange on either side — the one-time write cost
    # amortizes over every subsequent join, the decisive trade at
    # 100 TB where the fact-side shuffle IS the job. The merge hint
    # pins the SMJ (Catalyst would broadcast this small dim);
    # tests/test_plans.py asserts the exchange-free plan shape.
    import tempfile

    from ..sources.lake import write_bucketed_table

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = tempfile.mkdtemp(prefix="smb_join_")
    write_bucketed_table(
        orders, "smb_orders", "o_custkey", 8, base + "/orders", sort_by="o_custkey"
    )
    write_bucketed_table(
        cust, "smb_customer", "c_custkey", 8, base + "/customer", sort_by="c_custkey"
    )
    o, c = spark.table("smb_orders"), spark.table("smb_customer")
    j = o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_money("o_totalprice")).cast("double").alias("revenue"),
    )


@register(
    "join_bloom_prefilter",
    oracle="""SELECT c_nationkey,
                     COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
              FROM orders JOIN customer ON o_custkey = c_custkey
              WHERE c_mktsegment = 'BUILDING'
              GROUP BY c_nationkey""",
    tags=("join", "bloom", "scale"),
)
def join_bloom_prefilter(spark, sf_dir):
    # Bloom-filter semi-join pre-filter (operators/bloom_join.py): the
    # selective dim predicate ('BUILDING' ~ 1/5 of customers) is
    # pushed onto the fact scan as a bitmap test BEFORE the join, so
    # only might-match rows pay the join at all; the exact join then
    # removes the bounded false-positive residue — the oracle is the
    # PLAIN join because the bloom must be invisible in the result.
    # tests/test_bloom_join.py asserts it actually prunes and that FPs
    # are removed.
    from ..operators.bloom_join import bloom_semi_filter

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_nationkey")
    )
    pre = bloom_semi_filter(orders, dim, "o_custkey", "c_custkey")
    j = pre.join(F.broadcast(dim), pre["o_custkey"] == dim["c_custkey"])
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_money("o_totalprice")).cast("double").alias("revenue"),
    )


@register(
    "cdc_apply_full",
    oracle="""WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_orderpriority
                           FROM orders),
                   del AS (SELECT o_orderkey FROM tgt
                           WHERE o_orderkey % 19 = 0),
                   upd AS (SELECT o_orderkey, 'U' AS o_orderstatus,
                                  o_orderpriority
                           FROM tgt
                           WHERE o_orderkey % 13 = 0 AND o_orderkey % 19 <> 0),
                   ins AS (SELECT o_orderkey + 20000000 AS o_orderkey,
                                  'N' AS o_orderstatus, o_orderpriority
                           FROM tgt WHERE o_orderkey % 17 = 0),
                   touched AS (SELECT o_orderkey FROM del
                               UNION ALL SELECT o_orderkey FROM upd
                               UNION ALL SELECT o_orderkey FROM ins)
              SELECT t.o_orderkey, t.o_orderstatus, t.o_orderpriority
              FROM tgt t
              WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM touched)
              UNION ALL SELECT * FROM upd
              UNION ALL SELECT * FROM ins""",
    tags=("cdc", "merge", "lake"),
)
def cdc_apply_full(spark, sf_dir):
    # The COMPLETE MERGE surface — deletes included (merge_upsert_orders
    # covers U/I only): a deterministic I/U/D feed applied via
    # operators/cdc.py merge_apply_cdc. One anti-join shuffle total;
    # deletes ride the anti-join the upserts already pay for.
    from ..operators.cdc import merge_apply_cdc

    tgt = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    key = F.col("o_orderkey")
    deletes = tgt.filter(key % 19 == 0).withColumn("op", F.lit("D"))
    updates = (
        tgt.filter((key % 13 == 0) & (key % 19 != 0))
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("op", F.lit("U"))
    )
    inserts = (
        tgt.filter(key % 17 == 0)
        .withColumn("o_orderkey", key + 20000000)
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("op", F.lit("I"))
    )
    changes = deletes.unionByName(updates).unionByName(inserts)
    return merge_apply_cdc(tgt, changes, keys=["o_orderkey"])


@register(
    "changepoint_cusum_priority",
    oracle="""WITH daily AS (
                SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
                       COUNT(*) AS n
                FROM orders GROUP BY 1, 2),
              mu AS (SELECT pri, AVG(n) AS mu FROM daily GROUP BY pri),
              s AS (SELECT daily.pri, d, n,
                           SUM(n - mu) OVER (PARTITION BY daily.pri ORDER BY d
                                             ROWS UNBOUNDED PRECEDING) AS cusum
                    FROM daily JOIN mu ON daily.pri = mu.pri)
              SELECT pri, d, n,
                     CAST(round(cusum * 1e6) AS BIGINT) AS cusum_e6
              FROM s""",
    tags=("timeseries", "window", "anomaly"),
)
def changepoint_cusum_priority(spark, sf_dir):
    # Mean-shift change-point statistic (CUSUM chart, no-reset form):
    # per priority class, the running sum of deviations from the class
    # mean of the daily order count — |CUSUM| peaks at the most likely
    # change point. The window is PARTITIONED by class (plan-sweep
    # rule: never a global orderBy window); the running double sum is
    # order-deterministic (unique days within a class) so both engines
    # fold bit-identical IEEE doubles and the 1e-6 quantization hashes
    # exactly.
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.to_date("o_orderdate").alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mu = daily.groupBy("pri").agg(F.avg("n").alias("mu"))
    w = (
        Window.partitionBy("pri")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        daily.join(mu, "pri")
        .select(
            "pri",
            "d",
            "n",
            F.round(F.sum(F.col("n") - F.col("mu")).over(w) * 1e6)
            .cast("long")
            .alias("cusum_e6"),
        )
    )


# --------------------------------------------------------------------------
# Round-10 additions: lake feature proofs (Bloom point lookup, vacuum
# retention guard) and three operator-family rows (set intersection,
# gap sessionization, band range-join) — each an oracle-checked query
# a real pipeline runs, registered to carry its family in the driver
# window.
# --------------------------------------------------------------------------
@register(
    "lake_tx_point_lookup_bloom",
    oracle="""WITH probe AS (
                SELECT o_custkey FROM orders
                ORDER BY o_orderkey LIMIT 1)
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents,
                     CAST(MIN(o_orderkey) AS BIGINT) AS min_key
              FROM orders
              WHERE o_custkey = (SELECT o_custkey FROM probe)""",
    tags=("lake", "bloom", "acid", "pushdown"),
)
def lake_tx_point_lookup_bloom(spark, sf_dir):
    # Needle-in-haystack equality through the commit log's per-file
    # BLOOM sidecars (txlog.tx_point_lookup): the appended files are
    # range-localized on o_custkey, the filters ride the append commit
    # (bloom_cols=), and the probe opens strictly fewer files than the
    # snapshot holds — asserted in-query, so the driver grade proves
    # the skipping, not just the answer. WHERE id = ? on an
    # unclustered 100 TB table prunes nothing by min/max stats; the
    # per-file Bloom filter is what kills the other files.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    t = tempfile.mkdtemp(prefix="lake_txbloom_") + "/orders"
    txlog.tx_append(
        o.repartitionByRange(8, "o_custkey"), t, bloom_cols=["o_custkey"]
    )
    probe = int(
        o.orderBy("o_orderkey").select("o_custkey").first().o_custkey
    )
    df, n_read, n_total = txlog.tx_point_lookup(
        spark, t, "o_custkey", probe
    )
    assert 0 < n_read < n_total, (n_read, n_total)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("cents"),
        F.min("o_orderkey").cast("long").alias("min_key"),
    )


@register(
    "lake_tx_vacuum_retention",
    oracle="""SELECT o_orderstatus, COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders GROUP BY o_orderstatus""",
    tags=("lake", "retention", "vacuum", "acid", "groupby"),
)
def lake_tx_vacuum_retention(spark, sf_dir):
    # VACUUM with Delta's retention guard, driver-graded: orphan files
    # land in data/ exactly like a crashed writer's staging
    # (txlog._stage writes BEFORE any commit references them), a
    # guarded vacuum (24 h retention) must reclaim NOTHING — a fresh
    # orphan is indistinguishable from an in-flight writer's staged
    # file — and only the zero-retention pass reclaims them. The
    # committed snapshot must read identically before and after, which
    # is what the oracle grades.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = tempfile.mkdtemp(prefix="lake_txvac_") + "/orders"
    txlog.tx_append(o, t)
    # a crashed writer: staged, never committed
    orphans = txlog._stage(o.limit(100), t)
    assert orphans
    kept = txlog.tx_vacuum(t, retention_seconds=86400.0)
    assert kept == [], f"retention guard must protect fresh files: {kept}"
    reclaimed = txlog.tx_vacuum(t, retention_seconds=0.0)
    assert set(orphans) <= {r for r in reclaimed}, (orphans, reclaimed)
    return txlog.read_snapshot(spark, t).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )


@register(
    "lake_tx_identity_merge",
    oracle="""SELECT c_mktsegment,
                     COUNT(*) AS n,
                     COUNT(*) AS n_unique_ids,
                     COUNT(*) AS n_on_lattice,
                     CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT))
                          AS BIGINT) AS balance_cents
              FROM customer GROUP BY c_mktsegment""",
    tags=("lake", "acid", "identity", "merge", "groupby"),
)
def lake_tx_identity_merge(spark, sf_dir):
    # IDENTITY COLUMNS end-to-end (txlog.tx_set_identity — Delta's
    # GENERATED ALWAYS AS IDENTITY; the reference has no generator
    # surface at all): half of customer appends with engine-ASSIGNED
    # surrogate keys (distributed, no global sort), the other half —
    # overlapping 1-in-3 of the first — lands via MERGE, where matched
    # rows must KEEP their assigned id and inserts must mint fresh
    # ones beyond the watermark. The generated values themselves are
    # nondeterministic (gap-allowed reservation), so the oracle grades
    # the CONTRACT relationally: n_unique_ids == n proves global
    # uniqueness across append+merge, n_on_lattice == n proves every
    # id is on the start + k*step lattice, and the payload aggregate
    # proves the merge itself was lossless. Matched-id stability is
    # asserted in-query (one scalar aggregate).
    import tempfile

    from ..sources import txlog

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = tempfile.mkdtemp(prefix="lake_txid_") + "/customer"
    txlog.tx_append(
        c.filter(F.col("c_custkey") % 2 == 0).limit(0).withColumn(
            "id", F.lit(None).cast("long")
        ),
        t,
    )
    txlog.tx_set_identity(spark, t, "id", start=10, step=3, always=True)
    txlog.tx_append(c.filter(F.col("c_custkey") % 2 == 0), t)
    before = txlog.read_snapshot(spark, t).select(
        "c_custkey", F.col("id").alias("id_before")
    )
    # merge source: all odd keys (inserts) + every 6th key (matched)
    src = c.filter(
        (F.col("c_custkey") % 2 == 1) | (F.col("c_custkey") % 6 == 0)
    )
    txlog.tx_merge_upsert(spark, t, src, ["c_custkey"])
    snap = txlog.read_snapshot(spark, t)
    n_changed = (
        snap.join(before, "c_custkey")
        .filter(F.col("id") != F.col("id_before"))
        .count()
    )
    assert n_changed == 0, (
        f"merge re-minted {n_changed} matched ids"
    )
    tot = snap.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("id").alias("u"),
    ).collect()[0]
    assert tot["n"] == tot["u"], (
        f"ids not globally unique: {tot['n']} rows, {tot['u']} ids"
    )
    return snap.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("id").alias("n_unique_ids"),
        F.sum(
            ((F.col("id") >= 10) & ((F.col("id") - 10) % 3 == 0))
            .cast("long")
        ).alias("n_on_lattice"),
        F.sum("cents").cast("long").alias("balance_cents"),
    )


@register(
    "lake_tx_row_tracking",
    oracle="""SELECT o_orderstatus,
                     COUNT(*) AS n,
                     COUNT(*) AS n_unique_row_ids,
                     COUNT(*) AS n_identity_preserved,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS cents
              FROM orders
              WHERE NOT COALESCE(o_orderkey % 97 = 0, FALSE)
              GROUP BY o_orderstatus""",
    tags=("lake", "acid", "row-tracking", "versioned", "groupby"),
)
def lake_tx_row_tracking(spark, sf_dir):
    # ROW TRACKING end-to-end (txlog.tx_enable_row_tracking — Delta's
    # row IDs; the reference re-materializes results to CSV with no
    # row identity at all, src/headers/table.cpp:252-307): orders
    # lands in two appends, tracking enables (per-file base backfill,
    # no data rewrite), then a COMPACT re-lays the files and a DELETE
    # rewrites the survivors' neighborhoods — and every surviving
    # row's _row_id must be EXACTLY what it was before either rewrite
    # (materialized through the rewrite, not re-derived). The ids
    # themselves are layout-dependent, so the oracle grades the
    # contract relationally: n_unique_row_ids == n proves identity
    # uniqueness, n_identity_preserved == n proves the rewrites
    # changed no surviving row's id (computed by joining the pre- and
    # post-rewrite snapshots on the business key), and the payload
    # aggregate proves the data itself round-tripped.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    t = tempfile.mkdtemp(prefix="lake_txrt_") + "/orders"
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 0), t)
    txlog.tx_append(o.filter(F.col("o_orderkey") % 2 == 1), t)
    txlog.tx_enable_row_tracking(t)
    before = txlog.read_snapshot(spark, t, with_row_ids=True).select(
        "o_orderkey", F.col("_row_id").alias("rid_before")
    )
    txlog.tx_compact(spark, t, num_files=4)
    txlog.tx_delete_where(spark, t, "o_orderkey % 97 = 0")
    snap = txlog.read_snapshot(spark, t, with_row_ids=True)
    return snap.join(before, "o_orderkey").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("_row_id").alias("n_unique_row_ids"),
        F.sum(
            (F.col("_row_id") == F.col("rid_before")).cast("long")
        ).alias("n_identity_preserved"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register(
    "set_intersect_active_users",
    oracle="""WITH w AS (
                SELECT user_id,
                       (CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                        // 604800) % 2 AS par
                FROM events)
              SELECT user_id FROM w WHERE par = 0
              INTERSECT
              SELECT user_id FROM w WHERE par = 1""",
    tags=("setop", "events"),
)
def set_intersect_active_users(spark, sf_dir):
    # Audience overlap as a SET OPERATION: users active in even weeks
    # INTERSECT users active in odd weeks (the retention-adjacent
    # "active in both periods" cut every growth dashboard computes).
    # INTERSECT deduplicates by definition — both engines must agree
    # on the set, not row multiplicity.
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        ((F.unix_timestamp("ts") / 604800).cast("long") % 2).alias("par"),
    )
    even = e.filter(F.col("par") == 0).select("user_id")
    odd = e.filter(F.col("par") == 1).select("user_id")
    return even.intersect(odd)


@register(
    "sessionize_gap_stats",
    oracle="""WITH e AS (
                SELECT user_id, event_id,
                       CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                         AS sec
                FROM events),
                   g AS (
                SELECT user_id, event_id, sec,
                       CASE WHEN sec - lag(sec) OVER w > 1800
                            THEN 1 ELSE 0 END AS brk
                FROM e WINDOW w AS (PARTITION BY user_id
                                    ORDER BY sec, event_id)),
                   s AS (
                SELECT user_id, sec,
                       SUM(brk) OVER (PARTITION BY user_id
                                      ORDER BY sec, event_id
                                      ROWS UNBOUNDED PRECEDING)
                         AS session_id
                FROM g),
                   per AS (
                SELECT user_id, session_id,
                       COUNT(*) AS n_events,
                       MAX(sec) - MIN(sec) AS dur_s
                FROM s GROUP BY 1, 2)
              SELECT user_id,
                     CAST(COUNT(*) AS BIGINT) AS n_sessions,
                     CAST(MAX(n_events) AS BIGINT) AS max_session_events,
                     CAST(SUM(dur_s) AS BIGINT) AS active_s
              FROM per GROUP BY user_id""",
    tags=("sessionize", "events", "window"),
)
def sessionize_gap_stats(spark, sf_dir):
    # Classic GAP SESSIONIZATION (30-minute inactivity closes a
    # session): a lag + running-sum window assigns session ids, then
    # per-user session stats. One shuffle on user_id serves all three
    # window/group steps (same partitioning reused); per-key state is
    # a counter, so the plan survives any user count. Integer epoch
    # math keeps both engines bit-identical.
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_timestamp("ts").cast("long").alias("sec"),
    )
    g = e.withColumn(
        "brk",
        F.when(
            F.col("sec") - F.lag("sec").over(w) > 1800, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    s = g.withColumn(
        "session_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("sec") - F.min("sec")).alias("dur_s"),
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.max("n_events").cast("long").alias("max_session_events"),
        F.sum("dur_s").cast("long").alias("active_s"),
    )


@register(
    "join_band_prices",
    oracle="""WITH bands(band, lo, hi) AS (
                VALUES ('p00_20k', 0, 2000000),
                       ('p20_40k', 2000000, 4000000),
                       ('p40_60k', 4000000, 6000000),
                       ('p60_80k', 6000000, 8000000),
                       ('p80_up', 8000000, 9223372036854775807)),
                   li AS (
                SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                         AS cents
                FROM lineitem)
              SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(cents) AS BIGINT) AS cents
              FROM li JOIN bands
                ON li.cents >= bands.lo AND li.cents < bands.hi
              GROUP BY band""",
    tags=("range", "join", "aggregate"),
)
def join_band_prices(spark, sf_dir):
    # BAND (range) JOIN: the fact table lands in static price bands
    # through a non-equi join — the canonical range-join shape (rate
    # tables, tax brackets, SLA tiers). The band side is broadcast, so
    # the non-equi condition evaluates scan-side with NO shuffle and
    # no cartesian blowup (plan-sweep forbids real cartesians; a
    # broadcast nested loop against 5 rows is the intended physical
    # plan at any fact-table scale).
    bands = F.broadcast(
        _t(spark, sf_dir, "lineitem").sparkSession.createDataFrame(
            [
                ("p00_20k", 0, 2_000_000),
                ("p20_40k", 2_000_000, 4_000_000),
                ("p40_60k", 4_000_000, 6_000_000),
                ("p60_80k", 6_000_000, 8_000_000),
                ("p80_up", 8_000_000, 9_223_372_036_854_775_807),
            ],
            "band string, lo long, hi long",
        )
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    return (
        li.join(
            bands,
            (li.cents >= bands.lo) & (li.cents < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@register(
    "lake_tx_type_widening",
    oracle="""WITH u AS (
                SELECT o_orderkey AS k,
                       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders)
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(cents) AS BIGINT) AS cents,
                     CAST(MAX(k) AS BIGINT) AS max_k
              FROM u""",
    tags=("lake", "acid", "evolution", "widening", "aggregate"),
)
def lake_tx_type_widening(spark, sf_dir):
    # TYPE WIDENING (Delta 3.x) end-to-end: half of orders lands with
    # INT keys and FLOAT-cent prices, the other half widens the table
    # to BIGINT/DOUBLE via merge_schema — a pure schema-record change,
    # asserted in-query: the narrow files stay live untouched and the
    # scan upcasts them natively. The oracle is the whole table's
    # aggregate computed from the source, so the grade proves the
    # upcast serves the narrow half's exact values.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    t = tempfile.mkdtemp(prefix="lake_txwide_") + "/orders"
    narrow = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").cast("int").alias("k"),
        F.col("cents").cast("int").alias("cents"),  # sf<=1 fits int
    )
    txlog.tx_append(narrow, t)
    files_v1 = set(txlog.snapshot_files(t)[1])
    wide = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("k"), F.col("cents")
    )
    txlog.tx_append(wide, t, merge_schema=True)
    assert {
        f.name: f.dataType.simpleString()
        for f in txlog.table_schema(t).fields
    } == {"k": "bigint", "cents": "bigint"}
    assert files_v1 < set(txlog.snapshot_files(t)[1]), (
        "widening must not rewrite the narrow files"
    )
    return txlog.read_snapshot(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("cents"),
        F.max("k").cast("long").alias("max_k"),
    )


@register(
    "lake_tx_column_defaults",
    oracle="""WITH half AS (
                SELECT o_orderkey AS k, o_orderstatus AS status,
                       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders WHERE o_orderkey % 2 = 0
                UNION ALL
                SELECT o_orderkey AS k, 'backfill' AS status,
                       o_orderkey * 10 AS cents
                FROM orders WHERE o_orderkey % 2 = 1)
              SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(cents) AS BIGINT) AS cents
              FROM half GROUP BY status""",
    tags=("lake", "acid", "defaults", "evolution", "groupby"),
)
def lake_tx_column_defaults(spark, sf_dir):
    # Write-time COLUMN DEFAULTS (SQL-standard / Delta): half of
    # orders lands fully-specified, then defaults are declared
    # (a literal AND an expression over the row's own key column) and
    # the other half appends OMITTING both defaulted columns — the
    # writer fills them per row. The oracle replays the fill
    # relationally, so the grade proves the expression default
    # evaluates against each row's supplied values.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    t = tempfile.mkdtemp(prefix="lake_txdflt_") + "/orders"
    txlog.tx_append(o.filter(F.col("k") % 2 == 0), t)
    txlog.tx_set_default(t, "status", "'backfill'")
    txlog.tx_set_default(t, "cents", "k * 10")
    txlog.tx_append(o.filter(F.col("k") % 2 == 1).select("k"), t)
    return txlog.read_snapshot(spark, t).groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register(
    "lake_tx_generated_partition",
    oracle="""WITH o AS (
                SELECT o_orderkey AS k,
                       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
                       o_orderkey % 7 AS bucket
                FROM orders)
              SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(cents) AS BIGINT) AS cents
              FROM o WHERE bucket IN (1, 3)
              GROUP BY bucket""",
    tags=("lake", "acid", "generated", "partition", "data-skipping",
          "groupby"),
)
def lake_tx_generated_partition(spark, sf_dir):
    # GENERATED ALWAYS AS + partitioning, the canonical composition:
    # the partition column derives from the key by law
    # (tx_set_generated), the second half of the appends OMIT it
    # entirely — the writer computes it, stages value-pure, and the
    # partition-filtered read prunes from the log (strictly fewer
    # files asserted in-query). No writer can ever mis-derive the
    # partition value; the oracle replays the law relationally.
    import tempfile

    from ..sources import txlog

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 7).alias("bucket"),
    )
    t = tempfile.mkdtemp(prefix="lake_txgen_") + "/orders"
    txlog.tx_append(
        o.filter(F.col("k") % 2 == 0), t, partition_by=["bucket"]
    )
    txlog.tx_set_generated(spark, t, "bucket", "k % 7")
    # the other half appends WITHOUT the partition column
    txlog.tx_append(
        o.filter(F.col("k") % 2 == 1).select("k", "cents"), t
    )
    _, files = txlog.snapshot_files(t)
    kept = txlog.prune_partition_files(t, files, {"bucket": ["1", "3"]})
    assert 0 < len(kept) < len(files), (len(kept), len(files))
    df = txlog.read_snapshot(
        spark, t, partition_filter={"bucket": ["1", "3"]}
    )
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register(
    "lake_sql_merge_clauses",
    oracle="""WITH base AS (
                SELECT o_orderkey AS okey, o_orderstatus AS status,
                       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders),
              tgt AS (SELECT * FROM base WHERE okey % 3 <> 0),
              src AS (SELECT * FROM base WHERE okey % 2 = 0),
              kept AS (
                SELECT t.okey, t.status,
                       CASE WHEN s.okey IS NULL THEN t.cents
                            ELSE t.cents + s.cents END AS cents
                FROM tgt t LEFT JOIN src s ON s.okey = t.okey
                WHERE s.okey IS NULL OR s.cents % 10 >= 3),
              ins AS (
                SELECT s.okey, 'NEW' AS status, s.cents + 1 AS cents
                FROM src s LEFT JOIN tgt t ON t.okey = s.okey
                WHERE t.okey IS NULL AND s.status = 'F'),
              final AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
              SELECT status, COUNT(*) AS n,
                     CAST(SUM(cents) AS BIGINT) AS cents
              FROM final GROUP BY status""",
    tags=("lake", "sql", "merge", "acid", "groupby", "views"),
)
def lake_sql_merge_clauses(spark, sf_dir):
    # Delta's FULL MERGE clause model through the SQL door (r11
    # VERDICT item 4): conditional matched-DELETE, column-level
    # conditional UPDATE SET (clauses apply in declaration order —
    # the unconditional update catches what the delete's condition
    # passed over), and a conditional INSERT (cols) VALUES (exprs)
    # tail — tx_merge's clause engine under tx_sql's parser, with the
    # SOURCE read through a lake VIEW (late-binding SQL artifact, new
    # this round). The oracle replays every clause relationally:
    # matched rows with s.cents % 10 < 3 vanish, other matched rows
    # gain s.cents, unmatched 'F' sources insert as 'NEW' with
    # cents+1, everything else passes through untouched. DROP TABLE /
    # DROP VIEW close the lifecycle (asserted in-query on a scratch
    # clone; the graded table outlives the statement).
    import tempfile

    from ..sources import txlog
    from ..sources.tx_sql import tx_sql

    d = tempfile.mkdtemp(prefix="lake_sqlmrg_")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    o.createOrReplaceTempView("__lake_mrg_src")

    def run(s):
        return tx_sql(spark, s, base_dir=d)

    run("CREATE TABLE t AS SELECT okey, status, cents "
        "FROM __lake_mrg_src WHERE okey % 3 <> 0")
    run("CREATE TABLE src AS SELECT okey, status, cents "
        "FROM __lake_mrg_src WHERE okey % 2 = 0")
    run("CREATE VIEW srcv AS SELECT okey, status, cents FROM src")
    run(
        "MERGE INTO t USING (SELECT okey, status, cents FROM srcv) AS s "
        "ON t.okey = s.okey "
        "WHEN MATCHED AND s.cents % 10 < 3 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET cents = t.cents + s.cents "
        "WHEN NOT MATCHED AND s.status = 'F' THEN "
        "INSERT (okey, status, cents) VALUES (s.okey, 'NEW', s.cents + 1)"
    )
    # lifecycle close: a scratch clone drops via SQL and is GONE
    run("CREATE TABLE scratch CLONE t")
    import os as _os

    assert txlog.log_versions(d + "/scratch")
    run("DROP TABLE scratch")
    assert not _os.path.exists(d + "/scratch")
    run("DROP VIEW srcv")
    assert not _os.path.exists(d + "/srcv.view.sql")
    return run(
        "SELECT status, COUNT(*) AS n, "
        "CAST(SUM(cents) AS BIGINT) AS cents FROM t GROUP BY status"
    )


@register(
    "lake_sql_lifecycle",
    oracle="""WITH base AS (
                SELECT o_orderkey AS okey,
                       o_orderstatus AS status,
                       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders)
              SELECT status, COUNT(*) AS n,
                     CAST(SUM(cents + CASE WHEN okey % 100 = 0
                                           THEN 7 ELSE 0 END)
                          AS BIGINT) AS cents
              FROM base WHERE status IN ('F', 'O')
              GROUP BY status""",
    tags=("lake", "sql", "ddl", "acid", "versioned", "column-mapping",
          "constraints", "metadata", "vacuum", "retention", "groupby",
          "identity", "merge", "row-tracking", "bloom"),
)
def lake_sql_lifecycle(spark, sf_dir):
    # The WHOLE lake lifecycle through the SQL door (sources/tx_sql.py
    # — the reference's only entry point is a SQL string,
    # /root/reference/src/main.cpp:719-794): CREATE/INSERT SELECT, ADD
    # CONSTRAINT, two RENAME COLUMNs (asserted metadata-only, with the
    # constraint re-bound), an append under the NEW names, the
    # identity lifecycle (SET GENERATED BY DEFAULT / SYNC, generation
    # contract asserted on a probe row), UPDATE and MERGE (each
    # carrying half of the +7 correction), DELETE, VERSION AS OF time
    # travel (asserted in-query), CLUSTER BY + OPTIMIZE (clustering
    # stats asserted on the rewritten output), a retention-GUARDED
    # vacuum (24 h reclaims nothing — the tombstones are fresh) then a
    # zero-retention vacuum, and DESCRIBE DETAIL — every statement a
    # SQL string, every effect graded relationally by the oracle on
    # the surviving rows.
    import tempfile

    from ..sources import txlog
    from ..sources.tx_sql import tx_sql

    d = tempfile.mkdtemp(prefix="lake_sql_")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    o.createOrReplaceTempView("__lake_sql_src")

    def run(s):
        return tx_sql(spark, s, base_dir=d)

    # r13: the CHECK constraint and the NOT NULL invariant declare
    # INLINE at CREATE (the standard Delta DDL idiom, parsed by
    # tx_sql._parse_create_columns into the same tx_set_* verbs a bare
    # CREATE + ALTER sequence uses) — both laws are live BEFORE the
    # first INSERT and must survive the renames below
    run("CREATE TABLE t (okey BIGINT, o_orderstatus STRING, "
        "cents BIGINT NOT NULL, CONSTRAINT cents_pos CHECK (cents >= 0))")
    run("ALTER TABLE t SET TBLPROPERTIES "
        "('delta.enableRowTracking'='true')")
    run("INSERT INTO t SELECT okey, o_orderstatus, cents "
        "FROM __lake_sql_src WHERE okey % 2 = 0")
    t = d + "/t"
    files_before = set(txlog.snapshot_files(t)[1])
    run("ALTER TABLE t RENAME COLUMN o_orderstatus TO status")
    run("ALTER TABLE t RENAME COLUMN cents TO price_cents")
    assert set(txlog.snapshot_files(t)[1]) == files_before, (
        "SQL rename must be metadata-only"
    )
    # BOTH inline-declared laws re-bound to the renamed column
    assert txlog.table_constraints(t) == {
        "cents_pos": "price_cents >= 0",
        "cents_not_null": "price_cents IS NOT NULL",
    }
    run("INSERT INTO t SELECT okey, o_orderstatus AS status, "
        "cents AS price_cents FROM __lake_sql_src WHERE okey % 2 = 1")
    # identity lifecycle through SQL: okey becomes BY DEFAULT identity,
    # SYNC aligns the generator past the supplied keys, a key-omitting
    # probe insert generates beyond them (contract asserted, then the
    # probe deletes so the oracle never sees a nondeterministic key)
    run("ALTER TABLE t ALTER COLUMN okey SET GENERATED BY DEFAULT AS "
        "IDENTITY (START WITH 1 INCREMENT BY 1)")
    run("ALTER TABLE t ALTER COLUMN okey SYNC IDENTITY")
    max_key = txlog.identity_watermark(t)["okey"]
    run("INSERT INTO t (status, price_cents) VALUES ('ID_PROBE', 0)")
    probe = run(
        "SELECT okey FROM t WHERE status = 'ID_PROBE'"
    ).collect()
    assert len(probe) == 1 and probe[0]["okey"] is not None
    assert probe[0]["okey"] > max_key, "generated key must clear SYNC"
    run("DELETE FROM t WHERE status = 'ID_PROBE'")
    v_full, n_full = txlog.log_versions(t)[-1], o.count()
    # row tracking (enabled at CREATE via TBLPROPERTIES): capture a
    # bounded key sample's stable ids — UPDATE/MERGE/DELETE/OPTIMIZE
    # below must never change a surviving row's _row_id
    rid_pre = {
        r["okey"]: r["_row_id"]
        for r in txlog.read_snapshot(spark, t, with_row_ids=True)
        .filter("okey % 997 = 0").collect()
    }
    assert rid_pre
    # the +7 correction lands through BOTH row-level doors: UPDATE for
    # one residue class, MERGE (matched-update, zero inserts) for the
    # other — okey % 100 = 0 is exactly their union
    run("UPDATE t SET price_cents = price_cents + 7 WHERE okey % 200 = 0")
    run("MERGE INTO t USING (SELECT okey, status, price_cents + 7 AS "
        "price_cents FROM t WHERE okey % 200 = 100) ON t.okey = s.okey "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    run("DELETE FROM t WHERE status NOT IN ('F', 'O')")
    # time travel through the SQL door: the pre-update snapshot is whole
    tt = run(
        f"SELECT COUNT(*) AS n FROM t VERSION AS OF {v_full}"
    ).collect()[0]["n"]
    assert tt == n_full, (tt, n_full)
    run("ALTER TABLE t CLUSTER BY (price_cents)")
    run("OPTIMIZE t")
    st = txlog.snapshot_stats(t)
    _, files = txlog.snapshot_files(t)
    assert files and all(
        "price_cents" in st[f].get("c", {}) for f in files
    ), "SQL OPTIMIZE must carry the declared clustering stats"
    rid_post = {
        r["okey"]: r["_row_id"]
        for r in txlog.read_snapshot(spark, t, with_row_ids=True)
        .filter("okey % 997 = 0").collect()
    }
    assert all(
        rid_post[k] == rid_pre[k] for k in rid_post if k in rid_pre
    ), "row ids must survive UPDATE/MERGE/DELETE/OPTIMIZE"
    # Bloom point-lookup side: the SQL-built index must prove a
    # nonexistent key absent without opening a single file
    run("CREATE BLOOMFILTER INDEX ON TABLE t FOR COLUMNS (okey)")
    miss, n_read, n_total = txlog.tx_point_lookup(spark, t, "okey", -1)
    assert n_total >= 1 and n_read == 0 and miss.count() == 0, (
        n_read, n_total,
    )
    # retention guard: the bloom backfill's and optimize's tombstones
    # are FRESH — a guarded vacuum reclaims nothing, zero-retention does
    guarded = run("VACUUM t RETAIN 24.0 HOURS").collect()[0]["info"]
    assert guarded == "0 files removed", guarded
    run("VACUUM t RETAIN 0.0 HOURS")
    det = run("DESCRIBE DETAIL t").collect()[0]
    assert det["num_files"] == len(files)
    return run(
        "SELECT status, COUNT(*) AS n, "
        "CAST(SUM(price_cents) AS BIGINT) AS cents "
        "FROM t GROUP BY status"
    )


@register(
    "lake_sql_maintenance",
    oracle="""WITH base AS (
                SELECT o_orderkey AS okey,
                       o_orderstatus AS status,
                       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders WHERE o_orderkey % 4 = 0)
              SELECT status, COUNT(*) AS n,
                     CAST(SUM(cents) AS BIGINT) AS cents
              FROM base WHERE okey % 10 <> 4
              GROUP BY status""",
    tags=("lake", "sql", "maintenance", "reorg", "analyze", "rename",
          "deletion-vectors", "stats", "groupby"),
)
def lake_sql_maintenance(spark, sf_dir):
    # The round-12 MAINTENANCE verbs through the SQL door, graded
    # relationally: ANALYZE (footer-only stats backfill onto a table
    # whose INSERT recorded none — skipping asserted before/after),
    # a merge-on-read delete followed by REORG TABLE ... APPLY (PURGE)
    # (vectors dropped, UNVECTORED files asserted byte-identical live
    # — the O(DV debt) contract), SHOW COLUMNS / SHOW TBLPROPERTIES
    # (log-derived), and ALTER TABLE RENAME TO (atomic dir move; the
    # final aggregate is read under the NEW name, so the oracle only
    # matches if history and data rode along). Companion to
    # lake_sql_lifecycle, which grades the DML/DDL verbs.
    import tempfile

    from ..sources import txlog
    from ..sources.tx_sql import tx_sql

    d = tempfile.mkdtemp(prefix="lake_maint_")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    o.createOrReplaceTempView("__lake_maint_src")

    def run(s):
        return tx_sql(spark, s, base_dir=d)

    run("CREATE TABLE t (okey BIGINT, status STRING, cents BIGINT)")
    run("INSERT INTO t SELECT okey, status, cents FROM __lake_maint_src "
        "WHERE okey % 4 = 0")
    t = d + "/t"
    # ANALYZE: the INSERT recorded no column stats; the backfill is
    # footer-only (no data scan) and must leave every file skippable
    assert not any(
        s.get("c") for s in txlog.snapshot_stats(t).values()
    ), "fixture: INSERT SELECT records no column stats"
    run("ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS okey, cents")
    st = txlog.snapshot_stats(t)
    _, live = txlog.snapshot_files(t)
    assert live and all(
        {"okey", "cents"} <= set(st.get(f, {}).get("c", {})) for f in live
    ), "ANALYZE must backfill every live file"
    # DV delete (the lakehouse fast-delete door) then PURGE: only the
    # vectored files may be rewritten
    txlog.tx_delete_where_mor(spark, t, "okey % 10 = 4")
    dvs = txlog.snapshot_dvs(t)
    assert dvs, "fixture: the MOR delete must vector at least one file"
    _, before = txlog.snapshot_files(t)
    unvectored = [f for f in before if f not in dvs]
    run("REORG TABLE t APPLY (PURGE)")
    assert txlog.snapshot_dvs(t) == {}
    _, after = txlog.snapshot_files(t)
    assert all(f in after for f in unvectored), (
        "PURGE must not touch unvectored files"
    )
    # log-derived inspection
    cols = [r["col_name"] for r in run("SHOW COLUMNS IN t").collect()]
    assert cols == ["okey", "status", "cents"], cols
    props = {r["key"]: r["value"]
             for r in run("SHOW TBLPROPERTIES t").collect()}
    assert props["delta.enableRowTracking"] == "false"
    # atomic rename: aggregate under the NEW name
    run("ALTER TABLE t RENAME TO warehouse_final")
    return run(
        "SELECT status, COUNT(*) AS n, "
        "CAST(SUM(cents) AS BIGINT) AS cents "
        "FROM warehouse_final GROUP BY status"
    )


@register(
    "resample_interpolate_hourly",
    oracle="""WITH obs AS (
                -- FLOOR before the cast: DuckDB rounds double->bigint,
                -- Spark's unix_timestamp truncates; sub-second event
                -- timestamps must land on the same whole second
                -- NULL values are not observations (the r13 operator
                -- contract: a null row must never desynchronize a
                -- bracket) — the filter mirrors the Spark side's
                SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                       CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)))
                            AS BIGINT) AS sec,
                       CAST(FLOOR(MAX(value) * 1000000.0) AS BIGINT) AS v_e6
                FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
              b AS (
                SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
                       date_trunc('hour', MAX(ts)) AS t1
                FROM obs GROUP BY 1),
              g AS (
                SELECT user_id,
                       unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                           AS grid_ts
                FROM b),
              p AS (
                SELECT g.user_id, g.grid_ts,
                       o.sec AS p_sec, o.v_e6 AS p_e6
                FROM g ASOF JOIN obs o
                  ON g.user_id = o.user_id AND g.grid_ts >= o.ts),
              pn AS (
                SELECT p.user_id, p.grid_ts,
                       CAST(epoch(p.grid_ts) AS BIGINT) AS g_sec,
                       p.p_sec, p.p_e6, o.sec AS n_sec, o.v_e6 AS n_e6
                FROM p ASOF JOIN obs o
                  ON p.user_id = o.user_id AND p.grid_ts <= o.ts)
              SELECT user_id, grid_ts,
                     CASE WHEN n_sec > p_sec
                          THEN CAST(p_e6 * (n_sec - g_sec)
                                    + n_e6 * (g_sec - p_sec) AS DOUBLE)
                               / CAST(n_sec - p_sec AS DOUBLE)
                          ELSE CAST(p_e6 AS DOUBLE)
                     END AS r_value_e6
              FROM pn""",
    tags=("timeseries", "asof", "gap_fill", "interpolate"),
)
def resample_interpolate_hourly(spark, sf_dir):
    # Linear-interpolation gap-fill (TimescaleDB's interpolate() next
    # to resample_ffill_hourly's locf()): hourly grid, each point on
    # the straight line between its bracketing observations. Exact
    # cross-engine by the integer-lerp convention — micro-unit values
    # x whole-second gaps, one double division at the end — and the
    # oracle replays the two as-of joins with DuckDB's native ASOF
    # JOIN in both directions.
    from ..operators import resample_interpolate

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    return resample_interpolate(
        ev, key="user_id", ts="ts", value="value", step="1 hour"
    )
