"""Runs generated ops against the program's public functions.

``prepare(op)`` returns two callables. ``build()`` is the public call
that returns a DataFrame (or, for a lake write, the source frame) and
``act(built)`` is the final action; the runner times the two apart.
``act`` returns ``(answer, info)``: the answer in a normalised form the
checks compare, and per-op counts (files read by a lookup, ...).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from parallel_dbms_spark.catalog import load_table, load_tables, run_sql
from parallel_dbms_spark.functions import dedup, text
from parallel_dbms_spark.queries import REGISTRY
from parallel_dbms_spark.queries.recursive_sql import _RECURSIVE_CUSTOMER_CHAIN
from parallel_dbms_spark.sources import txlog
from parallel_dbms_spark.sources.lake import read_point_lookup, write_bloom_manifest

from lakemodel import day

LAKE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
LAKE_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate string"
)
LAKE_APPEND_OPTS = {
    "stats_cols": ["o_orderkey"],
    "bloom_cols": ["o_orderkey"],
    "distinct_cols": ["o_custkey"],
}
# OPTIMIZE bin-packs files below this size; at the lake's scale the
# compacted files pass it, so later passes rewrite only new small files.
LAKE_TARGET_FILE_BYTES = 128 << 10


# Tables each workload reads; set-up registers every table and checks
# the row counts of these.
USED_TABLES = {
    "olap_sql": ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
    "pipelines": ("customer", "orders", "lineitem", "events", "documents"),
    "lake_rw": ("orders",),
}

# Pipeline ops without parameters: the registry entry each one runs.
REGISTERED = {
    "rfm_segments": "rfm_segments",
    "robust_zscore": "robust_zscore_prices",
    "stream_neardup": "stream_neardup_dedup_docs",
    "stream_tumbling": "stream_tumbling_hour",
}


def chain_sql(max_root: int, max_depth: int) -> str:
    """The registry's recursive customer chain with seeded bounds."""
    return _RECURSIVE_CUSTOMER_CHAIN.replace(
        "c_custkey <= 40", f"c_custkey <= {max_root}"
    ).replace("ch.depth < 30", f"ch.depth < {max_depth}")


def _arrow(df):
    return df.toArrow(), {}


def _cents(df):
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.floor(F.col("o_totalprice") * 100)), F.lit(0)
        ).cast("long").alias("cents"),
    )


class Executor:
    """Owns one workload's inputs: the data set, and for ``lake_rw`` the table."""

    def __init__(self, spark, workload: str, data_dir: str, work_dir: str):
        self.spark = spark
        self.workload = workload
        self.data = data_dir
        self.work = work_dir
        self.table: str | None = None

    # ---- set-up -----------------------------------------------------------
    def setup(self, rep: int, expect_rows: dict) -> None:
        """Register the inputs; for ``lake_rw`` also create table
        ``rep``. The first set-up also checks the row count of each table
        the workload reads against the generator's (key uniqueness is
        checked when the data is built) and raises on a mismatch."""
        spark, d = self.spark, self.data
        got = load_tables(spark, d)
        for name in USED_TABLES[self.workload] if rep == 0 else ():
            n = got[name].count()
            if n != expect_rows[name]:
                raise RuntimeError(f"{name}: {n} rows, expected {expect_rows[name]}")
        if self.workload == "lake_rw":
            self.table = os.path.join(self.work, "lake", f"orders_{rep}")
            base = load_table(spark, d, "orders").select(*LAKE_COLS)
            txlog.tx_append(base.repartition(4), self.table, **LAKE_APPEND_OPTS)

    def lake_base_rows(self) -> list:
        t = load_table(self.spark, self.data, "orders").select(*LAKE_COLS).toArrow()
        return [
            [r["o_orderkey"], r["o_custkey"], r["o_orderstatus"],
             r["o_totalprice"], day(r["o_orderdate"])]
            for r in t.to_pylist()
        ]

    def lake_snapshot(self) -> list[tuple]:
        t = txlog.read_snapshot(self.spark, self.table).select(*LAKE_COLS).toArrow()
        return sorted(
            (r["o_orderkey"], r["o_custkey"], r["o_orderstatus"],
             r["o_totalprice"], day(r["o_orderdate"]))
            for r in t.to_pylist()
        )

    # ---- ops --------------------------------------------------------------
    def prepare(self, op: dict):
        name = self.workload
        if name == "olap_sql":
            sql = op["params"]["sql"]
            return (lambda: run_sql(self.spark, self.data, sql)), _arrow
        if name == "pipelines":
            return self._pipeline(op["template"], op["params"]), _arrow
        return self._lake(op["template"], op["params"])

    def _pipeline(self, name: str, p: dict):
        spark, d = self.spark, self.data
        if name in REGISTERED:
            fn = REGISTRY[REGISTERED[name]].fn
            return lambda: fn(spark, d)
        if name == "bloom_lookup":
            def bloom():
                o = load_table(spark, d, "orders").select(
                    "o_orderkey", "o_custkey", "o_orderstatus"
                )
                t = tempfile.mkdtemp(prefix="bloom_", dir=self.work) + "/orders"
                o.repartition(12, "o_custkey").write.parquet(t)
                write_bloom_manifest(spark, t, "o_orderkey")
                return read_point_lookup(spark, t, "o_orderkey", p["key"])[0]
            return bloom
        if name == "recursive_chain":
            sql = chain_sql(p["max_root"], p["max_depth"])
            return lambda: run_sql(spark, d, sql)
        if name == "minhash_lsh":
            return lambda: dedup.minhash_lsh_pairs(
                load_table(spark, d, "documents"),
                threshold=p["threshold"], hash_fn="md5",
            )
        if name == "prefix_jaccard":
            return lambda: dedup.prefix_jaccard_pairs(
                load_table(spark, d, "documents"), threshold=p["threshold"],
            )
        if name == "tfidf_topk":
            return lambda: text.tfidf_top_terms(load_table(spark, d, "documents"), k=p["k"])
        raise ValueError(f"unknown pipeline op {name!r}")

    def _lake(self, kind: str, p: dict):
        spark, t = self.spark, self.table

        def source():
            return spark.createDataFrame(
                [tuple(r) for r in p["rows"]], LAKE_SCHEMA
            ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))

        if kind == "append":
            return source, lambda df: (
                None, {"version": txlog.tx_append(df, t, **LAKE_APPEND_OPTS)}
            )
        if kind == "merge":
            return source, lambda df: (None, {"result": txlog.tx_merge(
                spark, t, df, ["o_orderkey"],
                matched=[{"cond": None, "action": "update", "set": {
                    "o_totalprice": "s.o_totalprice",
                    "o_orderstatus": "s.o_orderstatus",
                }}],
                not_matched=[{"cond": None, "values": None}],
            )})
        if kind == "delete":
            where = f"{p['col']} BETWEEN {p['lo']} AND {p['hi']}"
            return (lambda: where), lambda w: (None, {"result": txlog.tx_delete_where_mor(
                spark, t, w, max_dv_rows=10_000_000
            )})
        if kind == "optimize":
            return (lambda: None), lambda _: (None, {"result": txlog.tx_optimize(
                spark, t, target_file_bytes=LAKE_TARGET_FILE_BYTES
            )})
        if kind == "point_lookup":
            def lookup_act(built):
                df, n_read, n_total = built
                rows = sorted(
                    (r["o_orderkey"], r["o_custkey"], r["o_orderstatus"],
                     r["o_totalprice"], day(r["o_orderdate"]))
                    for r in df.select(*LAKE_COLS).toArrow().to_pylist()
                )
                return rows, {"files_read": n_read, "files_total": n_total}
            return (lambda: txlog.tx_point_lookup(spark, t, "o_orderkey", p["key"])), lookup_act
        if kind == "read_skipping":
            def skip_build():
                df, n_read, n_total = txlog.tx_read_skipping(
                    spark, t, "o_orderkey", p["lo"], p["hi"]
                )
                return _cents(df), n_read, n_total

            def skip_act(built):
                df, n_read, n_total = built
                r = df.toArrow().to_pylist()[0]
                return (r["n"], r["cents"]), {"files_read": n_read, "files_total": n_total}
            return skip_build, skip_act
        if kind == "instant_distinct":
            return (
                lambda: txlog.tx_instant_distinct(spark, t, "o_custkey")[0],
                lambda df: ((df.toArrow().to_pylist()[0]["n_distinct"],), {}),
            )
        if kind == "snapshot_agg":
            def snap_build():
                s = txlog.read_snapshot(spark, t)
                return s.groupBy("o_orderstatus").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("cents"),
                )
            return snap_build, lambda df: (
                sorted((r["o_orderstatus"], r["n"], r["cents"]) for r in df.toArrow().to_pylist()),
                {},
            )
        raise ValueError(f"unknown lake op {kind!r}")
