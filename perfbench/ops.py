"""Seeded op streams for the three workloads.

Nothing here imports Spark: an op list is plain JSON-serialisable data
that depends only on the seed and the data set's row counts, so the
same seed gives a byte-identical list (``dump``) and the program under
test receives only these generated inputs.

Each stream is a sequence of *rounds*. A round holds a fixed multiset of
its workload's templates, in a seeded order, with freshly drawn
parameters. A run sends a whole number of rounds, so every run measures
the same mix of templates; seeds change parameters and order, not the
mix.
"""

from __future__ import annotations

import datetime as dt
import json
import random

WORKLOADS = ("olap_sql", "pipelines", "lake_rw")
# The workloads BENCHMARK.json names. ``olap_sql`` runs by hand only: a
# third workload does not fit the benchmark's run budget (README.md).
BENCH_WORKLOADS = ("pipelines", "lake_rw")

# Lake op classes that write; the rest read.
LAKE_WRITES = ("append", "merge", "delete", "optimize")
LAKE_READS = ("point_lookup", "read_skipping", "instant_distinct", "snapshot_agg")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


def _day(rng: random.Random, lo: dt.date, hi: dt.date) -> dt.date:
    return lo + dt.timedelta(days=rng.randrange((hi - lo).days))


_D0, _D1 = dt.date(1995, 1, 1), dt.date(2001, 8, 1)


# --------------------------------------------------------------------------
# olap_sql: SQL text from templates. Every template is plain SQL that
# Spark and DuckDB both parse, so the DuckDB oracle runs the same text.
# ORDER BY templates carry ``order``: the sort column, its direction and
# the LIMIT, because rows tied on the sort key may come back in any order.
# --------------------------------------------------------------------------
def _olap_scan_filter(rng):
    d = _day(rng, _D0, _D1)
    return {"sql": (
        "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount "
        f"FROM lineitem WHERE l_shipdate >= {_ts(d)} "
        f"AND l_shipdate < {_ts(d + dt.timedelta(days=7))} "
        f"AND l_quantity < {rng.randint(10, 40)}"
    )}


def _olap_agg_ungrouped(rng):
    a = rng.randint(0, 8)
    return {"sql": (
        "SELECT COUNT(*) AS n, SUM(l_quantity) AS sum_qty, "
        "AVG(l_extendedprice) AS avg_price, MIN(l_discount) AS min_disc, "
        "MAX(l_shipdate) AS max_ship FROM lineitem "
        f"WHERE l_discount BETWEEN {a / 100:.2f} AND {(a + 2) / 100:.2f}"
    )}


def _olap_agg_grouped(rng):
    d = _day(rng, dt.date(1998, 1, 1), _D1)
    return {"sql": (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(l_quantity) AS sum_qty, "
        "SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
        "AVG(l_discount) AS avg_disc FROM lineitem "
        f"WHERE l_shipdate <= {_ts(d)} GROUP BY l_returnflag, l_linestatus"
    )}


def _olap_join_equi(rng):
    d = _day(rng, _D0, dt.date(2001, 1, 1))
    return {"sql": (
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "SUM(l_extendedprice) AS sum_price "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        f"WHERE o_orderdate >= {_ts(d)} "
        f"AND o_orderdate < {_ts(d + dt.timedelta(days=90))} "
        "GROUP BY o_orderpriority"
    )}


def _olap_join_theta(rng):
    return {"sql": (
        "SELECT s.s_nationkey, COUNT(*) AS n "
        "FROM supplier s JOIN customer c "
        f"ON c.c_acctbal BETWEEN s.s_acctbal - {rng.randint(5, 20)} "
        f"AND s.s_acctbal + {rng.randint(5, 20)} "
        f"WHERE s.s_suppkey % 50 = {rng.randrange(50)} "
        "GROUP BY s.s_nationkey"
    )}


def _olap_order(base: str, col: str, desc: bool, limit: int):
    way = "DESC" if desc else "ASC"
    return {
        "sql": f"{base} ORDER BY {col} {way} LIMIT {limit}",
        "order": {"base": base, "col": col, "desc": desc, "limit": limit},
    }


def _olap_order_float(rng):
    return _olap_order(
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
        f"WHERE l_quantity >= {rng.randint(1, 25)}",
        "l_extendedprice", rng.random() < 0.5, rng.choice([100, 500, 1000]),
    )


def _olap_order_date(rng):
    return _olap_order(
        "SELECT o_orderkey, o_custkey, o_orderdate FROM orders "
        f"WHERE o_custkey % 7 = {rng.randrange(7)}",
        "o_orderdate", rng.random() < 0.5, rng.choice([100, 500, 1000]),
    )


def _olap_order_string(rng):
    a = rng.randint(1, 40)
    return _olap_order(
        "SELECT p_partkey, p_name, p_brand FROM part "
        f"WHERE p_size BETWEEN {a} AND {a + 10}",
        "p_name", rng.random() < 0.5, rng.choice([100, 500]),
    )


def _olap_q3(rng):
    d = _day(rng, dt.date(1995, 3, 1), dt.date(1995, 3, 31))
    return {"sql": (
        "SELECT l_orderkey, "
        "SUM(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate "
        "FROM customer, orders, lineitem "
        f"WHERE c_mktsegment = '{rng.choice(_SEGMENTS)}' "
        "AND c_custkey = o_custkey AND l_orderkey = o_orderkey "
        f"AND o_orderdate < {_ts(d)} AND l_shipdate > {_ts(d)} "
        "GROUP BY l_orderkey, o_orderdate "
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
    )}


def _olap_q5(rng):
    y = rng.randint(1995, 2000)
    return {"sql": (
        "SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue "
        "FROM customer, orders, lineitem, supplier, nation, region "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
        f"AND r_name = '{rng.choice(_REGIONS)}' "
        f"AND o_orderdate >= {_ts(dt.date(y, 1, 1))} "
        f"AND o_orderdate < {_ts(dt.date(y + 1, 1, 1))} "
        "GROUP BY n_name"
    )}


def _olap_q6(rng):
    y = rng.randint(1995, 2000)
    d = rng.randint(2, 9)
    return {"sql": (
        "SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem "
        f"WHERE l_shipdate >= {_ts(dt.date(y, 1, 1))} "
        f"AND l_shipdate < {_ts(dt.date(y + 1, 1, 1))} "
        f"AND l_discount BETWEEN {(d - 1) / 100:.2f} AND {(d + 1) / 100:.2f} "
        f"AND l_quantity < {rng.randint(24, 25)}"
    )}


def _olap_q10(rng):
    y, m = rng.randint(1995, 2000), rng.choice([1, 4, 7, 10])
    d = dt.date(y, m, 1)
    end = dt.date(y + 1, 1, 1) if m == 10 else dt.date(y, m + 3, 1)
    return {"sql": (
        "SELECT c_custkey, c_name, "
        "SUM(l_extendedprice * (1 - l_discount)) AS revenue, "
        "c_acctbal, n_name FROM customer, orders, lineitem, nation "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
        f"AND o_orderdate >= {_ts(d)} "
        f"AND o_orderdate < {_ts(end)} "
        "AND l_returnflag = 'R' AND c_nationkey = n_nationkey "
        "GROUP BY c_custkey, c_name, c_acctbal, n_name "
        "ORDER BY revenue DESC, c_custkey LIMIT 20"
    )}


def _olap_q18(rng):
    return {"sql": (
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
        "SUM(l_quantity) AS sum_qty FROM customer, orders, lineitem "
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
        f"GROUP BY l_orderkey HAVING SUM(l_quantity) > {rng.randint(280, 300)}) "
        "AND c_custkey = o_custkey AND o_orderkey = l_orderkey "
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
        "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"
    )}


OLAP_TEMPLATES = {
    "scan_filter": _olap_scan_filter,
    "agg_ungrouped": _olap_agg_ungrouped,
    "agg_grouped": _olap_agg_grouped,
    "join_equi": _olap_join_equi,
    "join_theta": _olap_join_theta,
    "order_float": _olap_order_float,
    "order_date": _olap_order_date,
    "order_string": _olap_order_string,
    "tpch_q3": _olap_q3,
    "tpch_q5": _olap_q5,
    "tpch_q6": _olap_q6,
    "tpch_q10": _olap_q10,
    "tpch_q18": _olap_q18,
}


# --------------------------------------------------------------------------
# pipelines: multi-job public functions with seeded parameters.
# --------------------------------------------------------------------------
# ``sources.lake.read_point_lookup`` fails (a 2**63 literal) on a key
# whose Bloom probe lands on bit 63 of a word: about 1 key in 13. The
# workload draws only keys that avoid it. A probe's bit within its word
# is the low 6 bits of Spark's ``xxhash64(key, i)`` (the filter size is
# a power of two), which this port of Spark's XXH64 computes.
BLOOM_HASHES = 5  # lake.write_bloom_manifest's default
_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


def xxhash64_long_int(value: int, i: int, seed: int = 42) -> int:
    """Spark's ``xxhash64(<bigint value>, <int i>)`` as an unsigned int."""
    h = (seed + _P5 + 8) & _M64
    h ^= (_rotl((value & _M64) * _P2 & _M64, 31) * _P1) & _M64
    h = _fmix((_rotl(h, 27) * _P1 + _P4) & _M64)
    g = (h + _P5 + 4) & _M64
    g ^= ((i & 0xFFFFFFFF) * _P1) & _M64
    return _fmix((_rotl(g, 23) * _P2 + _P3) & _M64)


def bloom_probe_ok(key: int) -> bool:
    return all(xxhash64_long_int(key, i) & 63 != 63 for i in range(BLOOM_HASHES))


def _pipeline_params(name: str, rng: random.Random, rows: dict) -> dict:
    if name == "bloom_lookup":
        key = rng.randrange(rows["orders"])
        while not bloom_probe_ok(key):
            key = rng.randrange(rows["orders"])
        return {"key": key}
    if name == "recursive_chain":
        return {"max_root": rng.randint(30, 50), "max_depth": rng.randint(10, 15)}
    if name == "minhash_lsh":
        return {"threshold": rng.choice([0.6, 0.65, 0.7, 0.75, 0.8])}
    if name == "prefix_jaccard":
        return {"threshold": rng.choice([0.5, 0.6, 0.7, 0.8])}
    if name == "tfidf_topk":
        return {"k": rng.randint(2, 5)}
    return {}


PIPELINE_TEMPLATES = (
    "rfm_segments",
    "bloom_lookup",
    "recursive_chain",
    "robust_zscore",
    "minhash_lsh",
    "prefix_jaccard",
    "tfidf_topk",
    "stream_neardup",
    "stream_tumbling",
)


# --------------------------------------------------------------------------
# lake_rw: one txlog table that starts as ``orders``; writes interleave
# with reads. Appended and inserted keys are fresh (above every key the
# table has held); merge and delete keys are drawn from the whole range,
# so some hit rows that are already gone.
# --------------------------------------------------------------------------
# A round is four segments, each a write and then eight reads, as on a
# served table. A point lookup costs more on a table with more files and
# deletion vectors, so the writes keep their places and the seed shuffles
# only the reads within a segment: every seed takes the table through
# the same states. Point lookups are 24 of the 36 ops and range scans the
# next 4, so the median falls inside the cheapest latency class and the
# tail percentile (p72 of 36) inside the next, not on a boundary between
# classes, where a quantile jumps from run to run.
_LAKE_READS = ("point_lookup",) * 6 + ("read_skipping",)
LAKE_SEGMENTS = (
    ("append",) + _LAKE_READS + ("instant_distinct",),
    ("merge",) + _LAKE_READS + ("snapshot_agg",),
    ("delete",) + _LAKE_READS + ("instant_distinct",),
    ("optimize",) + _LAKE_READS + ("snapshot_agg",),
)
LAKE_ROUND = sum(LAKE_SEGMENTS, ())
LAKE_BATCH_ROWS = 500
LAKE_MERGE_ROWS = 200


def _lake_rows(rng: random.Random, keys: list[int], n_cust: int) -> list[list]:
    out = []
    for k in keys:
        out.append([
            k,
            rng.randrange(n_cust),
            rng.choice("FOP"),
            rng.randint(100_000, 50_000_000) / 100.0,
            (_D0 + dt.timedelta(days=rng.randrange((_D1 - _D0).days))).isoformat(),
        ])
    return out


def _lake_op(kind: str, rng: random.Random, state: dict, rows: dict) -> dict:
    n_cust = rows["customer"]
    if kind == "append":
        k0 = state["next_key"]
        state["next_key"] += LAKE_BATCH_ROWS
        keys = list(range(k0, k0 + LAKE_BATCH_ROWS))
        return {"rows": _lake_rows(rng, keys, n_cust)}
    if kind == "merge":
        hi = state["next_key"]
        old = rng.sample(range(hi), LAKE_MERGE_ROWS // 2)
        k0 = state["next_key"]
        state["next_key"] += LAKE_MERGE_ROWS // 2
        new = list(range(k0, k0 + LAKE_MERGE_ROWS // 2))
        return {"rows": _lake_rows(rng, sorted(old) + new, n_cust)}
    if kind == "delete":
        if rng.random() < 0.5:
            c = rng.randrange(n_cust)
            return {"col": "o_custkey", "lo": c, "hi": c}
        lo = rng.randrange(state["next_key"])
        return {"col": "o_orderkey", "lo": lo, "hi": lo + rng.randint(5, 50)}
    if kind == "optimize":
        return {}
    if kind == "point_lookup":
        return {"key": rng.randrange(state["next_key"])}
    if kind == "read_skipping":
        lo = rng.randrange(state["next_key"])
        return {"lo": lo, "hi": lo + rng.randint(100, 2000)}
    return {}


# --------------------------------------------------------------------------
def templates(workload: str) -> list[str]:
    """The templates (op classes) of one round of ``workload``."""
    if workload == "olap_sql":
        return list(OLAP_TEMPLATES)
    if workload == "pipelines":
        return list(PIPELINE_TEMPLATES)
    return list(LAKE_ROUND)


def generate(workload: str, seed: int, rows: dict, rounds: int) -> list[dict]:
    """The first ``rounds`` rounds of ``workload``'s op stream.

    ``rows`` holds the data set's row counts (``datagen.sizes``); op
    ``i`` is ``{"i", "round", "template", "params"}``."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = random.Random(f"{workload}:{seed}")
    state = {"next_key": rows["orders"]}
    ops: list[dict] = []
    for r in range(rounds):
        if workload == "lake_rw":
            names = []
            for write, *reads in LAKE_SEGMENTS:
                rng.shuffle(reads)
                names += [write, *reads]
        else:
            names = templates(workload)
            rng.shuffle(names)
        for name in names:
            if workload == "olap_sql":
                params = OLAP_TEMPLATES[name](rng)
            elif workload == "pipelines":
                params = _pipeline_params(name, rng, rows)
            else:
                params = _lake_op(name, rng, state, rows)
            ops.append({"i": len(ops), "round": r, "template": name, "params": params})
    return ops


def dump(ops: list[dict]) -> bytes:
    return json.dumps(ops, sort_keys=True, separators=(",", ":")).encode()
