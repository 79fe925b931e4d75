"""Answer checks, run after the timed loop.

``olap_sql`` and ``pipelines`` answers are compared with DuckDB running
the same SQL (or the registry's oracle SQL, with the op's parameters
substituted) on the same parquet files. ``lake_rw`` answers are
compared with ``lakemodel``. Floats compare with a relative tolerance,
since the two engines may sum in different orders.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb

from parallel_dbms_spark.queries import REGISTRY

from datagen import TABLE_NAMES
from execute import REGISTERED, chain_sql

REL_TOL = 1e-9


def connect(data_dir: str):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _sort_key(row):
    # floats rounded so engine-dependent last digits cannot reorder rows
    return tuple(
        (1, float(f"{v:.6g}")) if isinstance(v, float) else (0, str(v))
        for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)) or (
        isinstance(b, float) and isinstance(a, int)
    ):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def rows_of(cols: list[str], rows: list) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values normalised, rows sorted."""
    perm = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in perm) for r in rows]
    return [cols[i] for i in perm], sorted(out, key=_sort_key)


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    return rows_of(cols, [tuple(r[c] for c in cols) for r in table.to_pylist()])


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return rows_of(list(rel.columns), rel.fetchall())


def compare(got, want) -> str | None:
    """None when equal, else a one-line reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)} rows"
    for a, b in zip(gr, wr):
        if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b)):
            return f"first diff: got {a!r} want {b!r}"
    return None


def _ordered(con, table, order: dict) -> str | None:
    """Top-k check that allows any order among rows tied on the sort key:
    the key sequence must match, rows before the last key must match as
    a set, and rows at the last key must exist in the input."""
    col, way = order["col"], "DESC" if order["desc"] else "ASC"
    got = table.to_pylist()
    want = con.sql(f"{order['base']} ORDER BY {col} {way} LIMIT {order['limit']}")
    cols = list(want.columns)
    want = [dict(zip(cols, r)) for r in want.fetchall()]
    gk = [_norm(r[col]) for r in got]
    wk = [_norm(r[col]) for r in want]
    if gk != wk:
        return f"{col} sequence differs ({len(gk)} vs {len(wk)} rows)"
    if not gk:
        return None
    last = gk[-1]

    def split(rows):
        inner = [tuple(_norm(r[c]) for c in cols) for r in rows if _norm(r[col]) != last]
        edge = [tuple(_norm(r[c]) for c in cols) for r in rows if _norm(r[col]) == last]
        return sorted(inner, key=_sort_key), edge

    g_in, g_edge = split(got)
    w_in, _ = split(want)
    if g_in != w_in:
        return "rows before the last sort key differ"
    tied = con.execute(
        f"SELECT * FROM ({order['base']}) b WHERE {col} = ?",
        [want[-1][col]],
    ).fetchall()
    pool = {tuple(_norm(v) for v in r) for r in tied}
    if not all(r in pool for r in g_edge):
        return "a row tied on the last sort key is not in the input"
    return None


def olap(con, op: dict, table) -> str | None:
    order = op["params"].get("order")
    if order:
        return _ordered(con, table, order)
    return compare(arrow_rows(table), duck_rows(con, op["params"]["sql"]))


def _subst(sql: str, old: str, new: str) -> str:
    if old not in sql:
        raise ValueError(f"oracle SQL no longer contains {old!r}")
    return sql.replace(old, new)


def pipeline_oracle(op: dict) -> str:
    name, p = op["template"], op["params"]
    if name in REGISTERED:
        return REGISTRY[REGISTERED[name]].oracle
    if name == "bloom_lookup":
        return _subst(REGISTRY["lake_bloom_point_lookup"].oracle,
                      "o_orderkey = 32", f"o_orderkey = {p['key']}")
    if name == "recursive_chain":
        return chain_sql(p["max_root"], p["max_depth"])
    if name == "minhash_lsh":
        return _subst(REGISTRY["dedup_minhash_lsh"].oracle,
                      "est_jaccard >= 0.7", f"est_jaccard >= {p['threshold']}")
    if name == "prefix_jaccard":
        return _subst(REGISTRY["dedup_prefix_jaccard"].oracle,
                      ">= 0.5)", f">= {p['threshold']})")
    if name == "tfidf_topk":
        return _subst(REGISTRY["text_tfidf_topk"].oracle, "rk <= 3", f"rk <= {p['k']}")
    raise ValueError(f"unknown pipeline op {name!r}")


def pipeline(con, op: dict, table, cache: dict) -> str | None:
    sql = pipeline_oracle(op)
    if sql not in cache:
        cache[sql] = duck_rows(con, sql)
    return compare(arrow_rows(table), cache[sql])
