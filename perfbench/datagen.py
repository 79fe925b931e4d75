"""Deterministic generator for the benchmark's input tables.

Writes the ten tables ``catalog.TABLES`` names, one parquet file each,
with the column names and types of the repository's test data (a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``). Row counts scale with ``sf`` the way the test data
does (sf 0.01 -> 15 000 orders, ~60 000 lineitem rows). The same
``sf`` and ``seed`` always give byte-identical files.

Keys are dense and unique: ``o_orderkey``, ``c_custkey``, ... run from
0, and (``l_orderkey``, ``l_linenumber``) is unique. About a tenth of
the documents are near-copies of an earlier one, so the near-duplicate
pipelines have pairs to find.

Run as a script to build one data set:

    python3 perfbench/datagen.py --out DIR --sf 0.01
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change, so cached data sets rebuild.
VERSION = 1
DATA_SEED = 20240101

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "shiny"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = (
    "a the data query table row column key value scan sort join merge "
    "group agg filter hash batch stream window spark part line order "
    "customer fast slow big small vector"
).split()

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400 * 1_000_000


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), pa.timestamp("us"))


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(choices), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices)
    ).cast(pa.string())


def sizes(sf: float) -> dict[str, int]:
    """Row counts (lineitem is drawn per order, so only its mean is fixed)."""
    return {
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 10),
        "orders": max(int(1_500_000 * sf), 10),
        "events": max(int(1_000_000 * sf), 10),
        "documents": max(int(50_000 * sf), 10),
        "embeddings": max(int(50_000 * sf), 10),
    }


def generate(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.Generator(np.random.PCG64(seed))
    n = sizes(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    npart = n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype="int64")),
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, _PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
    })

    no = n["orders"]
    d0, d1 = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    odays = rng.integers(0, (d1 - d0) // _DAY_US + 1, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype="int64")),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(d0 + odays * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    lkey = np.repeat(np.arange(no, dtype="int64"), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype="int64")),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 901.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(
            d0 + (odays[lkey] + rng.integers(1, 122, nl)) * _DAY_US
        ),
    })

    ne = n["events"]
    e0 = _us(dt.datetime(2024, 1, 1))
    span = 30 * _DAY_US
    ets = np.sort(rng.integers(0, span, ne)) + e0
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype="int64")),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, max(ne // 66, 10), ne, dtype="int64")),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": _money(rng, 0.01, 490.02, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.1:
            # near-copy of an earlier document with one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[
                int(rng.integers(0, len(_WORDS)))
            ]
        else:
            k = int(rng.integers(8, 100))
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), k)]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype="int64")),
        "text": texts,
        "lang": _pick(rng, _LANGS, nd),
        "source": _pick(rng, [f"src{i}" for i in range(20)], nd),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    emb = rng.standard_normal((nv, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype="int64")),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1)), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return out


def marker(sf: float) -> dict:
    return {"version": VERSION, "seed": DATA_SEED, "sf": sf}


def is_built(out_dir: str, sf: float) -> bool:
    try:
        with open(os.path.join(out_dir, "_DONE")) as fh:
            return json.load(fh) == marker(sf)
    except (OSError, ValueError):
        return False


# Primary key of each table with one; ``build`` refuses duplicates.
KEYS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
    "orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"], "documents": ["doc_id"], "embeddings": ["vec_id"],
}


def check_keys(name: str, table: pa.Table) -> None:
    cols = KEYS.get(name)
    if not cols:
        return
    keys = np.stack([table[c].to_numpy().astype("int64") for c in cols], axis=1)
    if len(np.unique(keys, axis=0)) != table.num_rows:
        raise ValueError(f"{name}: duplicate {cols}")


def build(out_dir: str, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in generate(sf).items():
        check_keys(name, table)
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=128 * 1024)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    with open(os.path.join(out_dir, "_DONE"), "w") as fh:
        json.dump(marker(sf), fh)
    return counts


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, required=True)
    args = ap.parse_args()
    print(json.dumps(build(args.out, args.sf)))
