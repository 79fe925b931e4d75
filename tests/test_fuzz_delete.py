"""Differential fuzz of the transactional delete path
(txlog.tx_delete_where): random tables + random predicates, physical
locate/rewrite/commit vs DuckDB's logical anti-filter over the same
starting rows. Catches 3VL slips, rewrite row loss/duplication, and
log drift that a single hand-picked case would miss."""

from __future__ import annotations

import random

import duckdb
import pytest

from parallel_dbms_spark.sources import txlog


def _gen_table(rng: random.Random, n: int):
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                rng.randrange(20),
                None if rng.random() < 0.15 else round(rng.uniform(0, 100), 2),
                rng.choice(["a", "b", "c", None]),
            )
        )
    return rows


def _gen_predicate(rng: random.Random) -> str:
    """A WHERE text over k/score/tag that Spark and DuckDB both parse."""
    choice = rng.randrange(5)
    if choice == 0:
        ks = sorted(rng.sample(range(20), rng.randrange(1, 5)))
        return f"k IN ({', '.join(map(str, ks))})"
    if choice == 1:
        return f"score > {round(rng.uniform(0, 90), 2)}"
    if choice == 2:
        return f"tag = '{rng.choice(['a', 'b', 'c'])}'"
    if choice == 3:
        lo = round(rng.uniform(0, 50), 2)
        return f"score < {lo} AND k = {rng.randrange(20)}"
    return "score IS NULL"


@pytest.mark.parametrize("seed", range(12))
def test_delete_where_matches_duckdb_anti_filter(spark, tmp_path, seed):
    rng = random.Random(1000 + seed)
    rows = _gen_table(rng, 800)
    df = spark.createDataFrame(
        rows, "id long, k int, score double, tag string"
    )
    t = str(tmp_path / f"t{seed}")
    txlog.tx_append(df.repartition(rng.randrange(2, 7)), t)
    n_total = len(txlog.snapshot_files(t)[1])

    where = _gen_predicate(rng)
    _, n_rewritten = txlog.tx_delete_where(spark, t, where)

    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(
        rows, columns=["id", "k", "score", "tag"]
    ))
    want = sorted(
        con.sql(
            f"SELECT id FROM t WHERE NOT COALESCE(({where}), FALSE)"
        ).fetchall()
    )
    got = sorted(
        (r["id"],)
        for r in txlog.read_snapshot(spark, t).select("id").collect()
    )
    assert got == want, f"seed={seed} where={where}"
    assert 0 <= n_rewritten <= n_total
