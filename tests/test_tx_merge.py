"""Generalized transactional MERGE (txlog.tx_merge): Delta's full
clause model — conditional matched UPDATE/DELETE, column-level SET,
conditional INSERT — on the hit-file rewrite machinery. The plain
``UPDATE SET * / INSERT *`` upsert (tx_merge_upsert) is a preset of
it; its contract is pinned here and in test_txlog.py."""

from __future__ import annotations

import pytest

from parallel_dbms_spark.sources import txlog


def _df(spark, rows, schema="k long, v string, amt long"):
    return spark.createDataFrame(rows, schema)


def test_clause_order_delete_update_insert(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.tx_append(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)]),
        t,
    )
    src = spark.createDataFrame(
        [(2, "B", 99, "upd"), (3, None, 0, "del"), (5, "e", 50, "ins"),
         (6, "f", -1, "skip")],
        "k long, v string, amt long, op string",
    )
    v, n = txlog.tx_merge(
        spark, t, src, ["k"],
        matched=[
            {"cond": "s.op = 'del'", "action": "delete"},
            {"cond": "s.op = 'upd'", "action": "update",
             "set": {"v": "upper(s.v)", "amt": "t.amt + s.amt"}},
        ],
        not_matched=[{"cond": "s.op = 'ins'", "values": None}],
    )
    rows = sorted(
        (r.k, r.v, r.amt) for r in txlog.read_snapshot(spark, t).collect()
    )
    # 3 deleted; 2 updated (column-level, t.+s. refs); 5 inserted
    # (INSERT * keeps only target columns); 6 dropped (no clause);
    # 1 and 4 untouched
    assert rows == [(1, "a", 10), (2, "B", 119), (4, "d", 40), (5, "e", 50)]


def test_unmatched_rows_in_single_hit_file_survive(spark, tmp_path):
    """Regression: the clause selector is NULL on hit-file rows with
    no source match — a non-null-safe isin() filter silently dropped
    them when matched and unmatched rows shared ONE file (caught by
    the lake_sql_merge_clauses oracle at sf0.01, invisible to
    row-per-file fixtures)."""
    t = str(tmp_path / "t")
    txlog.tx_append(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]).coalesce(1),
        t,
    )
    assert len(txlog.snapshot_files(t)[1]) == 1
    src = spark.createDataFrame([(2, "B", 0)], "k long, v string, amt long")
    txlog.tx_merge(
        spark, t, src, ["k"],
        matched=[{"cond": None, "action": "update", "set": {"v": "s.v"}}],
    )
    rows = sorted(
        (r.k, r.v, r.amt) for r in txlog.read_snapshot(spark, t).collect()
    )
    assert rows == [(1, "a", 10), (2, "B", 20), (3, "c", 30)]
    # matched row satisfying NO clause also survives verbatim
    txlog.tx_merge(
        spark, t, spark.createDataFrame([(3, "X", 0)],
                                        "k long, v string, amt long"),
        ["k"],
        matched=[{"cond": "s.amt > 100", "action": "delete"}],
    )
    rows = sorted((r.k, r.v) for r in txlog.read_snapshot(spark, t).collect())
    assert rows == [(1, "a"), (2, "B"), (3, "c")]


def test_set_star_and_insert_values_with_exprs(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.tx_append(_df(spark, [(4, "d", 4)]).coalesce(1), t)
    src = spark.createDataFrame(
        [(4, "DD", 0, "x"), (7, "g", 3, "y")],
        "k long, v string, amt long, op string",
    )
    txlog.tx_merge(
        spark, t, src, ["k"],
        matched=[{"cond": None, "action": "update", "set": None}],  # SET *
        not_matched=[{
            "cond": "s.op = 'y'",
            "values": {"k": "s.k", "v": "'made'", "amt": "s.amt + 100"},
        }],
    )
    rows = sorted(
        (r.k, r.v, r.amt) for r in txlog.read_snapshot(spark, t).collect()
    )
    assert rows == [(4, "DD", 0), (7, "made", 103)]


def test_only_hit_files_rewritten(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.tx_append(_df(spark, [(1, "a", 1), (2, "b", 2)]).coalesce(1), t)
    txlog.tx_append(_df(spark, [(10, "x", 10), (11, "y", 11)]).coalesce(1), t)
    _, before = txlog.snapshot_files(t)
    src = spark.createDataFrame([(2, "B", 0)], "k long, v string, amt long")
    v, n = txlog.tx_merge(
        spark, t, src, ["k"],
        matched=[{"cond": None, "action": "update", "set": {"v": "s.v"}}],
    )
    assert n == 1, "only the file containing k=2 is rewritten"
    rec = txlog.read_commit(t, v)
    untouched = [f for f in before if f not in rec["removed"]]
    assert untouched and all(
        f in txlog.snapshot_files(t)[1] for f in untouched
    ), "the non-hit file must survive byte-for-byte"


def test_constraints_and_guards(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.tx_append(_df(spark, [(1, "a", 10)]).coalesce(1), t)
    txlog.tx_set_constraint(spark, t, "amt_pos", "amt >= 0")
    src = spark.createDataFrame([(1, "a", -5)], "k long, v string, amt long")
    with pytest.raises(Exception):
        txlog.tx_merge(
            spark, t, src, ["k"],
            matched=[{"cond": None, "action": "update",
                      "set": {"amt": "s.amt"}}],
        )
    # generated / identity columns may not be SET
    txlog.tx_add_column(t, "rid", "bigint")
    txlog.tx_set_identity(spark, t, "rid", always=True)
    with pytest.raises(ValueError, match="identity"):
        txlog.tx_merge(
            spark, t, src, ["k"],
            matched=[{"cond": None, "action": "update",
                      "set": {"rid": "1"}}],
        )
    with pytest.raises(ValueError, match="at least one WHEN"):
        txlog.tx_merge(spark, t, src, ["k"])


def test_generated_column_recomputes_on_update(spark, tmp_path):
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    txlog.tx_append(
        spark.createDataFrame(
            [(1, 10, 20), (2, 7, 14)], "k long, amt long, dbl long"
        ).coalesce(1),
        t,
    )
    txlog.tx_set_generated(spark, t, "dbl", "amt * 2")
    src = spark.createDataFrame([(1, 50)], "k long, amt long")
    txlog.tx_merge(
        spark, t, src, ["k"],
        matched=[{"cond": None, "action": "update", "set": {"amt": "s.amt"}}],
    )
    rows = {r.k: (r.amt, r.dbl)
            for r in txlog.read_snapshot(spark, t).collect()}
    assert rows == {1: (50, 100), 2: (7, 14)}, (
        "generated column must recompute from the updated image"
    )


def test_cdc_change_set_per_clause(spark, tmp_path):
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    txlog.tx_append(
        _df(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3)]).coalesce(1), t
    )
    src = spark.createDataFrame(
        [(1, "A", 0, "upd"), (2, None, 0, "del"), (9, "i", 9, "ins")],
        "k long, v string, amt long, op string",
    )
    v, _ = txlog.tx_merge(
        spark, t, src, ["k"],
        matched=[
            {"cond": "s.op = 'del'", "action": "delete"},
            {"cond": "s.op = 'upd'", "action": "update", "set": {"v": "s.v"}},
        ],
        not_matched=[{"cond": None, "values": {
            "k": "s.k", "v": "s.v", "amt": "s.amt"}}],
        write_cdc=True,
    )
    ch = txlog.tx_changes(spark, t, v - 1, v)
    got = {
        (r["k"], r["_change_type"]) for r in ch.collect()
    }
    assert (1, "update_preimage") in got and (1, "update_postimage") in got
    assert (2, "delete") in got
    assert (9, "insert") in got
    # deleted row emits NO postimage; untouched row 3 emits nothing
    assert not any(k == 3 for k, _ in got)


def test_identity_fills_on_insert_and_survives_update(spark, tmp_path):
    t = str(tmp_path / "t")
    txlog.tx_append(
        spark.createDataFrame([(1, "a")], "k long, v string").coalesce(1), t
    )
    txlog.tx_add_column(t, "rid", "bigint")
    txlog.tx_set_identity(spark, t, "rid", always=True)
    # seed a row with a known generated id via append
    txlog.tx_append(
        spark.createDataFrame([(2, "b")], "k long, v string"), t
    )
    pre = {r.k: r.rid for r in txlog.read_snapshot(spark, t).collect()}
    src = spark.createDataFrame(
        [(2, "B"), (3, "c")], "k long, v string"
    )
    txlog.tx_merge(
        spark, t, src, ["k"],
        matched=[{"cond": None, "action": "update", "set": {"v": "s.v"}}],
        not_matched=[{"cond": None, "values": None}],
    )
    rows = {r.k: (r.v, r.rid) for r in txlog.read_snapshot(spark, t).collect()}
    assert rows[2][0] == "B" and rows[2][1] == pre[2], (
        "matched update keeps the target row's identity value"
    )
    assert rows[3][1] is not None, "insert generates identity"
    rids = [r[1] for r in rows.values() if r[1] is not None]
    assert len(rids) == len(set(rids))


def test_not_matched_by_source_sync(spark, tmp_path):
    """Delta 2.3's sync idiom: target rows the source no longer
    carries get DELETE or a flagging UPDATE; source-matched rows and
    clause-missing rows behave as before. Candidate files are pruned
    by the OR of the clauses' conditions."""
    t = str(tmp_path / "t")
    txlog.tx_append(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30),
                    (4, "stale", 40)]).coalesce(1),
        t,
    )
    src = spark.createDataFrame([(1, "A", 0)], "k long, v string, amt long")
    txlog.tx_merge(
        spark, t, src, ["k"],
        matched=[{"cond": None, "action": "update", "set": {"v": "s.v"}}],
        not_matched_by_source=[
            {"cond": "t.v = 'stale'", "action": "delete"},
            {"cond": "t.amt >= 30", "action": "update",
             "set": {"v": "'orphan'"}},
        ],
    )
    rows = sorted(
        (r.k, r.v, r.amt) for r in txlog.read_snapshot(spark, t).collect()
    )
    # 1 matched-updated; 4 deleted (stale); 3 flagged (amt>=30, not
    # stale); 2 untouched (no source match, no clause satisfied)
    assert rows == [(1, "A", 10), (2, "b", 20), (3, "orphan", 30)]


def test_not_matched_by_source_prunes_candidate_files(spark, tmp_path):
    """Conditional NMBS touches only files that can contain a
    satisfying row: a file whose rows all fail the OR of the
    conditions (and carry no source key) survives byte-for-byte."""
    t = str(tmp_path / "t")
    txlog.tx_append(_df(spark, [(1, "a", 10), (2, "b", 20)]).coalesce(1), t)
    txlog.tx_append(_df(spark, [(50, "x", 500)]).coalesce(1), t)
    _, before = txlog.snapshot_files(t)
    src = spark.createDataFrame([(999, "z", 0)],
                                "k long, v string, amt long")
    v, n = txlog.tx_merge(
        spark, t, src, ["k"],
        not_matched_by_source=[
            {"cond": "t.amt >= 100", "action": "delete"},
        ],
    )
    rec = txlog.read_commit(t, v)
    assert n == 1, "only the file containing amt>=100 rows is a candidate"
    survivors = [f for f in before if f not in rec["removed"]]
    assert survivors and all(
        f in txlog.snapshot_files(t)[1] for f in survivors
    )
    rows = sorted(r.k for r in txlog.read_snapshot(spark, t).collect())
    assert rows == [1, 2]


def test_null_condition_does_not_block_later_clauses(spark, tmp_path):
    """3VL: a clause condition evaluating to NULL for a row reads as
    not-satisfied — and must NOT poison the running selector so later
    clauses still apply (False | NULL = NULL would otherwise block
    them silently)."""
    t = str(tmp_path / "t")
    txlog.tx_append(_df(spark, [(1, "a", 10)]).coalesce(1), t)
    # s.v IS NULL for the source row, so `s.v = 'zzz'` is NULL —
    # the second (unconditional) clause must still fire
    src = spark.createDataFrame([(1, None, 5)], "k long, v string, amt long")
    txlog.tx_merge(
        spark, t, src, ["k"],
        matched=[
            {"cond": "s.v = 'zzz'", "action": "delete"},
            {"cond": None, "action": "update", "set": {"amt": "s.amt"}},
        ],
    )
    rows = [(r.k, r.v, r.amt)
            for r in txlog.read_snapshot(spark, t).collect()]
    assert rows == [(1, "a", 5)], rows
    # same on the NOT MATCHED side: NULL first-clause condition must
    # not block the unconditional insert clause
    src2 = spark.createDataFrame([(9, None, 90)],
                                 "k long, v string, amt long")
    txlog.tx_merge(
        spark, t, src2, ["k"],
        not_matched=[
            {"cond": "s.v = 'zzz'", "values": {
                "k": "s.k", "v": "'x'", "amt": "0"}},
            {"cond": None, "values": None},
        ],
    )
    ks = sorted(r.k for r in txlog.read_snapshot(spark, t).collect())
    assert ks == [1, 9]


def test_upsert_preset_cdc_postimage_is_landed_row(spark, tmp_path):
    """Duplicate source keys reduce to ONE surviving row per key, and
    that same row is what lands AND what the change feed reports: the
    source is pinned once, so the tie-break cannot differ between the
    staging job and the CDC job."""
    t = str(tmp_path / "t")
    txlog.tx_append(
        _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]).coalesce(1),
        t,
    )
    src = _df(
        spark,
        [(1, f"x{i}", i) for i in range(8)]
        + [(2, f"y{i}", i) for i in range(8)]
        + [(9, f"z{i}", i) for i in range(8)],
    ).repartition(4)
    v, n = txlog.tx_merge_upsert(spark, t, src, ["k"], write_cdc=True)
    assert n == 1
    landed = {
        r.k: (r.v, r.amt) for r in txlog.read_snapshot(spark, t).collect()
    }
    assert sorted(landed) == [1, 2, 3, 9] and landed[3] == ("c", 30)
    ch = txlog.tx_changes(spark, t, v - 1, v).collect()
    post = {
        r.k: (r.v, r.amt) for r in ch
        if r._change_type in ("update_postimage", "insert")
    }
    assert post == {k: landed[k] for k in (1, 2, 9)}
    pre = {r.k: (r.v, r.amt) for r in ch
           if r._change_type == "update_preimage"}
    assert pre == {1: ("a", 10), 2: ("b", 20)}


def test_upsert_preset_rejects_mismatched_generated_value(spark, tmp_path):
    """The upsert lands source rows verbatim, so a supplied GENERATED
    value must equal its expression — on a MATCHED row too, whose
    updated image would otherwise recompute it silently."""
    t = str(tmp_path / "t")
    txlog.tx_append(
        spark.createDataFrame(
            [(1, 10, 20), (2, 7, 14)], "k long, amt long, dbl long"
        ).coalesce(1),
        t,
    )
    txlog.tx_set_generated(spark, t, "dbl", "amt * 2")
    before = txlog.log_versions(t)
    bad = spark.createDataFrame([(1, 50, 99)], "k long, amt long, dbl long")
    with pytest.raises(ValueError, match="GENERATED column violation"):
        txlog.tx_merge_upsert(spark, t, bad, ["k"])
    assert txlog.log_versions(t) == before  # nothing committed
    ok = spark.createDataFrame([(1, 50, 100)], "k long, amt long, dbl long")
    txlog.tx_merge_upsert(spark, t, ok, ["k"])
    rows = {r.k: (r.amt, r.dbl)
            for r in txlog.read_snapshot(spark, t).collect()}
    assert rows == {1: (50, 100), 2: (7, 14)}
