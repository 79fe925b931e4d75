"""Transaction-log (sources/txlog.py) semantics: atomic commits,
optimistic concurrency, conflict detection, snapshot isolation,
checkpoint replay, vacuum. Threaded tests drive REAL concurrent
writers through the public API."""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
from decimal import Decimal

import numpy as np
import pytest

from conftest import jobs_run

from parallel_dbms_spark.sources import txlog


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "t")


def _df(spark, rows, schema="k long, v string"):
    return spark.createDataFrame(rows, schema)


def test_append_read_roundtrip(spark, table):
    v1 = txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]), table)
    v2 = txlog.tx_append(_df(spark, [(3, "c")]), table)
    assert (v1, v2) == (1, 2)
    got = {
        (r.k, r.v) for r in txlog.read_snapshot(spark, table).collect()
    }
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    assert txlog.log_versions(table) == [1, 2]


def test_threaded_appends_all_land(spark, table):
    n_threads, per_thread = 6, 4
    errs = []

    def writer(t):
        try:
            for i in range(per_thread):
                txlog.tx_append(
                    _df(spark, [(t * 100 + i, f"w{t}")]), table
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    total = n_threads * per_thread
    # versions are contiguous 1..N: every commit claimed a unique slot
    assert txlog.log_versions(table) == list(range(1, total + 1))
    rows = txlog.read_snapshot(spark, table).collect()
    assert len(rows) == total
    assert {r.k for r in rows} == {
        t * 100 + i for t in range(n_threads) for i in range(per_thread)
    }


def test_delete_rewrites_only_affected_files(spark, table):
    txlog.tx_append(_df(spark, [(i, "keep") for i in range(10)]), table)
    txlog.tx_append(_df(spark, [(i, "drop") for i in range(10, 20)]), table)
    _, before = txlog.snapshot_files(table)
    v, rewritten = txlog.tx_delete_where(spark, table, "v = 'drop'")
    _, after = txlog.snapshot_files(table)
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == set(range(10))
    # the keep-file is untouched (same physical file still live)
    keep_files = set(before) & set(after)
    assert keep_files, "unaffected file should not be rewritten"
    # delete of every row in a file leaves no replacement file
    rec = txlog.read_commit(table, v)
    assert rec["action"] == "delete" and rewritten >= 1


def test_delete_null_predicate_rows_survive(spark, table):
    txlog.tx_append(
        spark.createDataFrame(
            [(1, 5.0), (2, None), (3, 50.0)], "k long, x double"
        ),
        table,
    )
    txlog.tx_delete_where(spark, table, "x > 10.0")
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {1, 2}  # NULL predicate row SURVIVES (3VL)


def test_stale_append_commutes_but_conflicting_delete_raises(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    parent, files = txlog.snapshot_files(table)
    # interleave: another writer appends AFTER our snapshot
    txlog.tx_append(_df(spark, [(2, "b")]), table)
    # our commit with the stale parent: removes nothing -> commutes
    v = txlog.commit(table, "append", [], [], parent)
    assert v == 3
    # now two writers both try to remove the SAME file
    parent2, live = txlog.snapshot_files(table)
    victim = [live[0]]
    txlog.commit(table, "delete", [], victim, parent2)
    with pytest.raises(txlog.TxConflict):
        txlog.commit(table, "delete", [], victim, parent2)


def test_delete_retries_through_interleaved_append(spark, table):
    txlog.tx_append(_df(spark, [(i, "x") for i in range(5)]), table)
    # a delete whose snapshot goes stale mid-flight still lands: the
    # public API retries; simulate staleness with a racing append
    done = threading.Event()

    def appender():
        while not done.is_set():
            txlog.tx_append(_df(spark, [(999, "noise")]), table)

    th = threading.Thread(target=appender)
    th.start()
    try:
        v, n = txlog.tx_delete_where(spark, table, "k = 2")
        assert n == 1
    finally:
        done.set()
        th.join()
    ks = [r.k for r in txlog.read_snapshot(spark, table).collect()]
    assert 2 not in ks and set(ks) >= {0, 1, 3, 4}


def test_compact_preserves_data_and_commutes_with_append(spark, table):
    for i in range(4):
        txlog.tx_append(_df(spark, [(i, "a")]), table)
    _, files = txlog.snapshot_files(table)
    assert len(files) >= 4
    v, replaced = txlog.tx_compact(spark, table, num_files=1)
    _, after = txlog.snapshot_files(table)
    assert replaced == len(files) and len(after) == 1
    assert {r.k for r in txlog.read_snapshot(spark, table).collect()} == {
        0, 1, 2, 3,
    }
    # compact with a stale parent + interleaved append: append survives
    parent, live = txlog.snapshot_files(table)
    txlog.tx_append(_df(spark, [(99, "late")]), table)
    v2, _ = txlog.tx_compact(spark, table, num_files=1)
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert 99 in got and got >= {0, 1, 2, 3}


def test_snapshot_isolation_and_time_travel(spark, table):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]), table)
    pinned = txlog.read_snapshot(spark, table, version=1)
    txlog.tx_delete_where(spark, table, "k = 1")
    # the pinned plan still reads the immutable v1 files
    assert {r.k for r in pinned.collect()} == {1, 2}
    assert {
        r.k for r in txlog.read_snapshot(spark, table, version=1).collect()
    } == {1, 2}
    assert {r.k for r in txlog.read_snapshot(spark, table).collect()} == {2}


# every public per-version reader of the log, by name: each answers
# from the one checkpoint-plus-tail replay
_READERS = (
    "snapshot_files", "snapshot_dvs", "snapshot_stats", "snapshot_pv",
    "snapshot_bloom_map", "snapshot_distinct_map", "snapshot_txns",
    "snapshot_base_row_ids", "table_partition_by", "table_constraints",
    "table_column_defaults", "table_generated_columns", "table_cluster_by",
    "table_identity", "identity_watermark", "copy_into_sources",
    "table_row_tracking", "row_id_watermark", "table_column_mapping",
    "_schema_at",
)


def _answers(table, v):
    return {name: getattr(txlog, name)(table, v) for name in _READERS}


def _rich_history(spark, table, src):
    """A history that crosses the v10 and v20 checkpoints and sets
    every plane the log folds: partitioning, stats, Bloom and distinct
    sidecars, a CHECK constraint, a default, a generated column,
    clustering, identity, row tracking, streaming txn marks, a column
    rename, merge-on-read deletion vectors, COPY INTO sources, and a
    copy-on-write rewrite and RESTORE that remove files again."""
    schema = "k long, v string, p string, g long, id long"

    def rows(lo, hi):
        return _df(spark, [
            (i, f"s{i}", "a" if i % 2 else "b", i * 2, i)
            for i in range(lo, hi)
        ], schema)

    txlog.tx_append(rows(0, 6), table, partition_by=["p"],
                    stats_cols=["k"], bloom_cols=["k"],
                    distinct_cols=["k"])                          # v1
    txlog.tx_set_constraint(spark, table, "k_pos", "k >= 0")     # v2
    txlog.tx_set_default(table, "v", "'dflt'")                   # v3
    txlog.tx_set_generated(spark, table, "g", "k * 2")           # v4
    txlog.tx_set_cluster_by(table, ["k"])                        # v5
    txlog.tx_set_identity(spark, table, "id", start=100,
                          always=False)                          # v6
    txlog.tx_enable_row_tracking(table)                          # v7
    txlog.tx_append(_df(spark, [(6, "a"), (7, "b")], "k long, p string"),
                    table, meta={"txn_app": "ing", "txn_batch": 3})  # v8
    txlog.tx_rename_column(spark, table, "v", "vv")              # v9
    txlog.tx_delete_where_mor(spark, table, "k = 1")             # v10
    spark.createDataFrame([(20, "a"), (21, "b")], "k long, p string") \
        .coalesce(1).write.parquet(src)
    txlog.tx_copy_into(spark, table, src)                        # v11
    txlog.tx_bloom(spark, table, ["k"])                          # v12
    txlog.tx_distinct(spark, table, ["k"])                       # v13
    txlog.tx_delete_where(spark, table, "k = 2")                 # v14
    txlog.tx_analyze(table, ["k", "id"])                         # v15
    txlog.tx_append(_df(spark, [(30, "a")], "k long, p string"), table,
                    meta={"txn_app": "ing", "txn_batch": 4})     # v16
    txlog.tx_delete_where_mor(spark, table, "k = 3")             # v17
    txlog.tx_drop_default(table, "vv")                           # v18
    txlog.tx_restore(table, 9)                                   # v19
    txlog.tx_append(_df(spark, [(40, "b")], "k long, p string"),
                    table)                                       # v20
    txlog.tx_delete_where_mor(spark, table, "k = 5")             # v21


@pytest.fixture(scope="module")
def rich_table(spark, tmp_path_factory):
    """One :func:`_rich_history` table shared read-only by the module;
    a test that changes it works on its own copy."""
    base = tmp_path_factory.mktemp("rich")
    table = str(base / "t")
    _rich_history(spark, table, str(base / "landing"))
    return table


def test_checkpoint_replay_matches_full_replay(spark, rich_table, tmp_path):
    """Every public reader answers the same at every version whether
    the replay seeds from a checkpoint or folds the whole log — and,
    after tx_expire_versions truncates the prefix, the surviving
    versions still answer as before."""
    import shutil

    table = str(tmp_path / "t")
    shutil.copytree(rich_table, table)
    versions = txlog.log_versions(table)
    assert versions == list(range(1, 22))
    for c in (10, 20):
        assert os.path.exists(txlog._ckpt_path(table, c))
    bare = str(tmp_path / "bare")
    shutil.copytree(table, bare)
    for f in os.listdir(os.path.join(bare, txlog.TXLOG)):
        if f.endswith(".checkpoint.json"):
            os.remove(os.path.join(bare, txlog.TXLOG, f))
    want = {}
    for v in versions:
        want[v] = _answers(table, v)
        assert want[v] == _answers(bare, v), v
    # the history really exercised every plane
    for name in _READERS:
        assert any(want[v][name] for v in versions), name
    assert want[21]["table_column_mapping"][0]["vv"] == "v"
    assert txlog.snapshot_dvs(table)
    # expire below a non-checkpoint version: a checkpoint lands at the
    # horizon and every surviving version answers exactly as before
    assert txlog.tx_expire_versions(table, 15) == list(range(1, 15))
    assert txlog.log_versions(table) == list(range(15, 22))
    for v in range(15, 22):
        assert _answers(table, v) == want[v], v
    # a version below the horizon raises one error from every reader,
    # newest-wins and per-file alike (it used to read as the planes'
    # defaults, or as a missing commit file); above the head,
    # newest-wins planes read as the head and per-file planes raise
    expired = (
        "version 3 not in log of .*: expired, the oldest kept version is 15"
    )
    for name in _READERS:
        with pytest.raises(ValueError, match=expired):
            getattr(txlog, name)(table, 3)
    with pytest.raises(ValueError, match=expired):
        txlog.tx_point_lookup(spark, table, "k", 1, version=3)
    assert txlog.table_identity(table, 99) == want[21]["table_identity"]
    for fold in (txlog.snapshot_stats, txlog.snapshot_dvs,
                 txlog.snapshot_txns, txlog.snapshot_base_row_ids):
        with pytest.raises(FileNotFoundError):
            fold(table, 99)


def test_checkpoint_is_fsynced_before_publish(spark, table, monkeypatch):
    """The checkpoint's tmp file is flushed to disk before os.replace
    publishes it, so a crash can never leave an empty checkpoint that
    every reader of the table would fail to parse."""
    for i in range(3):
        txlog.tx_append(_df(spark, [(i, "x")]), table)
    calls = []
    fsync, replace = os.fsync, os.replace
    monkeypatch.setattr(
        os, "fsync", lambda fd: (calls.append("fsync"), fsync(fd))[1]
    )
    monkeypatch.setattr(
        os, "replace",
        lambda a, b: (calls.append(("replace", b)), replace(a, b))[1],
    )
    txlog._write_checkpoint(table, 3)
    assert calls == ["fsync", ("replace", txlog._ckpt_path(table, 3))]
    with open(txlog._ckpt_path(table, 3)) as fh:
        assert len(json.load(fh)["live"]) == 3


def test_reader_answers_are_private_copies(rich_table):
    """Readers answer from one memoized state; mutating what one call
    returned never changes the next call's answer."""
    table = rich_table
    readers = (
        "table_column_defaults", "table_constraints", "table_identity",
        "table_cluster_by", "snapshot_stats", "snapshot_dvs",
        "copy_into_sources",
    )
    for v in (17, 21):
        before = {n: getattr(txlog, n)(table, v) for n in readers}
        assert all(before.values())
        got = {n: getattr(txlog, n)(table, v) for n in readers}
        got["table_column_defaults"]["k"] = "0"
        got["table_constraints"].clear()
        for spec in got["table_identity"].values():
            spec["step"] = 7
        got["table_identity"]["k"] = {}
        got["table_cluster_by"].append("v")
        got["snapshot_stats"].clear()
        for pos in got["snapshot_dvs"].values():
            pos.append(10**6)
        got["snapshot_dvs"]["x"] = [0]
        got["copy_into_sources"].add("/elsewhere")
        assert {n: getattr(txlog, n)(table, v) for n in readers} == before


def test_replay_memo_under_concurrent_readers(rich_table, monkeypatch):
    """Readers on many threads share the replay memo while it keeps
    filling and clearing: every answer still equals the one a single
    reader gets."""
    import sys

    versions = txlog.log_versions(rich_table)
    want = {v: _answers(rich_table, v) for v in versions}
    monkeypatch.setattr(txlog, "_REPLAY_CACHE_MAX", 3)
    txlog._REPLAY_CACHE.clear()
    wrong = []

    def reader(seed):
        for i in range(20):
            v = versions[(seed * 7 + i) % len(versions)]
            if _answers(rich_table, v) != want[v]:
                wrong.append(v)

    threads = [threading.Thread(target=reader, args=(t,)) for t in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert wrong == []


def test_schema_falls_back_past_pre_folding_checkpoint(spark, table):
    """A checkpoint written before schemas were folded into
    checkpoints carries no ``schema`` key: schema resolution keeps
    looking at the versions before it."""
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    for _ in range(txlog.CHECKPOINT_EVERY + 1):
        txlog.tx_bloom(spark, table, ["k"])  # schema-less commits
    ck = txlog._ckpt_path(table, txlog.CHECKPOINT_EVERY)
    with open(ck) as fh:
        folded = json.load(fh)
    del folded["schema"]
    # a copy of the table whose checkpoint predates schema folding: a
    # fresh path, so no memoized state of the original can answer
    legacy = table + "_legacy"
    import shutil

    shutil.copytree(table, legacy)
    with open(txlog._ckpt_path(legacy, txlog.CHECKPOINT_EVERY), "w") as fh:
        json.dump(folded, fh)
    assert [f.name for f in txlog.table_schema(legacy).fields] == ["k", "v"]
    for v in (txlog.CHECKPOINT_EVERY, txlog.log_versions(legacy)[-1]):
        assert txlog._schema_at(legacy, v) == txlog._schema_at(table, v)
        got = txlog.read_snapshot(spark, legacy, version=v).collect()
        assert [(r.k, r.v) for r in got] == [(1, "a")]


def test_resolved_reads_parse_no_checkpoint(spark, table, monkeypatch):
    """Once a version's state is resolved, a point lookup and a
    skipping read on it open no checkpoint file: every reader they
    call answers from the memoized replay."""
    import builtins

    for lo in range(0, 12 * 100, 100):
        txlog.tx_append(_ranged(spark, lo, lo + 100, parts=1), table,
                        stats_cols=["k"], bloom_cols=["k"])
    assert os.path.exists(txlog._ckpt_path(table, txlog.CHECKPOINT_EVERY))

    def reads():
        df, _, _ = txlog.tx_point_lookup(spark, table, "k", 501)
        df2, _, _ = txlog.tx_read_skipping(spark, table, "k", 300, 350)
        return df, df2

    reads()  # resolves the head state
    opened = []
    real_open = builtins.open

    def counting(path, *args, **kwargs):
        if str(path).endswith(".checkpoint.json"):
            opened.append(path)
        return real_open(path, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", counting)
    df, df2 = reads()
    assert opened == []
    monkeypatch.undo()
    assert [(r.k, r.v) for r in df.collect()] == [(501, 1002)]
    assert df2.count() == 51


def test_vacuum_reclaims_only_orphans(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    # crashed writer: staged + renamed but never committed
    orphans = txlog._stage(_df(spark, [(9, "orphan")]), table)
    _, live = txlog.snapshot_files(table)
    removed = txlog.tx_vacuum(table, retention_seconds=0.0)
    assert set(orphans) <= set(removed)
    for f in live:
        assert os.path.exists(os.path.join(table, f))
    assert {r.k for r in txlog.read_snapshot(spark, table).collect()} == {1}


def test_vacuum_retention_spares_inflight_staged_files(spark, table):
    """_stage renames into data/ BEFORE the commit lands; a default
    (retention-guarded) vacuum must NOT reclaim those fresh files, or a
    concurrent writer's commit would reference deleted files."""
    import time

    txlog.tx_append(_df(spark, [(1, "a")]), table)
    inflight = txlog._stage(_df(spark, [(9, "inflight")]), table)
    # default retention: fresh un-referenced files survive
    removed = txlog.tx_vacuum(table)
    assert not removed
    for f in inflight:
        assert os.path.exists(os.path.join(table, f))
    # the in-flight writer can still commit successfully
    parent = txlog.log_versions(table)[-1]
    txlog.commit(table, "append", inflight, [], parent)
    assert txlog.read_snapshot(spark, table).count() == 2
    # a genuinely old orphan IS reclaimed under the same default call
    old = txlog._stage(_df(spark, [(8, "orphan")]), table)
    past = time.time() - 7 * 86400
    for f in old:
        os.utime(os.path.join(table, f), (past, past))
    staging = os.path.join(table, txlog.STAGING)
    for d in os.listdir(staging):
        os.utime(os.path.join(staging, d), (past, past))
    removed = txlog.tx_vacuum(table)
    assert set(old) <= set(removed)


def test_compact_preserves_evolved_columns(spark, table):
    """ADVICE r5 (high): compact after an additive merge_schema append
    must rewrite with the RECORDED schema — footer inference from a
    mixed-schema file set silently nulls the evolved column, and since
    compact removes the old files the loss would be permanent."""
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    txlog.tx_append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, x double"),
        table,
        merge_schema=True,
    )
    v, replaced = txlog.tx_compact(spark, table, num_files=1)
    assert replaced == 2
    rows = {r.k: r for r in txlog.read_snapshot(spark, table).collect()}
    assert rows[2].x == 9.5 and rows[1].x is None
    # the compact commit records the widened schema, so a later
    # schema-validated append still sees (k, v, x)
    sch = txlog.table_schema(table)
    assert {f.name for f in sch.fields} == {"k", "v", "x"}


def test_delete_preserves_evolved_columns(spark, table):
    txlog.tx_append(_df(spark, [(1, "a"), (3, "c")]), table)
    txlog.tx_append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, x double"),
        table,
        merge_schema=True,
    )
    # delete hits the OLD (pre-evolution) file; its rewrite must keep
    # the evolved column visible and record the widened schema
    txlog.tx_delete_where(spark, table, "k = 3")
    out = txlog.read_snapshot(spark, table)
    assert set(out.columns) == {"k", "v", "x"}
    rows = {r.k: r for r in out.collect()}
    assert set(rows) == {1, 2} and rows[2].x == 9.5


def test_interleaved_schema_change_is_a_conflict(spark, table):
    """ADVICE r5 (medium): a commit carrying a schema validated against
    a pre-race snapshot must NOT blindly re-claim past an interleaved
    commit that changed the schema — that would record a widened schema
    omitting the other writer's new column."""
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    stale_schema = txlog.table_schema(table).json()
    # another writer's additive evolution lands after our snapshot
    txlog.tx_append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, x double"),
        table,
        merge_schema=True,
    )
    with pytest.raises(txlog.TxConflict, match="schema"):
        txlog.commit(
            table, "append", [], [], parent_version=1,
            schema_json=stale_schema,
        )
    # same-schema appends still commute (no spurious conflicts)
    cur = txlog.table_schema(table).json()
    v = txlog.commit(table, "append", [], [], parent_version=1,
                     schema_json=cur)
    assert v == 3


def test_concurrent_merge_schema_appends_keep_both_columns(spark, table):
    """End-to-end schema race: writer A widens with column x while
    writer B (snapshot taken before A landed) widens with column y.
    B must re-validate — under the additive-only contract B's append
    is rejected (its df lacks x), NOT silently committed with a schema
    that loses x."""
    txlog.tx_append(_df(spark, [(1, "a")]), table)

    real_stage = txlog._stage
    fired = {"done": False}

    def racing_stage(df, tbl, mapping=None):
        rels = real_stage(df, tbl, mapping)
        if not fired["done"]:
            fired["done"] = True
            # interleave A's widen AFTER B validated + staged
            txlog.tx_append(
                spark.createDataFrame(
                    [(5, "e", 1.5)], "k long, v string, x double"
                ),
                tbl,
                merge_schema=True,
            )
        return rels

    import unittest.mock as mock

    with mock.patch.object(txlog, "_stage", racing_stage):
        with pytest.raises(ValueError, match="drops"):
            txlog.tx_append(
                spark.createDataFrame(
                    [(9, "z", 7)], "k long, v string, y long"
                ),
                table,
                merge_schema=True,
            )
    # A's evolution survived intact — x serves everywhere
    out = txlog.read_snapshot(spark, table)
    assert set(out.columns) == {"k", "v", "x"}
    rows = {r.k: r for r in out.collect()}
    assert rows[5].x == 1.5 and 9 not in rows


def test_commit_files_publish_atomically(spark, table):
    """ADVICE r5 (medium): commit records are published via tmp+link,
    so a concurrent reader never observes empty/partial JSON and no
    tmp litter survives."""
    for i in range(5):
        txlog.tx_append(_df(spark, [(i, "x")]), table)
    log = os.path.join(table, txlog.TXLOG)
    assert not [f for f in os.listdir(log) if ".tmp-" in f]
    for v in txlog.log_versions(table):
        rec = txlog.read_commit(table, v)  # parses — fully written
        assert rec["version"] == v


def test_empty_table_after_full_delete_keeps_schema(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    txlog.tx_delete_where(spark, table, "true")
    out = txlog.read_snapshot(spark, table)
    assert out.count() == 0
    assert set(out.columns) == {"k", "v"}


def test_stream_tx_append_skips_replayed_batch(spark, tmp_path):
    """Crash-between-commit-and-checkpoint: the batch is already in the
    log when it is re-delivered, and must not double-ingest."""
    from parallel_dbms_spark.streaming.sinks import stream_tx_append

    table = str(tmp_path / "t")
    src = str(tmp_path / "src")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df.coalesce(1).write.parquet(src)

    # simulate the crashed run: batch 0 committed, checkpoint lost
    txlog.tx_append(df, table, meta={"txn_app": "ingest", "txn_batch": 0})
    assert txlog.committed_txn_batches(table, "ingest") == {0}
    # other apps' ledgers are independent
    assert txlog.committed_txn_batches(table, "other") == set()

    stream = spark.readStream.schema("k long, v string").parquet(src)
    stream_tx_append(
        stream, table, str(tmp_path / "ckpt"), app="ingest"
    )
    # the re-delivered batch 0 was skipped: still exactly one commit
    assert txlog.log_versions(table) == [1]
    assert txlog.read_snapshot(spark, table).count() == 2


def test_schema_drift_rejected_without_merge_flag(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    with pytest.raises(ValueError, match="schema drift"):
        txlog.tx_append(
            spark.createDataFrame([(2, "b", 9.0)], "k long, v string, x double"),
            table,
        )
    # nothing landed: one commit, one row
    assert txlog.log_versions(table) == [1]
    assert txlog.read_snapshot(spark, table).count() == 1


def test_additive_schema_evolution(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    txlog.tx_append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, x double"),
        table,
        merge_schema=True,
    )
    out = txlog.read_snapshot(spark, table)
    assert set(out.columns) == {"k", "v", "x"}
    rows = {r.k: r for r in out.collect()}
    assert rows[1].x is None and rows[2].x == 9.5
    # time travel serves the OLD schema before the evolution commit
    v1 = txlog.read_snapshot(spark, table, version=1)
    assert set(v1.columns) == {"k", "v"}
    # type changes and column drops stay rejected
    with pytest.raises(ValueError, match="type"):
        txlog.tx_append(
            spark.createDataFrame([(3, 7)], "k long, v long"),
            table,
            merge_schema=True,
        )
    with pytest.raises(ValueError, match="drops"):
        txlog.tx_append(
            _df(spark, [(3, "c")]), table, merge_schema=True
        )


def test_skipping_stats_ride_commits_and_survive_compaction(spark, table):
    """Data skipping composes with ACID: per-file min/max stats ride
    the same atomic commit as the file list, so append, delete, AND
    compact keep the skipping surface correct — no separate manifest
    to go stale."""
    for lo_, hi_ in ((0, 9), (10, 19), (20, 29)):
        txlog.tx_append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo_, hi_ + 1)],
                "k long, x double",
            ),
            table,
            stats_cols=["k"],
        )
    df, nread, ntotal = txlog.tx_read_skipping(spark, table, "k", lo=12, hi=14)
    assert {r.k for r in df.collect()} == {12, 13, 14}
    assert nread < ntotal, "out-of-range files must be skipped"

    # a delete rewrite records stats for its replacement files
    txlog.tx_delete_where(spark, table, "k = 13", stats_cols=["k"])
    df, nread, ntotal = txlog.tx_read_skipping(spark, table, "k", lo=12, hi=14)
    assert {r.k for r in df.collect()} == {12, 14}
    assert nread < ntotal

    # compaction: stats for the packed files ride the compact commit,
    # and the OLD files' stats drop out of the snapshot atomically
    txlog.tx_compact(spark, table, num_files=2, stats_cols=["k"])
    stats = txlog.snapshot_stats(table)
    _, live = txlog.snapshot_files(table)
    assert set(stats) == set(live), "stats must cover exactly the live set"
    df, nread, ntotal = txlog.tx_read_skipping(spark, table, "k", lo=12, hi=14)
    assert {r.k for r in df.collect()} == {12, 14}

    # time travel: the pinned version serves ITS OWN stats (k=13 back)
    df, _, _ = txlog.tx_read_skipping(spark, table, "k", lo=12, hi=14,
                                      version=3)
    assert {r.k for r in df.collect()} == {12, 13, 14}


def test_skipping_is_conservative_without_stats(spark, table):
    """Files appended without stats_cols must always be read."""
    txlog.tx_append(
        spark.createDataFrame([(1, "a")], "k long, v string"), table
    )
    txlog.tx_append(
        spark.createDataFrame([(100, "b")], "k long, v string"),
        table,
        stats_cols=["k"],
    )
    df, nread, ntotal = txlog.tx_read_skipping(spark, table, "k", lo=0, hi=5)
    assert ntotal == 2 and nread == 1  # stats-less file read, other skipped
    assert {r.k for r in df.collect()} == {1}
    # a range matching nothing still reads the stats-less file only
    df, nread, _ = txlog.tx_read_skipping(spark, table, "k", lo=500, hi=600)
    assert nread == 1 and df.count() == 0


def test_skipping_stats_fold_through_checkpoints(spark, table):
    """Stats resolution replays from the newest checkpoint, not the
    whole log: cross the checkpoint boundary and verify stats are
    complete and skipping still prunes."""
    for i in range(12):  # crosses the every-10 checkpoint
        txlog.tx_append(
            spark.createDataFrame([(i * 10 + j, "x") for j in range(3)],
                                  "k long, v string").coalesce(1),
            table,
            stats_cols=["k"],
        )
    ckpt = os.path.join(table, txlog.TXLOG, f"{10:012d}.checkpoint.json")
    assert os.path.exists(ckpt)
    with open(ckpt) as fh:
        assert json.load(fh)["stats"], "checkpoint must embed stats"
    stats = txlog.snapshot_stats(table)
    _, live = txlog.snapshot_files(table)
    assert set(stats) == set(live)
    df, nread, ntotal = txlog.tx_read_skipping(spark, table, "k", lo=31, hi=32)
    assert nread == 1 and ntotal == 12
    assert {r.k for r in df.collect()} == {31, 32}


def test_zorder_compact_tightens_skipping_both_dims(spark, table):
    """OPTIMIZE-ZORDER as one atomic commit: tx_compact(zorder_by=...)
    reclusters the snapshot on the z-curve and records fresh stats, so
    range scans on EITHER clustered column prune files afterward."""
    import random

    rnd = random.Random(7)
    rows = [(i, rnd.randrange(1000), rnd.randrange(1000))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    # two unclustered appends: every file spans ~the full x/y range
    txlog.tx_append(df.filter("id % 2 = 0").repartition(4), table,
                    stats_cols=["x", "y"])
    txlog.tx_append(df.filter("id % 2 = 1").repartition(4), table,
                    stats_cols=["x", "y"])
    _, nread_before, ntotal_before = txlog.tx_read_skipping(
        spark, table, "x", lo=0, hi=60)
    assert nread_before == ntotal_before, "unclustered: nothing prunes"

    v, replaced = txlog.tx_compact(
        spark, table, num_files=8, stats_cols=["x", "y"],
        zorder_by=["x", "y"],
    )
    assert replaced == ntotal_before
    # both dimensions prune now, and the data is intact
    out_x, nread_x, ntotal = txlog.tx_read_skipping(
        spark, table, "x", lo=0, hi=60)
    out_y, nread_y, _ = txlog.tx_read_skipping(
        spark, table, "y", lo=0, hi=60)
    assert ntotal == 8
    assert nread_x < ntotal and nread_y < ntotal
    want_x = {r.id for r in df.filter("x <= 60").collect()}
    assert {r.id for r in out_x.collect()} == want_x
    assert txlog.read_snapshot(spark, table).count() == 4000


def test_merge_upsert_rewrites_only_hit_files(spark, table):
    """Transactional MERGE: source wins on key match, new keys insert,
    and only files containing a source key are rewritten."""
    txlog.tx_append(_df(spark, [(i, "old") for i in range(5)]).coalesce(1),
                    table)
    txlog.tx_append(_df(spark, [(i, "keep") for i in range(10, 15)])
                    .coalesce(1), table)
    _, before = txlog.snapshot_files(table)
    src = _df(spark, [(2, "new"), (3, "new"), (99, "insert")])
    v, rewritten = txlog.tx_merge_upsert(spark, table, src, keys=["k"])
    assert rewritten == 1  # only the file holding keys 2/3
    _, after = txlog.snapshot_files(table)
    assert set(before) & set(after), "un-hit file must survive untouched"
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, table).collect()}
    assert got == (
        {(0, "old"), (1, "old"), (4, "old"), (2, "new"), (3, "new"),
         (99, "insert")}
        | {(i, "keep") for i in range(10, 15)}
    )
    rec = txlog.read_commit(table, v)
    assert rec["action"] == "merge"


def test_merge_upsert_empty_table_and_source_dedup(spark, table):
    src = _df(spark, [(1, "a"), (1, "b"), (2, "c")])
    v, rewritten = txlog.tx_merge_upsert(spark, table, src, keys=["k"])
    assert v == 1 and rewritten == 0
    rows = {r.k: r.v for r in txlog.read_snapshot(spark, table).collect()}
    assert set(rows) == {1, 2}  # one survivor per key


def test_merge_upsert_retries_through_interleaved_append(spark, table):
    txlog.tx_append(_df(spark, [(i, "x") for i in range(4)]), table)
    done = threading.Event()

    def appender():
        while not done.is_set():
            txlog.tx_append(_df(spark, [(999, "noise")]), table)

    th = threading.Thread(target=appender)
    th.start()
    try:
        v, _ = txlog.tx_merge_upsert(
            spark, table, _df(spark, [(2, "merged")]), keys=["k"]
        )
    finally:
        done.set()
        th.join()
    rows = {r.k: r.v for r in txlog.read_snapshot(spark, table).collect()
            if r.k == 2}
    assert rows == {2: "merged"}


def test_merge_upsert_conflicts_with_concurrent_merge_on_same_file(
    spark, table
):
    """Two merges rewriting the same file: exactly one wins per
    attempt, the loser retries against the fresh snapshot, and the
    final state reflects BOTH merges (serializable outcome)."""
    txlog.tx_append(_df(spark, [(i, "base") for i in range(4)]).coalesce(1),
                    table)
    errs = []

    def merge(k, val):
        try:
            txlog.tx_merge_upsert(
                spark, table, _df(spark, [(k, val)]), keys=["k"]
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ths = [threading.Thread(target=merge, args=(1, "m1")),
           threading.Thread(target=merge, args=(2, "m2"))]
    for t_ in ths:
        t_.start()
    for t_ in ths:
        t_.join()
    assert not errs
    rows = {r.k: r.v for r in txlog.read_snapshot(spark, table).collect()}
    assert rows[1] == "m1" and rows[2] == "m2"
    assert rows[0] == "base" and rows[3] == "base"


def test_merge_upsert_keeps_skipping_stats(spark, table):
    txlog.tx_append(
        spark.createDataFrame([(i, float(i)) for i in range(10)],
                              "k long, x double").coalesce(1),
        table, stats_cols=["k"],
    )
    txlog.tx_append(
        spark.createDataFrame([(i, float(i)) for i in range(100, 110)],
                              "k long, x double").coalesce(1),
        table, stats_cols=["k"],
    )
    txlog.tx_merge_upsert(
        spark, table,
        spark.createDataFrame([(5, -1.0)], "k long, x double"),
        keys=["k"], stats_cols=["k"],
    )
    stats = txlog.snapshot_stats(table)
    _, live = txlog.snapshot_files(table)
    assert set(stats) == set(live)
    df, nread, ntotal = txlog.tx_read_skipping(spark, table, "k",
                                               lo=100, hi=105)
    assert nread < ntotal
    assert {r.k for r in df.collect()} == set(range(100, 106))


def test_change_feed_derives_row_level_diffs(spark, table):
    """tx_changes: inserts/deletes per commit from the log's own file
    lists — updates surface as delete+insert, compaction is invisible
    and costs no reads."""
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), table)
    txlog.tx_append(_df(spark, [(4, "d")]), table)
    txlog.tx_delete_where(spark, table, "k = 1")
    txlog.tx_merge_upsert(
        spark, table, _df(spark, [(2, "B"), (99, "new")]), keys=["k"]
    )
    txlog.tx_compact(spark, table, num_files=1)

    ch = txlog.tx_changes(spark, table, from_version=0)
    got = {(r.k, r.v, r._change_type, r._commit_version)
           for r in ch.collect()}
    assert got == {
        (1, "a", "insert", 1), (2, "b", "insert", 1), (3, "c", "insert", 1),
        (4, "d", "insert", 2),
        (1, "a", "delete", 3),
        (2, "b", "delete", 4), (2, "B", "insert", 4), (99, "new", "insert", 4),
    }
    # range reads: only the tail
    tail = txlog.tx_changes(spark, table, from_version=3)
    assert {(r.k, r._change_type) for r in tail.collect()} == {
        (2, "delete"), (2, "insert"), (99, "insert")
    }
    # replaying the feed onto the from_version snapshot reproduces the
    # final snapshot (the CDC contract)
    base = txlog.read_snapshot(spark, table, version=2)
    ins = ch.filter("_change_type = 'insert' and _commit_version > 2") \
            .select("k", "v")
    dels = ch.filter("_change_type = 'delete' and _commit_version > 2") \
             .select("k", "v")
    replayed = base.unionByName(ins).exceptAll(dels)
    final = txlog.read_snapshot(spark, table)
    assert sorted(map(tuple, replayed.collect())) == \
        sorted(map(tuple, final.collect()))


def test_stream_tx_merge_exactly_once_and_replay_skip(spark, tmp_path):
    """Streaming MERGE into the transactional table: batches apply as
    atomic merge commits, and a replayed batch (already in the txn
    ledger) is skipped without touching the table."""
    from parallel_dbms_spark.streaming.sinks import stream_tx_merge

    table = str(tmp_path / "t")
    src = str(tmp_path / "src")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    txlog.tx_append(base, table)
    feed = spark.createDataFrame(
        [(2, "B"), (9, "new")], "k long, v string"
    )
    feed.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("k long, v string").parquet(src)
    stream_tx_merge(stream, table, str(tmp_path / "ckpt"), keys=["k"],
                    app="ing")
    rows = {r.k: r.v for r in txlog.read_snapshot(spark, table).collect()}
    assert rows == {1: "a", 2: "B", 3: "c", 9: "new"}
    n_commits = len(txlog.log_versions(table))

    # replay with a FRESH checkpoint: ledger skip, no new commits
    stream2 = spark.readStream.schema("k long, v string").parquet(src)
    stream_tx_merge(stream2, table, str(tmp_path / "ckpt2"), keys=["k"],
                    app="ing")
    assert len(txlog.log_versions(table)) == n_commits
    rows2 = {r.k: r.v for r in txlog.read_snapshot(spark, table).collect()}
    assert rows2 == rows


def test_mor_delete_is_visible_without_rewriting_files(spark, table):
    """Deletion vectors: the delete is served at read time from the
    commit log; no data file changes."""
    txlog.tx_append(_df(spark, [(i, "x") for i in range(10)]).coalesce(1),
                    table)
    _, before = txlog.snapshot_files(table)
    v, n = txlog.tx_delete_where_mor(spark, table, "k in (2, 5)")
    assert n == 2
    _, after = txlog.snapshot_files(table)
    assert before == after, "MOR delete must not rewrite any file"
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == set(range(10)) - {2, 5}
    # idempotent: already-vectored rows don't match again
    v2, n2 = txlog.tx_delete_where_mor(spark, table, "k in (2, 5)")
    assert n2 == 0
    # time travel BEFORE the vector still serves the full data
    assert len(txlog.read_snapshot(spark, table, version=1).collect()) == 10
    # NULL-predicate rows survive (3VL)
    txlog.tx_append(
        spark.createDataFrame([(90, None)], "k long, v string"), table
    )
    txlog.tx_delete_where_mor(spark, table, "v = 'nope'")
    assert 90 in {r.k for r in txlog.read_snapshot(spark, table).collect()}


def test_mor_deletes_compose_with_rewrites_and_skipping(spark, table):
    txlog.tx_append(
        spark.createDataFrame([(i, float(i)) for i in range(10)],
                              "k long, x double").coalesce(1),
        table, stats_cols=["k"],
    )
    txlog.tx_append(
        spark.createDataFrame([(i, float(i)) for i in range(100, 110)],
                              "k long, x double").coalesce(1),
        table, stats_cols=["k"],
    )
    txlog.tx_delete_where_mor(spark, table, "k = 103")
    # skipping read applies the vector
    df, nread, ntotal = txlog.tx_read_skipping(spark, table, "k",
                                               lo=100, hi=105)
    assert nread < ntotal
    assert {r.k for r in df.collect()} == {100, 101, 102, 104, 105}
    # compaction materializes the delete and drops the vector
    txlog.tx_compact(spark, table, num_files=1, stats_cols=["k"])
    assert txlog.snapshot_dvs(table) == {}
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert 103 not in got and len(got) == 19
    # rewrite delete does not resurrect MOR-deleted rows either
    txlog.tx_append(
        spark.createDataFrame([(200, 0.0), (201, 0.0)],
                              "k long, x double").coalesce(1), table,
    )
    txlog.tx_delete_where_mor(spark, table, "k = 200")
    txlog.tx_delete_where(spark, table, "k = 201")
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert 200 not in got and 201 not in got


def test_mor_delete_conflicts_with_interleaved_rewrite(spark, table):
    """The DV commit depends on the files it vectors: a rewrite landing
    in between must force a retry (positions went stale), and the
    retried delete still lands correctly."""
    txlog.tx_append(_df(spark, [(i, "x") for i in range(3)]).coalesce(1),
                    table)
    txlog.tx_append(_df(spark, [(i, "x") for i in range(3, 6)]).coalesce(1),
                    table)
    # stale-commit simulation: vector computed against v2, but a
    # compact lands first — committing the stale vector must raise
    parent, files = txlog.snapshot_files(table)
    txlog.tx_compact(spark, table, num_files=1)
    with pytest.raises(txlog.TxConflict, match="depends on"):
        txlog.commit(table, "delete_mor", [], [], parent,
                     dv={files[0]: [0]}, depends_on=[files[0]])
    # and the reverse: a rewrite racing a DV commit conflicts via the
    # dv-overlap rule
    parent2, files2 = txlog.snapshot_files(table)
    txlog.commit(table, "delete_mor", [], [], parent2,
                 dv={files2[0]: [0]}, depends_on=[files2[0]])
    with pytest.raises(txlog.TxConflict, match="deletion vectors"):
        txlog.commit(table, "compact", [], files2, parent2)
    # the public API retries through the race and serves correctly
    v, n = txlog.tx_delete_where_mor(spark, table, "k = 4")
    assert n == 1
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert 4 not in got


def test_change_feed_emits_mor_deletes_once(spark, table):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1),
                    table)
    txlog.tx_delete_where_mor(spark, table, "k = 2")
    # a later rewrite of the same file must NOT re-emit k=2 as deleted
    txlog.tx_delete_where(spark, table, "k = 3")
    ch = txlog.tx_changes(spark, table, from_version=1)
    got = sorted((r.k, r._change_type, r._commit_version)
                 for r in ch.collect())
    assert got == [(2, "delete", 2), (3, "delete", 3)]


def test_reorg_purge_rewrites_only_vectored_files(spark, table):
    """REORG APPLY (PURGE): the DV-carrying file is rewritten without
    its vectored rows; the unvectored file stays live byte-for-byte —
    cost is O(DV debt), not O(table)."""
    txlog.tx_append(_df(spark, [(i, "a") for i in range(5)]).coalesce(1),
                    table, stats_cols=["k"])
    txlog.tx_append(_df(spark, [(i, "b") for i in range(10, 15)]).coalesce(1),
                    table, stats_cols=["k"])
    # no vectors -> no-op, version unchanged
    parent, _ = txlog.snapshot_files(table)
    assert txlog.tx_reorg_purge(spark, table) == (parent, 0)
    txlog.tx_delete_where_mor(spark, table, "k in (1, 3)")
    _, before = txlog.snapshot_files(table)
    untouched = [f for f in before if f not in txlog.snapshot_dvs(table)]
    assert len(untouched) == 1, "fixture: exactly one unvectored file"
    v, n = txlog.tx_reorg_purge(spark, table)
    assert n == 1  # only the vectored file
    assert txlog.snapshot_dvs(table) == {}
    _, after = txlog.snapshot_files(table)
    assert untouched[0] in after, "unvectored file must survive in place"
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {0, 2, 4, 10, 11, 12, 13, 14}
    # skipping parity: the replacement files carry the k-stats the
    # originals had, so the purged table is exactly as skippable
    stats = txlog.snapshot_stats(table)
    new_files = [f for f in after if f not in before]
    assert new_files and all(
        "k" in stats.get(f, {}).get("c", {}) for f in new_files
    )
    # time travel before the purge still serves the vectored view
    old = {r.k for r in txlog.read_snapshot(spark, table, version=v - 1)
           .collect()}
    assert old == got


def test_reorg_purge_preserves_row_ids(spark, table):
    """Purge is pure layout: a surviving row keeps its _row_id and its
    _row_commit_version (identity and provenance don't churn)."""
    txlog.tx_enable_row_tracking(table)
    txlog.tx_append(_df(spark, [(i, "x") for i in range(6)]).coalesce(1),
                    table)
    base = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in txlog.read_snapshot(spark, table, with_row_ids=True)
        .collect()
    }
    txlog.tx_delete_where_mor(spark, table, "k = 2")
    txlog.tx_reorg_purge(spark, table)
    now = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in txlog.read_snapshot(spark, table, with_row_ids=True)
        .collect()
    }
    assert 2 not in now
    assert now == {k: t for k, t in base.items() if k != 2}


def test_reorg_purge_then_vacuum_sheds_vectored_bytes(spark, table):
    """The GDPR path: DV hides the row, PURGE rewrites it out, history
    expiry drops the versions that referenced the old file, VACUUM
    physically removes the bytes (vacuum alone keeps them — files
    referenced by retained history stay time-travelable)."""
    import os as _os

    txlog.tx_append(_df(spark, [(i, "s") for i in range(8)]).coalesce(1),
                    table)
    _, files = txlog.snapshot_files(table)
    txlog.tx_delete_where_mor(spark, table, "k = 7")
    v, _ = txlog.tx_reorg_purge(spark, table)
    # retained history still references the pre-purge file: protected
    assert files[0] not in txlog.tx_vacuum(table, retention_seconds=0.0)
    txlog.tx_expire_versions(table, keep_from=v)
    removed = txlog.tx_vacuum(table, retention_seconds=0.0)
    assert files[0] in removed
    assert not _os.path.exists(_os.path.join(table, files[0]))
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == set(range(7))


def test_reorg_purge_conflicts_with_racing_vector(spark, table):
    """A MOR delete landing after the purge's snapshot vectors a file
    the purge removes: committing the stale purge must conflict (its
    survivor set would resurrect the racer's deletes)."""
    txlog.tx_append(_df(spark, [(i, "x") for i in range(4)]).coalesce(1),
                    table)
    parent, files = txlog.snapshot_files(table)
    txlog.tx_delete_where_mor(spark, table, "k = 1")
    with pytest.raises(txlog.TxConflict, match="deletion vectors"):
        txlog.commit(table, "reorg_purge", [], files, parent)
    # the public API retries through it: vector then purge serves right
    v, n = txlog.tx_reorg_purge(spark, table)
    assert n == 1
    assert {r.k for r in txlog.read_snapshot(spark, table).collect()} == \
        {0, 2, 3}


def test_clustered_append_arrives_pre_skippable(spark, table):
    import random

    rnd = random.Random(3)
    rows = [(rnd.randrange(10000), "x") for _ in range(4000)]
    txlog.tx_append(
        spark.createDataFrame(rows, "k long, v string"),
        table, stats_cols=["k"], cluster_by=["k"], cluster_files=8,
    )
    df, nread, ntotal = txlog.tx_read_skipping(spark, table, "k",
                                               lo=0, hi=500)
    assert ntotal > 1 and nread < ntotal
    want = {k for k, _ in rows if k <= 500}
    assert {r.k for r in df.collect()} == want


# ----------------------------------------------------------------- bloom


def _ranged(spark, lo, hi, parts=3):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(parts)
    )


def test_bloom_rides_append_and_prunes_point_lookup(spark, table):
    for lo in (0, 5000, 10000):
        txlog.tx_append(_ranged(spark, lo, lo + 5000), table,
                        bloom_cols=["k"])
    df, nread, ntotal = txlog.tx_point_lookup(spark, table, "k", 7501)
    rows = df.collect()
    assert [(r.k, r.v) for r in rows] == [(7501, 15002)]
    assert ntotal == 9 and nread < ntotal
    # absent key: every filter proves non-membership (w.h.p.)
    miss, nread_m, _ = txlog.tx_point_lookup(spark, table, "k", 10**9)
    assert miss.count() == 0 and nread_m <= 1


def test_bloom_backfill_covers_existing_files(spark, table):
    txlog.tx_append(_ranged(spark, 0, 4000), table)  # no bloom
    txlog.tx_append(_ranged(spark, 4000, 8000), table)
    txlog.tx_bloom(spark, table, ["k"])
    df, nread, ntotal = txlog.tx_point_lookup(spark, table, "k", 123)
    assert df.count() == 1 and nread < ntotal


def test_bloom_unfiltered_files_are_must_read(spark, table):
    txlog.tx_append(_ranged(spark, 0, 3000, parts=2), table,
                    bloom_cols=["k"])
    txlog.tx_append(_ranged(spark, 3000, 6000, parts=2), table)  # none
    # key lives in the un-bloomed append: both its files must be read,
    # the bloomed append's files pruned
    df, nread, ntotal = txlog.tx_point_lookup(spark, table, "k", 4500)
    assert df.count() == 1
    assert ntotal == 4 and 2 <= nread < ntotal


def test_bloom_respects_deletion_vectors(spark, table):
    txlog.tx_append(_ranged(spark, 0, 3000, parts=2), table,
                    bloom_cols=["k"])
    txlog.tx_delete_where_mor(spark, table, "k = 100")
    df, _, _ = txlog.tx_point_lookup(spark, table, "k", 100)
    assert df.count() == 0  # bloom admits the file; the DV hides the row


def test_bloom_map_folds_through_checkpoints(spark, table):
    # push past a checkpoint boundary so replay starts from it
    for i in range(txlog.CHECKPOINT_EVERY + 2):
        txlog.tx_append(_ranged(spark, i * 100, (i + 1) * 100, parts=1),
                        table, bloom_cols=["k"])
    v = txlog.log_versions(table)[-1]
    assert os.path.exists(
        txlog._ckpt_path(table, txlog.CHECKPOINT_EVERY)
    )
    bmap = txlog.snapshot_bloom_map(table, v)["k"]
    _, files = txlog.snapshot_files(table, v)
    assert set(bmap) == set(files)
    df, nread, ntotal = txlog.tx_point_lookup(spark, table, "k", 1150)
    assert df.count() == 1 and nread == 1 and ntotal == len(files)


def test_compact_drops_stale_bloom_pointers(spark, table):
    txlog.tx_append(_ranged(spark, 0, 2000), table, bloom_cols=["k"])
    txlog.tx_compact(spark, table, num_files=1)
    v = txlog.log_versions(table)[-1]
    assert txlog.snapshot_bloom_map(table, v) == {}
    # conservative: no filter -> must read, still correct
    df, nread, ntotal = txlog.tx_point_lookup(spark, table, "k", 7)
    assert df.count() == 1 and nread == ntotal == 1


# --------------------------------------------------------------- restore


def test_restore_is_a_new_commit_preserving_history(spark, table):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]), table)
    txlog.tx_append(_df(spark, [(3, "c")]), table)
    txlog.tx_delete_where(spark, table, "k = 1")
    v = txlog.tx_restore(table, 2)
    assert v == 4 and txlog.log_versions(table) == [1, 2, 3, 4]
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # history intact: v3 still shows the delete
    assert {r.k for r in
            txlog.read_snapshot(spark, table, version=3).collect()} == {2, 3}
    rec = txlog.read_commit(table, 4)
    assert rec["action"] == "restore" and rec["restore_of"] == 2


def test_restore_resets_deletion_vectors_exactly(spark, table):
    txlog.tx_append(_df(spark, [(i, "x") for i in range(10)]).coalesce(1),
                    table)
    txlog.tx_delete_where_mor(spark, table, "k < 3")
    v2 = txlog.log_versions(table)[-1]
    txlog.tx_delete_where_mor(spark, table, "k < 6")
    txlog.tx_restore(table, v2)  # back to only k<3 deleted
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {3, 4, 5, 6, 7, 8, 9}


def test_restore_to_current_is_a_noop(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    assert txlog.tx_restore(table, 1) == 1
    assert txlog.log_versions(table) == [1]


def test_restore_undoes_schema_evolution(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    txlog.tx_append(
        _df(spark, [(2, "b", 9.5)], "k long, v string, x double"),
        table, merge_schema=True,
    )
    txlog.tx_restore(table, 1)
    snap = txlog.read_snapshot(spark, table)
    assert snap.columns == ["k", "v"]
    assert {r.k for r in snap.collect()} == {1}


def test_restore_keeps_skipping_stats(spark, table):
    for lo in (0, 5000):
        txlog.tx_append(_ranged(spark, lo, lo + 5000, parts=2), table,
                        stats_cols=["k"])
    v2 = txlog.log_versions(table)[-1]
    txlog.tx_delete_where(spark, table, "k >= 9000")
    txlog.tx_restore(table, v2)
    v = txlog.log_versions(table)[-1]
    stats = txlog.snapshot_stats(table, v)
    _, files = txlog.snapshot_files(table, v)
    assert set(stats) == set(files)
    _, nread, ntotal = txlog.tx_read_skipping(spark, table, "k",
                                              lo=0, hi=100)
    assert nread < ntotal


def test_restore_keeps_bloom_pointers(spark, table):
    txlog.tx_append(_ranged(spark, 0, 4000), table, bloom_cols=["k"])
    v1 = txlog.log_versions(table)[-1]
    txlog.tx_append(_ranged(spark, 4000, 8000), table, bloom_cols=["k"])
    txlog.tx_restore(table, v1)
    df, nread, ntotal = txlog.tx_point_lookup(spark, table, "k", 77)
    assert df.count() == 1 and nread < ntotal == 3


def test_restore_conflicts_with_interleaved_delete(spark, table):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), table)
    txlog.tx_append(_df(spark, [(3, "c")]), table)
    cur = txlog.log_versions(table)[-1]
    _, cur_files = txlog.snapshot_files(table, cur)
    # simulate a racing delete landing between restore's snapshot read
    # and its commit: both remove v2's file
    txlog.tx_delete_where(spark, table, "k = 3")
    with pytest.raises(txlog.TxConflict):
        txlog.commit(table, "restore", [], sorted(cur_files), cur)


def test_restore_commutes_with_interleaved_append(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    txlog.tx_append(_df(spark, [(2, "b")]), table)
    cur = txlog.log_versions(table)[-1]
    _, cur_files = txlog.snapshot_files(table, cur)
    _, tgt_files = txlog.snapshot_files(table, 1)
    # an append races in; restore's commit loses v3, revalidates, lands v4
    txlog.tx_append(_df(spark, [(9, "z")]), table)
    v = txlog.commit(table, "restore",
                     sorted(set(tgt_files) - set(cur_files)),
                     sorted(set(cur_files) - set(tgt_files)), cur,
                     meta={"restore_of": 1})
    assert v == 4
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {1, 9}  # restored set plus the racing append's rows


def test_change_feed_emits_restore_as_snapshot_diff(spark, table):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1),
                    table)
    txlog.tx_delete_where_mor(spark, table, "k = 2")
    txlog.tx_restore(table, 1)  # un-deletes k=2
    ch = txlog.tx_changes(spark, table, from_version=2)
    got = sorted((r.k, r._change_type, r._commit_version)
                 for r in ch.collect())
    assert got == [(2, "insert", 3)]


def test_restore_unknown_version_raises(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    with pytest.raises(ValueError):
        txlog.tx_restore(table, 7)


# ---------------------------------------------------------------- update


def test_update_where_rewrites_only_hit_files(spark, table):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), table)
    txlog.tx_append(_df(spark, [(3, "c"), (4, "d")]).coalesce(1), table)
    v, n = txlog.tx_update_where(spark, table, "k = 4",
                                 {"v": "upper(v)"})
    assert n == 1  # only the second file contains k=4
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "D")}


def test_update_simultaneous_assignment_swaps(spark, table):
    txlog.tx_append(
        spark.createDataFrame([(1, 10, 20), (2, 30, 40)],
                              "k long, a long, b long"),
        table,
    )
    txlog.tx_update_where(spark, table, "k = 1", {"a": "b", "b": "a"})
    got = {(r.k, r.a, r.b) for r in
           txlog.read_snapshot(spark, table).collect()}
    assert got == {(1, 20, 10), (2, 30, 40)}


def test_update_null_predicate_rows_untouched(spark, table):
    txlog.tx_append(
        spark.createDataFrame([(1, None), (2, 5)], "k long, x long"),
        table,
    )
    txlog.tx_update_where(spark, table, "x < 10", {"x": "x + 1"})
    got = {(r.k, r.x) for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {(1, None), (2, 6)}  # NULL comparison is not true


def test_update_preserves_column_type_and_unknown_col_raises(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    txlog.tx_update_where(spark, table, "k = 1", {"k": "k + 1.0"})
    [r] = txlog.read_snapshot(spark, table).collect()
    assert r.k == 2 and isinstance(r.k, int)  # cast back to long
    with pytest.raises(ValueError, match="unknown columns"):
        txlog.tx_update_where(spark, table, "k = 2", {"nope": "1"})


def test_update_respects_deletion_vectors(spark, table):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1),
                    table)
    txlog.tx_delete_where_mor(spark, table, "k = 2")
    txlog.tx_update_where(spark, table, "k >= 1", {"v": "upper(v)"})
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {(1, "A"), (3, "C")}  # vectored row not resurrected


def test_update_retries_through_interleaved_append(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]).coalesce(1), table)
    orig_commit = txlog.commit
    raced = {"done": False}

    def racing_commit(t, action, added, removed, parent, **kw):
        if action == "update" and not raced["done"]:
            raced["done"] = True
            txlog.tx_append(_df(spark, [(9, "z")]), t)
        return orig_commit(t, action, added, removed, parent, **kw)

    txlog.commit = racing_commit
    try:
        v, n = txlog.tx_update_where(spark, table, "k = 1",
                                     {"v": "'A'"})
    finally:
        txlog.commit = orig_commit
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {(1, "A"), (9, "z")}


def test_change_feed_emits_update_as_delete_insert_pair(spark, table):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), table)
    txlog.tx_update_where(spark, table, "k = 1", {"v": "'A'"})
    ch = txlog.tx_changes(spark, table, from_version=1)
    got = sorted((r.k, r.v, r._change_type) for r in ch.collect())
    assert got == [(1, "A", "insert"), (1, "a", "delete")]


def test_schema_resolution_folds_through_checkpoints(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    # a long run of schema-less commits (bloom backfills) crossing a
    # checkpoint boundary: schema resolution must come from the
    # checkpoint, not an O(table-age) backward scan of commits
    for _ in range(txlog.CHECKPOINT_EVERY + 1):
        txlog.tx_bloom(spark, table, ["k"])
    v = txlog.log_versions(table)[-1]
    ck = txlog._ckpt_path(table, txlog.CHECKPOINT_EVERY)
    assert os.path.exists(ck)
    assert json.load(open(ck))["schema"] is not None
    assert [f.name for f in txlog.table_schema(table).fields] == ["k", "v"]
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, table, version=v).collect()}
    assert got == {(1, "a")}


def test_dv_vs_dv_overlap_conflicts(spark, table):
    """Two racing merge-on-read deletes vectoring the SAME (file, row)
    must conflict — otherwise the change feed emits that row's delete
    twice and corrupts downstream signed folds. Disjoint positions on
    the same file commit cleanly (snapshot_dvs unions them)."""
    txlog.tx_append(_df(spark, [(i, "x") for i in range(6)]).coalesce(1),
                    table)
    parent, files = txlog.snapshot_files(table)
    # writer A lands a vector for row 0
    txlog.commit(table, "delete_mor", [], [], parent,
                 dv={files[0]: [0, 1]}, depends_on=[files[0]])
    # writer B raced A with an overlapping vector (computed against the
    # same parent): position overlap -> conflict
    with pytest.raises(txlog.TxConflict, match="also vectors"):
        txlog.commit(table, "delete_mor", [], [], parent,
                     dv={files[0]: [1, 2]}, depends_on=[files[0]])
    # writer C raced A with a DISJOINT vector on the same file: fine
    v = txlog.commit(table, "delete_mor", [], [], parent,
                     dv={files[0]: [3]}, depends_on=[files[0]])
    assert v == parent + 2
    assert txlog.snapshot_dvs(table) == {files[0]: [0, 1, 3]}
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {2, 4, 5}
    # the public API retries through an overlap race: re-finding from
    # the fresh snapshot excludes already-vectored rows
    v2, n = txlog.tx_delete_where_mor(spark, table, "k >= 1 and k <= 4")
    assert n == 2  # only 2 and 4 still live
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {5}


def test_change_feed_no_duplicate_deletes_under_dv_race(spark, table):
    """End-to-end: after a resolved DV race, tx_changes emits each
    deleted row exactly once (the IVM-correctness property the
    conflict rule protects)."""
    txlog.tx_append(_df(spark, [(i, "g") for i in range(5)]).coalesce(1),
                    table)
    txlog.tx_delete_where_mor(spark, table, "k <= 1")
    txlog.tx_delete_where_mor(spark, table, "k <= 3")  # overlaps semantically
    ch = txlog.tx_changes(spark, table, from_version=1)
    dels = [r.k for r in ch.filter("_change_type = 'delete'").collect()]
    assert sorted(dels) == [0, 1, 2, 3]  # each once, no duplicates


# ------------------------------------------- retention: expire + vacuum


def test_expire_versions_truncates_prefix_and_preserves_state(spark, table):
    for i in range(3):
        txlog.tx_append(
            _df(spark, [(i * 10 + j, "a") for j in range(3)]).coalesce(1),
            table, meta={"txn_app": "ing", "txn_batch": i},
        )
    txlog.tx_delete_where_mor(spark, table, "k = 11")
    before = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    expired = txlog.tx_expire_versions(table, keep_from=3)
    assert expired == [1, 2]
    assert txlog.log_versions(table) == [3, 4]
    # snapshot, DVs, and idempotence marks all survive the truncation
    assert {r.k for r in txlog.read_snapshot(spark, table).collect()} == before
    assert txlog.txn_seen(table, "ing", 2)
    assert not txlog.txn_seen(table, "ing", 3)
    # time travel below the horizon is gone
    with pytest.raises(ValueError, match="not in log"):
        txlog.read_snapshot(spark, table, version=1)
    # appends keep working on the truncated log
    txlog.tx_append(_df(spark, [(99, "z")]).coalesce(1), table)
    assert 99 in {r.k for r in txlog.read_snapshot(spark, table).collect()}
    # idempotent / validating
    assert txlog.tx_expire_versions(table, keep_from=3) == []
    with pytest.raises(ValueError, match="not a committed version"):
        txlog.tx_expire_versions(table, keep_from=2)


def test_vacuum_after_expire_keeps_horizon_live_files(spark, table):
    import os as _os

    txlog.tx_append(_df(spark, [(1, "a")]).coalesce(1), table)
    txlog.tx_append(_df(spark, [(2, "b")]).coalesce(1), table)
    # rewrite v1's file so it is dead at the horizon
    txlog.tx_compact(spark, table, num_files=1)
    _, live = txlog.snapshot_files(table)
    txlog.tx_expire_versions(table, keep_from=3)
    removed = txlog.tx_vacuum(table, retention_seconds=0.0)
    # live-at-horizon files survive vacuum even though their adding
    # commits were expired; the pre-compaction files are reclaimed
    for rel in live:
        assert _os.path.exists(_os.path.join(table, rel))
    assert removed, "expired versions' dead files should be reclaimed"
    assert {r.k for r in txlog.read_snapshot(spark, table).collect()} == {1, 2}


def test_vacuum_reclaims_orphaned_bloom_sidecars(spark, table):
    import os as _os

    txlog.tx_append(
        _df(spark, [(i, "a") for i in range(4)]).coalesce(1),
        table, bloom_cols=["k"],
    )
    side_dir = _os.path.join(table, "_sidecars")
    kept = set(_os.listdir(side_dir))
    # orphans: a crashed builder's tmp dir and a conflicted commit's
    # unreferenced sidecar file
    _os.makedirs(_os.path.join(side_dir, "tmp-deadbeef"))
    with open(_os.path.join(side_dir, "bloom-orphan.parquet"), "wb") as fh:
        fh.write(b"x")
    removed = txlog.tx_vacuum(table, retention_seconds=0.0)
    assert "_sidecars/tmp-deadbeef" in removed
    assert "_sidecars/bloom-orphan.parquet" in removed
    assert set(_os.listdir(side_dir)) == kept  # referenced sidecar survives
    # and the filter still serves point lookups
    assert txlog.snapshot_bloom_map(table)


# ------------------------------------------- distinct bitmap sidecars


def test_instant_distinct_metadata_only_when_covered(spark, table):
    import os as _os

    txlog.tx_append(
        _df(spark, [(i % 7, "a") for i in range(20)]).coalesce(2), table,
        distinct_cols=["k"],
    )
    txlog.tx_append(
        _df(spark, [(i % 11, "b") for i in range(30)]).coalesce(2), table,
        distinct_cols=["k"],
    )
    df, n_scanned, n_total = txlog.tx_instant_distinct(spark, table, "k")
    assert n_scanned == 0 and n_total >= 2  # zero data files opened
    assert df.collect()[0].n_distinct == 11  # 0..10 (7 ⊂ 11)
    # sidecar pointers replay through checkpoints like stats/blooms
    txlog._write_checkpoint(table, txlog.log_versions(table)[-1])
    assert txlog.snapshot_distinct_map(table)["k"]


def test_instant_distinct_backfill_and_uncovered_scan(spark, table):
    txlog.tx_append(_df(spark, [(i, "a") for i in range(10)]).coalesce(1),
                    table)
    txlog.tx_distinct(spark, table, ["k"])
    # an uncovered append: instant path scans ONLY the new file
    txlog.tx_append(_df(spark, [(i, "b") for i in range(5, 20)]).coalesce(1),
                    table)
    df, n_scanned, n_total = txlog.tx_instant_distinct(spark, table, "k")
    assert (n_scanned, n_total) == (1, 2)
    assert df.collect()[0].n_distinct == 20  # 0..19, overlap not doubled


def test_instant_distinct_recomputes_vectored_files(spark, table):
    txlog.tx_append(
        _df(spark, [(i, "a") for i in range(8)]).coalesce(1), table,
        distinct_cols=["k"],
    )
    txlog.tx_delete_where_mor(spark, table, "k >= 6")
    # the only file is vectored -> its stale bitmap must NOT be used
    df, n_scanned, n_total = txlog.tx_instant_distinct(spark, table, "k")
    assert (n_scanned, n_total) == (1, 1)
    assert df.collect()[0].n_distinct == 6
    # a rewrite delete retires the file and its pointer entirely
    txlog.tx_delete_where(spark, table, "k = 0")
    assert txlog.snapshot_distinct_map(table).get("k", {}) == {}
    df2, _, _ = txlog.tx_instant_distinct(spark, table, "k")
    assert df2.collect()[0].n_distinct == 5


def test_vacuum_protects_distinct_sidecars(spark, table):
    import os as _os

    txlog.tx_append(
        _df(spark, [(i, "a") for i in range(4)]).coalesce(1), table,
        distinct_cols=["k"],
    )
    side_dir = _os.path.join(table, "_sidecars")
    kept = set(_os.listdir(side_dir))
    removed = txlog.tx_vacuum(table, retention_seconds=0.0)
    assert not [r for r in removed if r.startswith("_sidecars/")]
    assert set(_os.listdir(side_dir)) == kept
    # and survive expiration (pointer folds through the checkpoint)
    txlog.tx_append(_df(spark, [(9, "z")]).coalesce(1), table)
    txlog.tx_expire_versions(table, keep_from=2)
    txlog.tx_vacuum(table, retention_seconds=0.0)
    assert txlog.snapshot_distinct_map(table)["k"]
    df, n_scanned, n_total = txlog.tx_instant_distinct(spark, table, "k")
    assert n_scanned == 1 and df.collect()[0].n_distinct == 5


def test_instant_agg_metadata_only_and_dv_demotion(spark, table):
    txlog.tx_append(
        _df(spark, [(i, "a") for i in range(10)]).coalesce(1), table,
        stats_cols=["k"],
    )
    txlog.tx_append(
        _df(spark, [(i, "b") for i in range(10, 15)]).coalesce(1), table,
        stats_cols=["k"],
    )
    df, n_scanned, n_total = txlog.tx_instant_agg(spark, table, "k")
    assert (n_scanned, n_total) == (0, 2)
    r = df.collect()[0]
    assert (r.n_rows, r.col_min, r.col_max) == (15, 0, 14)
    # a MOR delete makes the vectored file's stats stale: that file
    # (and only it) is demoted to a scan, and the answer reflects the
    # deleted extremum
    txlog.tx_delete_where_mor(spark, table, "k = 14")
    df, n_scanned, n_total = txlog.tx_instant_agg(spark, table, "k")
    assert (n_scanned, n_total) == (1, 2)
    r = df.collect()[0]
    assert (r.n_rows, r.col_min, r.col_max) == (14, 0, 13)
    # stat-less files (appended without stats_cols) also scan
    txlog.tx_append(_df(spark, [(99, "c")]).coalesce(1), table)
    df, n_scanned, n_total = txlog.tx_instant_agg(spark, table, "k")
    assert (n_scanned, n_total) == (2, 3)
    assert df.collect()[0].col_max == 99


def test_instant_agg_string_columns_always_scan(spark, table):
    """Parquet writers may truncate binary (string) footer statistics —
    valid skipping bounds, but not values present in the data. A string
    column must answer from the scan path even when every file carries
    stats for it."""
    txlog.tx_append(
        _df(spark, [(1, "apple"), (2, "zebra")]).coalesce(1), table,
        stats_cols=["k", "v"],
    )
    # the numeric column stays metadata-covered on the same commit
    df, n_scanned, n_total = txlog.tx_instant_agg(spark, table, "k")
    assert (n_scanned, n_total) == (0, 1)
    df, n_scanned, n_total = txlog.tx_instant_agg(spark, table, "v")
    assert (n_scanned, n_total) == (1, 1)
    r = df.collect()[0]
    assert (r.n_rows, r.col_min, r.col_max) == (2, "apple", "zebra")


# ------------------------------------------- ACID sorted export


def test_compact_sort_by_totally_orders_files(spark, table):
    import random

    rows = [(i, f"v{i}") for i in random.Random(7).sample(range(1000), 200)]
    txlog.tx_append(_df(spark, rows[:100]).coalesce(2), table)
    txlog.tx_append(_df(spark, rows[100:]).coalesce(2), table)
    v, replaced = txlog.tx_compact(spark, table, num_files=4, sort_by=["k"])
    assert replaced == 4
    order = txlog.tx_sorted_file_order(table, "k")
    assert len(order) == 4
    # reading files in log-recovered order IS the sorted stream
    seen = []
    for rel in order:
        ks = [r.k for r in spark.read.parquet(
            os.path.join(table, rel)).collect()]
        assert ks == sorted(ks)  # sorted within the file
        seen.extend(ks)
    assert seen == sorted(r[0] for r in rows)
    # non-interleaved ranges consume in either direction: descending
    # is the reverse file order (rows within files stay ascending —
    # callers wanting a descending STREAM sort within files themselves)
    assert txlog.tx_sorted_file_order(table, "k", ascending=False) == list(
        reversed(order)
    )


def test_sorted_file_order_guards(spark, table):
    txlog.tx_append(_df(spark, [(i, "a") for i in range(10)]).coalesce(2),
                    table)
    with pytest.raises(ValueError, match="no k stats"):
        txlog.tx_sorted_file_order(table, "k")
    txlog.tx_compact(spark, table, num_files=2, sort_by=["k"])
    assert len(txlog.tx_sorted_file_order(table, "k")) == 2
    # a MOR delete makes recorded extrema unreliable -> consume raises
    txlog.tx_delete_where_mor(spark, table, "k = 9")
    with pytest.raises(ValueError, match="deletion vectors"):
        txlog.tx_sorted_file_order(table, "k")
    # zorder+sort are mutually exclusive
    with pytest.raises(ValueError, match="mutually exclusive"):
        txlog.tx_compact(spark, table, sort_by=["k"], zorder_by=["k"])


def test_change_feed_and_stream_refuse_expired_ranges(spark, table):
    """After tx_expire_versions, a consumer whose cursor predates the
    horizon must get a clear error — silently skipping expired commits
    would drop their changes (Delta CDF's guard)."""
    from parallel_dbms_spark.sources.txlog_ds import _plan_rels

    for i in range(4):
        txlog.tx_append(_df(spark, [(i, "a")]).coalesce(1), table)
    txlog.tx_expire_versions(table, keep_from=3)
    with pytest.raises(ValueError, match="retention horizon"):
        txlog.tx_changes(spark, table, from_version=1)
    with pytest.raises(ValueError, match="retention horizon"):
        _plan_rels(table, 0, 4, ignore_changes=False)
    # the horizon commit itself is not diff-able either (its diff
    # needs the expired prior version's state)
    with pytest.raises(ValueError, match="retention horizon"):
        txlog.tx_changes(spark, table, from_version=2)
    # at the horizon both faces serve normally (the stream only needs
    # added-file lists, so it tails from horizon-1)
    ch = txlog.tx_changes(spark, table, from_version=3)
    assert sorted(r.k for r in ch.collect()) == [3]
    assert len(_plan_rels(table, 2, 4, ignore_changes=False)) == 2


def test_stream_replay_range_fully_below_horizon_raises(spark, table):
    """A restart replays the last PLANNED batch verbatim. If the
    horizon advanced past the WHOLE (lo, hi] range while the stream was
    down, the planner must raise — matching nothing and emitting an
    empty batch would silently drop those commits' rows."""
    from parallel_dbms_spark.sources.txlog_ds import (
        _plan_change_partitions,
        _plan_rels,
    )

    for i in range(5):
        txlog.tx_append(_df(spark, [(i, "a")]).coalesce(1), table)
    txlog.tx_expire_versions(table, keep_from=4)
    # hi (=2) is itself below the horizon (=4): the old hi-based check
    # would have matched nothing and emitted zero rows
    with pytest.raises(ValueError, match="retention horizon"):
        _plan_rels(table, 0, 2, ignore_changes=False)
    with pytest.raises(ValueError, match="retention horizon"):
        _plan_change_partitions(table, 0, 2, ("k", "v"))
    # an EMPTY replay range below the horizon is legitimate idleness,
    # not data loss — nothing was ever in (2, 2]
    assert _plan_rels(table, 2, 2, ignore_changes=False) == []


def test_optimize_binpacks_only_small_files(spark, table):
    # two tiny files + one "big" file (big relative to the tiny target)
    txlog.tx_append(_df(spark, [(1, "a")]).coalesce(1), table)
    txlog.tx_append(_df(spark, [(2, "b")]).coalesce(1), table)
    txlog.tx_append(
        _df(spark, [(i, "big" * 200) for i in range(2000)]).coalesce(1),
        table,
    )
    _, files = txlog.snapshot_files(table)
    big = max(files, key=lambda f: os.path.getsize(os.path.join(table, f)))
    target = os.path.getsize(os.path.join(table, big))  # tinies < this
    v, replaced = txlog.tx_optimize(spark, table, target_file_bytes=target)
    assert replaced == 2
    _, after = txlog.snapshot_files(table)
    assert big in after, "at-target file must never be rewritten"
    assert len(after) == 2  # big + one packed file
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {1, 2} | set(range(2000))
    # below min_files nothing qualifies -> no-op commit-free
    assert txlog.tx_optimize(spark, table, target_file_bytes=target) == (v, 0)


def test_optimize_materializes_deletion_vectors(spark, table):
    txlog.tx_append(_df(spark, [(i, "x") for i in range(10)]).coalesce(1),
                    table)
    txlog.tx_delete_where_mor(spark, table, "k >= 8")
    assert txlog.snapshot_dvs(table)
    # the vectored file qualifies regardless of size; optimize folds
    # the deletes in and drops the vector
    v, replaced = txlog.tx_optimize(spark, table, target_file_bytes=1)
    assert replaced == 1
    assert txlog.snapshot_dvs(table) == {}
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == set(range(8))
    # the optimize commit is content-preserving: the stream source
    # skips it without a byte
    from parallel_dbms_spark.sources.txlog_ds import _plan_rels

    assert _plan_rels(table, v - 1, v, ignore_changes=False) == []


def test_write_cdc_sidecar_feeds_batch_and_stream(spark, table, tmp_path):
    """write_cdc=True persists a delete/update's change set at commit
    time: tx_changes serves it from the sidecar (no except-all diff),
    the streaming CDF can stream the rewriting commit, and vacuum
    protects the sidecar while its commit lives."""
    from parallel_dbms_spark.sources.txlog_ds import (
        _plan_change_partitions,
        _read_change_partition,
    )

    txlog.tx_append(_df(spark, [(i, f"g{i % 3}") for i in range(9)])
                    .coalesce(1), table)
    v_del, _ = txlog.tx_delete_where(spark, table, "k >= 6", write_cdc=True)
    v_upd, _ = txlog.tx_update_where(
        spark, table, "k = 0", {"v": "'z'"}, write_cdc=True
    )
    assert txlog.read_commit(table, v_del)["cdc"].startswith("_sidecars/")
    # batch feed: exact delete set + Delta's update pre/post-image pair
    # (write-time sidecars know the intent; computed diffs do not)
    ch = txlog.tx_changes(spark, table, from_version=1)
    got = {(r.k, r.v, r._change_type, r._commit_version)
           for r in ch.collect()}
    assert {(6, "g0", "delete", v_del), (7, "g1", "delete", v_del),
            (8, "g2", "delete", v_del),
            (0, "g0", "update_preimage", v_upd),
            (0, "z", "update_postimage", v_upd)} <= got
    # streaming CDF: the rewriting commits are now partition-plannable
    parts = _plan_change_partitions(
        table, v_del - 1, v_upd, ("k", "v")
    )
    rows = [r for p in parts for r in _read_change_partition(p)]
    assert sorted(rows) == [
        (0, "g0", "update_preimage", v_upd),
        (0, "z", "update_postimage", v_upd),
        (6, "g0", "delete", v_del), (7, "g1", "delete", v_del),
        (8, "g2", "delete", v_del),
    ]
    # vacuum keeps live commits' cdc sidecars
    removed = txlog.tx_vacuum(table, retention_seconds=0.0)
    assert not [r for r in removed if "cdc-" in r]
    # snapshot state is unaffected by the sidecar machinery
    got_now = {(r.k, r.v) for r in txlog.read_snapshot(spark, table).collect()}
    assert got_now == {(0, "z")} | {(i, f"g{i % 3}") for i in range(1, 6)}


def test_merge_write_cdc_emits_pairs_and_inserts(spark, table):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), table)
    v, _ = txlog.tx_merge_upsert(
        spark, table,
        _df(spark, [(2, "B"), (3, "c")]), ["k"], write_cdc=True,
    )
    ch = txlog.tx_changes(spark, table, from_version=v - 1)
    got = sorted((r.k, r.v, r._change_type) for r in ch.collect())
    # the matched key appears as Delta's pre/post-image pair; the
    # unmatched key as a plain insert
    assert got == [(2, "B", "update_postimage"),
                   (2, "b", "update_preimage"),
                   (3, "c", "insert")]
    # and the streaming CDF can stream the merge commit
    from parallel_dbms_spark.sources.txlog_ds import (
        _plan_change_partitions,
        _read_change_partition,
    )

    parts = _plan_change_partitions(table, v - 1, v, ("k", "v"))
    rows = sorted(
        (r[0], r[1], r[2]) for p in parts for r in _read_change_partition(p)
    )
    assert rows == got


def test_partitioned_append_prunes_from_log_metadata(spark, table):
    """partition_by stages VALUE-PURE files and records each file's
    partition values in the commit; a partition-filtered read prunes
    whole files from the log alone, and the columns stay inside the
    data files so unpruned readers are layout-oblivious."""
    import pyarrow.parquet as pq

    txlog.tx_append(
        _df(spark, [(i, f"g{i % 3}") for i in range(9)]), table,
        partition_by=["v"],
    )
    _, files = txlog.snapshot_files(table)
    pvm = txlog.snapshot_pv(table)
    assert set(pvm) == set(files) and len(files) >= 3
    # physical value purity: every file holds exactly its recorded value
    for rel, vals in pvm.items():
        col = pq.read_table(
            os.path.join(table, rel), columns=["v"]
        ).column("v").to_pylist()
        assert set(col) == {vals["v"]}
    assert txlog.table_partition_by(table) == ["v"]
    assert txlog.tx_partitions(table) == [
        {"v": "g0"}, {"v": "g1"}, {"v": "g2"},
    ]
    # a later append INHERITS the declared partitioning
    txlog.tx_append(_df(spark, [(9, "g0")]), table)
    _, files2 = txlog.snapshot_files(table)
    pruned = txlog.prune_partition_files(table, files2, {"v": "g0"})
    assert 0 < len(pruned) < len(files2)
    got = {
        (r.k, r.v)
        for r in txlog.read_snapshot(
            spark, table, partition_filter={"v": "g0"}
        ).collect()
    }
    assert got == {(0, "g0"), (3, "g0"), (6, "g0"), (9, "g0")}
    # contradicting the declared layout is rejected before staging
    with pytest.raises(ValueError, match="mix layouts"):
        txlog.tx_append(
            _df(spark, [(10, "x")]), table, partition_by=["k"]
        )
    # unfiltered reads see every column and row, unchanged
    assert txlog.read_snapshot(spark, table).count() == 10


def test_partition_pruning_survives_rewrites_dvs_and_checkpoints(
    spark, table
):
    """Rewrites on a partitioned table restage through the partitioned
    path, so their outputs stay value-pure WITH recorded values —
    pruning never degrades just because a delete ran. A sorted compact
    deliberately drops values (file order trumps purity) and pruned
    reads of its outputs stay exact, just unpruned. DVs compose; the
    value map folds through checkpoints and expiration."""
    txlog.tx_append(
        _df(spark, [(i, f"g{i % 2}") for i in range(8)]).coalesce(1),
        table,
        partition_by=["v"],
    )
    # COW delete: the survivor file is re-staged value-pure, pv intact
    txlog.tx_delete_where(spark, table, "k = 0")
    _, files = txlog.snapshot_files(table)
    assert set(txlog.snapshot_pv(table)) == set(files)
    pruned = txlog.prune_partition_files(table, files, {"v": "g0"})
    assert 0 < len(pruned) < len(files)
    got = {
        (r.k, r.v)
        for r in txlog.read_snapshot(
            spark, table, partition_filter={"v": "g0"}
        ).collect()
    }
    assert got == {(2, "g0"), (4, "g0"), (6, "g0")}
    # a SORTED compact lays files out by the sort key instead: its
    # outputs carry no values (must-read), and the read stays exact
    txlog.tx_compact(spark, table, num_files=2, sort_by=["k"])
    assert txlog.snapshot_pv(table) == {}
    got = {
        (r.k, r.v)
        for r in txlog.read_snapshot(
            spark, table, partition_filter={"v": "g0"}
        ).collect()
    }
    assert got == {(2, "g0"), (4, "g0"), (6, "g0")}
    # re-partition the layout: a plain compact restores value purity
    txlog.tx_compact(spark, table, num_files=1)
    _, files = txlog.snapshot_files(table)
    assert set(txlog.snapshot_pv(table)) == set(files)
    # MERGE and OPTIMIZE outputs stay value-pure with recorded values
    txlog.tx_merge_upsert(
        spark, table, _df(spark, [(2, "g0"), (200, "g1")]), ["k"]
    )
    txlog.tx_optimize(spark, table, target_file_bytes=64 << 20)
    _, files = txlog.snapshot_files(table)
    assert set(txlog.snapshot_pv(table)) == set(files)
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, table, partition_filter={"v": "g1"}
        ).collect()
    }
    assert got == {1, 3, 5, 7, 200}
    # MOR delete vectors a pv-covered file: pruning + DV compose
    txlog.tx_delete_where_mor(spark, table, "k = 1")
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, table, partition_filter={"v": "g1"}
        ).collect()
    }
    assert got == {3, 5, 7, 200}
    # cross a checkpoint boundary, then expire the prefix: the value
    # map must survive both folds
    for i in range(txlog.CHECKPOINT_EVERY + 1):
        txlog.tx_append(_df(spark, [(100 + i, "g1")]), table)
    txlog.tx_expire_versions(
        table, keep_from=txlog.log_versions(table)[-3]
    )
    assert txlog.table_partition_by(table) == ["v"]
    n_g1 = txlog.read_snapshot(
        spark, table, partition_filter={"v": "g1"}
    ).count()
    assert n_g1 == 4 + txlog.CHECKPOINT_EVERY + 1


def test_partition_null_values_and_streaming_face(spark, table):
    """NULL partition values round-trip (the Hive default-partition
    encoding maps back to None), and the partitioned layout streams
    through the txlog source untouched — the data files kept their
    columns."""
    from parallel_dbms_spark.sources.txlog_ds import register_txlog_source

    register_txlog_source(spark)
    txlog.tx_append(
        _df(spark, [(1, "a"), (2, None), (3, "a")]), table,
        partition_by=["v"],
    )
    assert {"v": None} in txlog.tx_partitions(table)
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, table, partition_filter={"v": None}
        ).collect()
    }
    assert got == {2}
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, table, partition_filter={"v": ["a", None]}
        ).collect()
    }
    assert got == {1, 2, 3}
    sdf = (
        spark.read.format("txlog").option("path", table).load()
    )
    assert {(r.k, r.v) for r in sdf.collect()} == {
        (1, "a"), (2, None), (3, "a")
    }


def test_clone_is_zero_copy_and_independent(spark, table, tmp_path):
    """tx_clone hard-links the snapshot's files into a new table's
    first commit (no bytes copied), carries schema/stats/DVs/
    partitioning/constraints, and the two histories diverge freely —
    vacuuming or truncating the source can never break the clone."""
    txlog.tx_append(
        _df(spark, [(i, f"g{i % 2}") for i in range(6)]).coalesce(1),
        table, stats_cols=["k"], partition_by=["v"],
    )
    txlog.tx_set_constraint(spark, table, "k_pos", "k >= 0")
    txlog.tx_delete_where_mor(spark, table, "k = 5")
    dst = str(tmp_path / "clone")
    v = txlog.tx_clone(table, dst)
    assert v == 1
    # zero-copy: every clone file shares its inode with a source file
    src_inodes = {
        os.stat(os.path.join(table, f)).st_ino
        for f in txlog.snapshot_files(table)[1]
    }
    for f in txlog.snapshot_files(dst)[1]:
        st = os.stat(os.path.join(dst, f))
        assert st.st_nlink >= 2 and st.st_ino in src_inodes
    # snapshot equality incl. the deletion vector
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, dst).collect()}
    assert got == {(i, f"g{i % 2}") for i in range(5)}
    # metadata carried: partitioning prunes, constraints enforce
    assert txlog.table_partition_by(dst) == ["v"]
    pruned = txlog.prune_partition_files(
        dst, txlog.snapshot_files(dst)[1], {"v": "g0"}
    )
    assert 0 < len(pruned) < len(txlog.snapshot_files(dst)[1])
    with pytest.raises(ValueError, match="k_pos"):
        txlog.tx_append(_df(spark, [(-1, "bad")]), dst)
    # independence: writes to one side are invisible to the other
    txlog.tx_append(_df(spark, [(100, "g0")]), dst)
    txlog.tx_delete_where(spark, table, "k = 0")
    assert txlog.read_snapshot(spark, dst).count() == 6
    assert txlog.read_snapshot(spark, table).count() == 4
    # source vacuum/expiration cannot strand the clone (inode pinned)
    txlog.tx_expire_versions(
        table, keep_from=txlog.log_versions(table)[-1]
    )
    txlog.tx_vacuum(table, retention_seconds=0.0)
    assert txlog.read_snapshot(spark, dst).count() == 6
    # a clone must start a FRESH table
    with pytest.raises(ValueError, match="already has commits"):
        txlog.tx_clone(table, dst)


def test_check_constraints_enforced_on_every_write_path(spark, table):
    """CHECK constraints (Delta's ADD CONSTRAINT): validated against
    existing data when added, then enforced on append, UPDATE
    post-images, and MERGE sources — fail fast, nothing lands. SQL
    3VL: a NULL predicate PASSES; only FALSE violates."""
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]), table)
    # adding a constraint the existing data violates is rejected
    with pytest.raises(ValueError, match="existing"):
        txlog.tx_set_constraint(spark, table, "k_big", "k > 1")
    v = txlog.tx_set_constraint(spark, table, "k_pos", "k > 0")
    assert txlog.table_constraints(table) == {"k_pos": "k > 0"}
    head = txlog.log_versions(table)[-1]
    assert head == v
    # violating append: rejected BEFORE staging, no commit lands
    with pytest.raises(ValueError, match="k_pos"):
        txlog.tx_append(_df(spark, [(0, "z"), (-1, "z")]), table)
    assert txlog.log_versions(table)[-1] == head
    # NULL predicate passes (3VL), valid rows land
    txlog.tx_append(
        spark.createDataFrame([(None, "n"), (3, "c")], "k long, v string"),
        table,
    )
    # UPDATE validates POST-images
    with pytest.raises(ValueError, match="k_pos"):
        txlog.tx_update_where(spark, table, "v = 'a'", {"k": "-5"})
    # MERGE validates the source
    with pytest.raises(ValueError, match="k_pos"):
        txlog.tx_merge_upsert(
            spark, table, _df(spark, [(-9, "bad")]), ["k"]
        )
    # dropping lifts enforcement
    txlog.tx_drop_constraint(table, "k_pos")
    txlog.tx_append(_df(spark, [(-1, "ok-now")]), table)
    got = {r.k for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {1, 2, 3, None, -1}


def test_constraint_and_data_commits_conflict_both_ways(spark, table):
    """A data commit racing a constraint commit (either order) must
    conflict and revalidate — no row ever lands checked against a
    stale constraint map."""
    txlog.tx_append(_df(spark, [(1, "a")]), table)
    orig_commit = txlog.commit
    raced = {"done": False}

    def racing_commit(t, action, added, removed, parent, **kw):
        # an interleaved constraint lands right before the append's CAS
        if action == "append" and not raced["done"]:
            raced["done"] = True
            orig_commit(
                t, "set_constraint", [], [], parent,
                constraints={"k_small": "k < 10"},
            )
        return orig_commit(t, action, added, removed, parent, **kw)

    txlog.commit = racing_commit
    try:
        # the appended rows SATISFY the interleaved constraint: the
        # conflict forces revalidation against the fresh map, then the
        # retry lands
        txlog.tx_append(_df(spark, [(5, "ok")]), table)
    finally:
        txlog.commit = orig_commit
    assert {r.k for r in txlog.read_snapshot(spark, table).collect()} == {1, 5}
    # and rows VIOLATING a raced-in constraint are rejected on retry
    raced["done"] = False

    def racing_tighter(t, action, added, removed, parent, **kw):
        if action == "append" and not raced["done"]:
            raced["done"] = True
            orig_commit(
                t, "set_constraint", [], [], parent,
                constraints={"k_tiny": "k < 7"},
            )
        return orig_commit(t, action, added, removed, parent, **kw)

    txlog.commit = racing_tighter
    try:
        with pytest.raises(ValueError, match="k_tiny"):
            txlog.tx_append(_df(spark, [(7, "bad")]), table)
    finally:
        txlog.commit = orig_commit


def test_timestamp_as_of_resolves_by_in_commit_timestamp(spark, table):
    txlog.tx_append(_df(spark, [(1, "a")]).coalesce(1), table)
    txlog.tx_append(_df(spark, [(2, "b")]).coalesce(1), table)
    txlog.tx_delete_where(spark, table, "k = 1")
    ts = [
        txlog.commit_timestamp(table, v)
        for v in txlog.log_versions(table)
    ]
    assert ts == sorted(ts) and len(set(ts)) == 3
    # the recorded clock resolves; mangled mtimes must not matter
    # (an rsync/backup-restore of the log rewrites them)
    for v in txlog.log_versions(table):
        os.utime(txlog._commit_path(table, v), (0, 0))
    assert txlog.version_at_timestamp(table, (ts[0] + ts[1]) / 2) == 1
    assert txlog.version_at_timestamp(table, ts[1]) == 2
    assert txlog.version_at_timestamp(table, ts[2] + 1e6) == 3
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, table, timestamp=(ts[1] + ts[2]) / 2
        ).collect()
    }
    assert got == {1, 2}  # pre-delete state
    with pytest.raises(ValueError, match="at-or-before"):
        txlog.version_at_timestamp(table, ts[0] - 1)
    with pytest.raises(ValueError, match="not both"):
        txlog.read_snapshot(spark, table, version=1, timestamp=ts[0])


def test_tx_history_describes_commits(spark, table):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), table,
                    meta={"txn_app": "ing", "txn_batch": 0})
    txlog.tx_delete_where_mor(spark, table, "k = 1")
    txlog.tx_delete_where(spark, table, "k = 2", write_cdc=True)
    h = {r.version: r for r in txlog.tx_history(spark, table).collect()}
    assert [h[v].action for v in sorted(h)] == [
        "append", "delete_mor", "delete",
    ]
    assert h[1].txn_app == "ing" and h[1].txn_batch == 0
    assert h[2].n_dv_rows == 1 and h[3].has_cdc
    assert h[1].commit_ts <= h[2].commit_ts <= h[3].commit_ts


def test_partition_filter_bool_values_and_unknown_columns(spark, tmp_path):
    """Filter values stringify via _pv_str, the exact format Spark's
    CAST AS STRING recorded (str(True) is 'True' but Spark writes
    'true' — the raw-str comparison silently pruned every recorded
    file); unknown filter columns raise instead of matching nothing."""
    t = str(tmp_path / "bt")
    txlog.tx_append(
        _df(spark, [(1, True), (2, False), (3, True)],
            "k long, flag boolean"),
        t,
        partition_by=["flag"],
    )
    _, files = txlog.snapshot_files(t)
    kept = txlog.prune_partition_files(t, files, {"flag": True})
    assert kept and all(
        txlog.snapshot_pv(t)[f] == {"flag": "true"} for f in kept
    )
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, t, partition_filter={"flag": True}
        ).collect()
    }
    assert got == {1, 3}
    # a non-partition column would prune EVERY value-pure file (its
    # values are never recorded) — wrong results, so it must raise
    with pytest.raises(ValueError, match="not partition column"):
        txlog.read_snapshot(spark, t, partition_filter={"k": 1})


def test_pv_str_matches_spark_cast_rendering(spark, tmp_path):
    """_pv_str must render dates/timestamps/bools byte-identically to
    the CAST(col AS STRING) values _stage_partitioned records, or
    recorded files get wrongly pruned."""
    import datetime as dt

    t = str(tmp_path / "dt")
    rows = [
        (1, dt.date(2024, 3, 7)),
        (2, dt.date(2024, 3, 8)),
    ]
    txlog.tx_append(
        _df(spark, rows, "k long, d date"), t, partition_by=["d"]
    )
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, t, partition_filter={"d": dt.date(2024, 3, 7)}
        ).collect()
    }
    assert got == {1}
    assert txlog._pv_str(True) == "true"
    assert txlog._pv_str(dt.datetime(2024, 1, 2, 3, 4, 5)) == (
        "2024-01-02 03:04:05"
    )
    assert txlog._pv_str(
        dt.datetime(2024, 1, 2, 3, 4, 5, 500000)
    ) == "2024-01-02 03:04:05.5"
    assert txlog._pv_str(None) is None


def test_partition_evolution_rewrites_layout_not_content(spark, tmp_path):
    """tx_repartition_table: one atomic commit re-lays the snapshot
    value-pure on NEW partition columns and records the declaration —
    content identical, pruning immediately serves the new columns,
    later appends inherit the new layout, and streams/CDC skip the
    commit like compact (content-preserving)."""
    t = str(tmp_path / "pe")
    rows = [
        (1, "a", "eu"), (2, "b", "eu"), (3, "a", "us"),
        (4, "b", "us"), (5, "a", "ap"),
    ]
    df = spark.createDataFrame(rows, "k long, v string, region string")
    txlog.tx_append(df, t, partition_by=["v"])
    before = {(r.k, r.v, r.region) for r in txlog.read_snapshot(spark, t).collect()}
    v, replaced = txlog.tx_repartition_table(spark, t, ["region"])
    assert replaced >= 1
    assert txlog.table_partition_by(t) == ["region"]
    after = {(r.k, r.v, r.region) for r in txlog.read_snapshot(spark, t).collect()}
    assert after == before  # pure layout change
    _, files = txlog.snapshot_files(t)
    pv = txlog.snapshot_pv(t)
    assert files and all(pv[f].keys() == {"region"} for f in files)
    kept = txlog.prune_partition_files(t, files, {"region": "eu"})
    assert 0 < len(kept) < len(files)
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, t, partition_filter={"region": "eu"}
        ).collect()
    }
    assert got == {1, 2}
    # the OLD column is no longer a declared partition column
    with pytest.raises(ValueError, match="not partition column"):
        txlog.read_snapshot(spark, t, partition_filter={"v": "a"})
    # a later append inherits the NEW declaration
    txlog.tx_append(
        spark.createDataFrame([(6, "c", "eu")], "k long, v string, region string"), t
    )
    _, files2 = txlog.snapshot_files(t)
    pv2 = txlog.snapshot_pv(t)
    assert all(pv2[f] == {"region": "eu"} for f in set(files2) - set(files))
    # streams and the change feed treat the rewrite as content-free
    from parallel_dbms_spark.sources.txlog_ds import (
        _plan_change_partitions,
        _plan_rels,
    )

    head = txlog.log_versions(t)[-1]
    rels = _plan_rels(t, 0, head, ignore_changes=False)  # no raise
    appended = set(txlog.read_commit(t, 1)["added"]) | set(
        txlog.read_commit(t, head)["added"]
    )
    assert set(rels) == appended  # the rewrite's files never stream
    parts = _plan_change_partitions(t, 0, head, ("k", "v", "region"))
    assert {p.version for p in parts} == {1, head}
    # evolving to a column the schema lacks raises before staging
    with pytest.raises(ValueError, match="not in table schema"):
        txlog.tx_repartition_table(spark, t, ["nope"])


def test_restore_recovers_partitioning_constraints_and_pv(spark, tmp_path):
    """RESTORE covers the full table state: re-added files get their
    partition values back (pruning works like the original snapshot),
    and table-level metadata — declared partitioning and the CHECK
    constraint map — restores with the data, undoing later evolution
    and later ADD CONSTRAINT."""
    t = str(tmp_path / "rs")
    df = spark.createDataFrame(
        [(1, "a", "eu"), (2, "b", "us"), (3, "a", "us")],
        "k long, v string, region string",
    )
    txlog.tx_append(df, t, partition_by=["v"])
    v1 = txlog.log_versions(t)[-1]
    cons_v = txlog.tx_set_constraint(spark, t, "k_pos", "k > 0")
    txlog.tx_repartition_table(spark, t, ["region"])
    assert txlog.table_partition_by(t) == ["region"]
    # restore to BEFORE the constraint and the evolution
    txlog.tx_restore(t, v1)
    assert txlog.table_partition_by(t) == ["v"]
    assert txlog.table_constraints(t) == {}
    # pv of the re-added files restored: pruning on the OLD column
    _, files = txlog.snapshot_files(t)
    pv = txlog.snapshot_pv(t)
    assert files and all(pv[f].keys() == {"v"} for f in files)
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, t, partition_filter={"v": "a"}
        ).collect()
    }
    assert got == {1, 3}
    # a violating append is accepted again (constraint gone)...
    txlog.tx_append(
        _df(spark, [(-9, "a", "eu")], "k long, v string, region string"), t
    )
    # ...and restoring FORWARD to the constrained version re-arms it
    txlog.tx_restore(t, cons_v)
    assert txlog.table_constraints(t) == {"k_pos": "k > 0"}
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        txlog.tx_append(
            _df(spark, [(-1, "z", "ap")], "k long, v string, region string"),
            t,
        )


def test_repartition_races_appends_and_deletes_safely(spark, tmp_path):
    """Partition evolution under contention: racing appends commute
    (their rows survive, staged under whichever declaration they read)
    and a racing delete forces the evolution to retry from the fresh
    snapshot — final content is exactly appends minus deletes, with
    the new declaration in force."""
    t = str(tmp_path / "race")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], "eu") for i in range(6)],
        "k long, v string, region string",
    )
    txlog.tx_append(df, t, partition_by=["v"])
    done = threading.Event()
    seen = []

    def appender():
        i = 100
        while not done.is_set():
            txlog.tx_append(
                spark.createDataFrame(
                    [(i, "c", "us")], "k long, v string, region string"
                ),
                t,
            )
            seen.append(i)
            i += 1

    th = threading.Thread(target=appender)
    th.start()
    try:
        txlog.tx_delete_where(spark, t, "k = 3")
        v, replaced = txlog.tx_repartition_table(spark, t, ["region"])
        assert replaced >= 1
    finally:
        done.set()
        th.join()
    assert txlog.table_partition_by(t) == ["region"]
    ks = {r.k for r in txlog.read_snapshot(spark, t).collect()}
    assert ks == ({0, 1, 2, 4, 5} | set(seen))  # no loss, no resurrection
    # pruning on the new column serves the evolved files; racing
    # appends staged under the OLD declaration are simply unprunable
    # on it (conservative), never wrong
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, t, partition_filter={"region": "eu"}
        ).collect()
    }
    assert got == {0, 1, 2, 4, 5}


def test_declaring_append_detects_interleaved_evolution(
    spark, tmp_path, monkeypatch
):
    """A DECLARING append whose table gets re-declared between its
    staging and its (clean, non-racing) commit claim must refuse —
    committing would silently revert the evolution, and the commit-
    level write-write conflict only fires on a lost CAS race."""
    t = str(tmp_path / "dw")
    df = spark.createDataFrame(
        [(1, "a", "eu"), (2, "b", "us")], "k long, v string, region string"
    )
    txlog.tx_append(df, t)  # unpartitioned table with live files
    real = txlog.collect_file_stats
    fired = []

    def interleave(table, rels, cols, mapping=None):
        if not fired:
            fired.append(1)
            txlog.tx_repartition_table(spark, t, ["region"])
        return real(table, rels, cols, mapping)

    monkeypatch.setattr(txlog, "collect_file_stats", interleave)
    with pytest.raises(ValueError, match="re-declared"):
        txlog.tx_append(
            spark.createDataFrame(
                [(3, "c", "ap")], "k long, v string, region string"
            ),
            t, partition_by=["v"], stats_cols=["k"],
        )
    assert txlog.table_partition_by(t) == ["region"]  # evolution stands


def test_convert_parquet_dir_zero_copy_import(spark, tmp_path):
    """CONVERT TO: an existing plain-parquet directory becomes the
    table's first commit via hardlinks (zero bytes copied, inode
    equality asserted), with optional footer stats riding the commit —
    and the converted table is a first-class citizen (appends,
    skipping, time travel, deletes all apply)."""
    import os as _os

    src = str(tmp_path / "plain")
    spark.createDataFrame(
        [(i, f"v{i % 3}") for i in range(30)], "k long, v string"
    ).repartition(3).write.parquet(src)
    t = str(tmp_path / "t")
    v = txlog.tx_convert_parquet_dir(spark, src, t, stats_cols=["k"])
    assert v == 1
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, t).collect()}
    assert got == {(i, f"v{i % 3}") for i in range(30)}
    # zero-copy: every live file shares an inode with a source file
    src_inodes = {
        _os.stat(_os.path.join(dp, f)).st_ino
        for dp, _, fs in _os.walk(src)
        for f in fs
        if f.endswith(".parquet")
    }
    _, files = txlog.snapshot_files(t)
    assert files and all(
        _os.stat(_os.path.join(t, f)).st_ino in src_inodes for f in files
    )
    # stats rode the commit: out-of-range probes open zero files
    _, n_read, n_total = txlog.tx_read_skipping(spark, t, "k", lo=500)
    assert n_total == len(files) and n_read == 0
    # first-class from version 1: append + MOR delete + time travel
    txlog.tx_append(_df(spark, [(99, "z")]), t)
    txlog.tx_delete_where_mor(spark, t, "k = 0")
    now = {r.k for r in txlog.read_snapshot(spark, t).collect()}
    assert 0 not in now and 99 in now
    v1 = {r.k for r in txlog.read_snapshot(spark, t, version=1).collect()}
    assert v1 == set(range(30))
    # guard rails: double convert and schema drift
    with pytest.raises(ValueError, match="already has commits"):
        txlog.tx_convert_parquet_dir(spark, src, t)
    drift = str(tmp_path / "drift")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
        drift + "/a"
    )
    spark.createDataFrame([(2, "b", 1.5)], "k long, v string, w double")\
        .write.parquet(drift + "/b")
    with pytest.raises(ValueError, match="schema drift"):
        txlog.tx_convert_parquet_dir(spark, drift, str(tmp_path / "t2"))
    # merge_schema=True unions additively; narrow files null-fill
    v = txlog.tx_convert_parquet_dir(
        spark, drift, str(tmp_path / "t3"), merge_schema=True
    )
    rows = {
        (r.k, r.v, r.w)
        for r in txlog.read_snapshot(spark, str(tmp_path / "t3")).collect()
    }
    assert rows == {(1, "a", None), (2, "b", 1.5)}


def test_convert_with_partitioning_derives_pv_from_footers(spark, tmp_path):
    """Converting with partition_by declares the layout AND derives
    partitionValues from footer stats: provably value-pure files
    (min == max, no nulls) record their values and prune immediately;
    impure files convert unrecorded and stay exact via must-read."""
    src = str(tmp_path / "plain")
    df = spark.createDataFrame(
        [(i, ["eu", "us"][i % 2]) for i in range(20)],
        "k long, region string",
    )
    # value-pure files on disk, one per region (Hive's partitionBy
    # would DROP the column from the files, which convert refuses —
    # this engine keeps partition columns in the data)
    df.filter("region = 'eu'").coalesce(1).write.parquet(src + "/p1")
    df.filter("region = 'us'").coalesce(1).write.parquet(src + "/p2")
    # plus one deliberately MIXED file
    df.limit(4).coalesce(1).write.parquet(src + "/mix")
    t = str(tmp_path / "t")
    txlog.tx_convert_parquet_dir(
        spark, src, t, partition_by=["region"]
    )
    assert txlog.table_partition_by(t) == ["region"]
    _, files = txlog.snapshot_files(t)
    pv = txlog.snapshot_pv(t)
    assert len(files) == 3 and len(pv) == 2  # mixed file unrecorded
    kept = txlog.prune_partition_files(t, files, {"region": "eu"})
    assert len(kept) == 2  # the eu file + the unrecorded must-read
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, t, partition_filter={"region": "eu"}
        ).collect()
    }
    assert got == {i for i in range(20) if i % 2 == 0}
    # later appends inherit the declaration and record values
    txlog.tx_append(
        spark.createDataFrame([(99, "ap")], "k long, region string"), t
    )
    _, files2 = txlog.snapshot_files(t)
    new = set(files2) - set(files)
    assert new and all(
        txlog.snapshot_pv(t)[f] == {"region": "ap"} for f in new
    )


def test_type_widening_evolution(spark, tmp_path):
    """TYPE WIDENING under merge_schema (Delta 3.x): an int column
    widens to long (and float to double) as a pure schema-record
    change — old narrow files never rewrite, the scan upcasts them
    (probed native in Spark 4's parquet reader), and later NARROWER
    appends are accepted too (their files stay narrow under the same
    upcast-at-read rule). Non-widenable changes still refuse."""
    t = str(tmp_path / "tw")
    txlog.tx_append(
        spark.createDataFrame([(1, 1.5)], "k int, x float"), t
    )
    files_v1 = set(txlog.snapshot_files(t)[1])
    # widening append: long + double
    txlog.tx_append(
        spark.createDataFrame([(2**40, 2.5)], "k long, x double"),
        t, merge_schema=True,
    )
    sch = {f.name: f.dataType.simpleString() for f in txlog.table_schema(t).fields}
    assert sch == {"k": "bigint", "x": "double"}
    assert files_v1 < set(txlog.snapshot_files(t)[1])  # nothing rewrote
    rows = {r.k: r.x for r in txlog.read_snapshot(spark, t).collect()}
    assert rows == {1: 1.5, 2**40: 2.5}
    # a narrower append after the widening is fine (upcast at read)
    txlog.tx_append(
        spark.createDataFrame([(7, 7.5)], "k int, x float"),
        t, merge_schema=True,
    )
    assert {
        f.name: f.dataType.simpleString()
        for f in txlog.table_schema(t).fields
    } == {"k": "bigint", "x": "double"}
    got = {r.k: r.x for r in txlog.read_snapshot(spark, t).collect()}
    assert got == {1: 1.5, 2**40: 2.5, 7: 7.5}
    # incompatible change still refuses, with and without merge_schema
    with pytest.raises(ValueError, match="type"):
        txlog.tx_append(
            spark.createDataFrame([("s", 1.0)], "k string, x double"),
            t, merge_schema=True,
        )
    with pytest.raises(ValueError, match="type"):
        # widenable pair but merge_schema NOT passed: still refuses
        txlog.tx_append(
            spark.createDataFrame([(3, 3.5)], "k long, x float"), t
        )
    # widening composes with DML: delete + update rewrite wide
    txlog.tx_delete_where(spark, t, "k = 7")
    assert {r.k for r in txlog.read_snapshot(spark, t).collect()} == {
        1, 2**40,
    }


def test_column_defaults_fill_omitting_appends(spark, tmp_path):
    """Write-time DEFAULTS (SQL-standard / Delta): an append may OMIT
    a defaulted column — the writer fills it (typed, may reference the
    row's other columns); existing rows never backfill; renames
    re-bind the default's key and expression; dropping a column that
    another column's default references is blocked."""
    t = str(tmp_path / "dflt")
    txlog.tx_append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k long, v string, amt long"
        ),
        t,
    )
    txlog.tx_set_default(t, "v", "'unknown'")
    txlog.tx_set_default(t, "amt", "k * 100")
    # omit BOTH defaulted columns: filled per row
    txlog.tx_append(spark.createDataFrame([(7,), (8,)], "k long"), t)
    rows = {
        r.k: (r.v, r.amt) for r in txlog.read_snapshot(spark, t).collect()
    }
    assert rows == {
        1: ("a", 10), 2: ("b", 20),
        7: ("unknown", 700), 8: ("unknown", 800),
    }
    # a SUPPLIED value wins over the default
    txlog.tx_append(
        spark.createDataFrame([(9, "x", 1)], "k long, v string, amt long"),
        t,
    )
    assert txlog.read_snapshot(spark, t).filter("k=9").collect()[0].v == "x"
    # rename re-binds the default (key and referenced columns)
    txlog.tx_rename_column(spark, t, "k", "id")
    assert txlog.table_column_defaults(t)["amt"] == "id * 100"
    txlog.tx_append(spark.createDataFrame([(10,)], "id long"), t)
    got = txlog.read_snapshot(spark, t).filter("id=10").collect()[0]
    assert (got.v, got.amt) == ("unknown", 1000)
    # dropping a column referenced by another's default is blocked
    with pytest.raises(ValueError, match="DEFAULT"):
        txlog.tx_drop_column(spark, t, "id")
    # dropping the default restores the strict contract: omitting the
    # column is a schema-drift rejection again (the default was what
    # made omission legal)
    txlog.tx_drop_default(t, "amt")
    assert "amt" not in txlog.table_column_defaults(t)
    with pytest.raises(ValueError, match="missing"):
        txlog.tx_append(spark.createDataFrame([(11,)], "id long"), t)


def test_change_feed_and_stream_across_widening(spark, tmp_path):
    """tx_changes and the streaming face serve a widening history
    under the WIDE types: per-commit parts read with their own
    commit's schema and the union coerces narrow parts up; the stream
    reader's tuple fallback null-safely serves narrow files under the
    wide serve schema."""
    import pyarrow as pa

    from parallel_dbms_spark.sources.txlog_ds import TxLogStreamReader

    t = str(tmp_path / "wf")
    txlog.tx_append(spark.createDataFrame([(1, 1.5)], "k int, x float"), t)
    txlog.tx_append(
        spark.createDataFrame([(2**40, 2.5)], "k long, x double"),
        t, merge_schema=True,
    )
    txlog.tx_delete_where(spark, t, "k = 1")
    ch = txlog.tx_changes(spark, t, 0)
    assert dict(ch.dtypes)["k"] == "bigint"
    assert sorted((r.k, r.x, r._change_type) for r in ch.collect()) == [
        (1, 1.5, "delete"), (1, 1.5, "insert"), (2**40, 2.5, "insert"),
    ]
    rdr = TxLogStreamReader(
        {"path": t, "ignorechanges": "true"}, txlog.table_schema(t)
    )
    rows = []
    for p in rdr.partitions({"v": 0}, rdr.latestOffset()):
        for r in rdr.read(p):
            if isinstance(r, pa.RecordBatch):
                rows.extend(tuple(d.values()) for d in r.to_pylist())
            else:
                rows.append(tuple(r))
    assert sorted(rows) == [(1, 1.5), (2**40, 2.5)]


def test_generated_columns_fill_enforce_and_recompute(spark, tmp_path):
    """GENERATED ALWAYS AS: omitted -> computed per row; supplied ->
    must equal the expression (write rejected otherwise); UPDATE of a
    source column recomputes the derived one and direct UPDATE of a
    generated column is blocked; declaring over violating history is
    rejected; partition_by on a generated column prunes."""
    t = str(tmp_path / "gen")
    txlog.tx_append(
        spark.createDataFrame(
            [(1, 10, 101), (2, 20, 400)], "k long, a long, sq long"
        ),
        t,
    )
    # declaring over violating history rejects (sq != a*a for k=1)
    with pytest.raises(ValueError, match="violate"):
        txlog.tx_set_generated(spark, t, "sq", "a * a")
    txlog.tx_update_where(spark, t, "k = 1", {"sq": "a * a"})
    txlog.tx_set_generated(spark, t, "sq", "a * a")
    # omitted -> filled
    txlog.tx_append(spark.createDataFrame([(3, 5)], "k long, a long"), t)
    rows = {r.k: r.sq for r in txlog.read_snapshot(spark, t).collect()}
    assert rows == {1: 100, 2: 400, 3: 25}
    # supplied-but-wrong -> rejected before staging
    with pytest.raises(ValueError, match="GENERATED"):
        txlog.tx_append(
            spark.createDataFrame([(4, 6, 99)], "k long, a long, sq long"),
            t,
        )
    # supplied-and-right -> accepted
    txlog.tx_append(
        spark.createDataFrame([(4, 6, 36)], "k long, a long, sq long"), t
    )
    # UPDATE the source column: the generated one recomputes
    with pytest.raises(ValueError, match="generated"):
        txlog.tx_update_where(spark, t, "k = 4", {"sq": "1"})
    txlog.tx_update_where(spark, t, "k = 4", {"a": "7"})
    got = txlog.read_snapshot(spark, t).filter("k = 4").collect()[0]
    assert (got.a, got.sq) == (7, 49)
    # MERGE sources obey the same law
    with pytest.raises(ValueError, match="GENERATED"):
        txlog.tx_merge_upsert(
            spark, t,
            spark.createDataFrame([(9, 3, 8)], "k long, a long, sq long"),
            keys=["k"],
        )
    txlog.tx_merge_upsert(
        spark, t, spark.createDataFrame([(9, 3)], "k long, a long"),
        keys=["k"],
    )
    assert txlog.read_snapshot(spark, t).filter("k=9").collect()[0].sq == 9
    # default/generated mutual exclusion, both directions
    with pytest.raises(ValueError, match="generated OR"):
        txlog.tx_set_default(t, "sq", "0")
    txlog.tx_set_default(t, "a", "1")
    with pytest.raises(ValueError, match="generated OR"):
        txlog.tx_set_generated(spark, t, "a", "k")


def test_partition_by_generated_date_column(spark, tmp_path):
    """The canonical generated-column use: a day column derived from
    the event key partitions the table — writers omit it, staging
    fills it value-pure, and pruning answers from the log."""
    t = str(tmp_path / "genp")
    txlog.tx_append(
        spark.createDataFrame(
            [(i, i % 3) for i in range(12)], "k long, day long"
        ),
        t, partition_by=["day"],
    )
    txlog.tx_set_generated(spark, t, "day", "k % 3")
    # appends OMIT the partition column entirely
    txlog.tx_append(
        spark.createDataFrame([(100,), (101,)], "k long"), t
    )
    pv = txlog.snapshot_pv(t)
    _, files = txlog.snapshot_files(t)
    assert files and all(set(v) == {"day"} for v in pv.values())
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, t, partition_filter={"day": "1"}
        ).collect()
    }
    assert got == {1, 4, 7, 10, 100}


def test_partition_scoped_compact(spark, tmp_path):
    """OPTIMIZE ... WHERE: a partition-scoped compact rewrites ONLY
    the requested partition's provably-pure files — other partitions'
    files stay live byte-identical, content is preserved, pruning
    still works, and streams skip the compact commit as always."""
    t = str(tmp_path / "pc")
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(20)], "k long, c string"
    )
    txlog.tx_append(df.filter("k < 10").repartition(3), t,
                    partition_by=["c"])
    txlog.tx_append(df.filter("k >= 10").repartition(3), t)
    _, before = txlog.snapshot_files(t)
    pv_before = txlog.snapshot_pv(t)
    b_files = {f for f in before if pv_before.get(f, {}).get("c") == "b"}
    v, n = txlog.tx_compact(
        spark, t, num_files=1, partition_filter={"c": "a"}
    )
    assert n > 0
    _, after = txlog.snapshot_files(t)
    # partition b's files untouched
    assert b_files <= set(after)
    # partition a compacted to one file, still recorded pure on 'a'
    pv_after = txlog.snapshot_pv(t)
    a_files = [f for f in after if pv_after.get(f, {}).get("c") == "a"]
    assert len(a_files) == 1
    got = {r.k for r in txlog.read_snapshot(spark, t).collect()}
    assert got == set(range(20))
    pruned = {
        r.k
        for r in txlog.read_snapshot(
            spark, t, partition_filter={"c": "a"}
        ).collect()
    }
    assert pruned == {i for i in range(20) if i % 2 == 0}
    # unknown filter keys raise, like every other pruning face
    with pytest.raises(ValueError, match="not partition columns"):
        txlog.tx_compact(spark, t, partition_filter={"k": 1})


def test_declared_clustering_drives_optimize_and_stats(spark, tmp_path):
    """CLUSTER BY as a table property: appends record the clustering
    columns' stats automatically, a bare tx_compact z-orders on the
    declaration (2-D skipping prunes afterwards), and renames carry
    the declaration."""
    t = str(tmp_path / "cb")
    txlog.tx_append(
        spark.createDataFrame(
            [(i, (i * 37) % 100, (i * 61) % 100) for i in range(4000)],
            "k long, x long, y long",
        ).repartition(4),
        t,
    )
    txlog.tx_set_cluster_by(t, ["x", "y"])
    assert txlog.table_cluster_by(t) == ["x", "y"]
    # appends now ride x/y stats with no per-call args
    txlog.tx_append(
        spark.createDataFrame([(9001, 5, 5)], "k long, x long, y long"), t
    )
    _, files = txlog.snapshot_files(t)
    st = txlog.snapshot_stats(t)
    newest = [f for f in files if f in st]
    assert newest and all(
        {"x", "y"} <= set(st[f]["c"]) for f in newest
    )
    # a BARE compact z-orders on the declaration: afterwards a tight
    # x-range opens strictly fewer files than the snapshot holds
    txlog.tx_compact(spark, t, num_files=8)
    df, n_read, n_total = txlog.tx_read_skipping(spark, t, "x", lo=0, hi=9)
    assert n_total == 8 and 0 < n_read < n_total, (n_read, n_total)
    assert df.filter("x < 10").count() == 401
    # rename follows the declaration
    txlog.tx_rename_column(spark, t, "x", "lon")
    assert txlog.table_cluster_by(t) == ["lon", "y"]


def test_restore_recovers_defaults_generated_and_clustering(spark, tmp_path):
    """RESTORE undoes later SET DEFAULT / SET GENERATED / CLUSTER BY
    exactly like it undoes constraint and partition drift — the full
    table-level metadata state travels with the data."""
    t = str(tmp_path / "rsm")
    txlog.tx_append(
        spark.createDataFrame([(1, 10, 100)], "k long, a long, sq long"),
        t,
    )
    v1 = txlog.log_versions(t)[-1]
    txlog.tx_set_default(t, "a", "7")
    txlog.tx_set_generated(spark, t, "sq", "a * a")
    txlog.tx_set_cluster_by(t, ["k"])
    assert txlog.table_column_defaults(t) and txlog.table_cluster_by(t)
    txlog.tx_restore(t, v1)
    assert txlog.table_column_defaults(t) == {}
    assert txlog.table_generated_columns(t) == {}
    assert txlog.table_cluster_by(t) == []
    # an append omitting the (no-longer) defaulted column drifts again
    with pytest.raises(ValueError, match="missing"):
        txlog.tx_append(
            spark.createDataFrame([(2, 99)], "k long, sq long"), t
        )
    # ...and restoring FORWARD re-arms all three planes
    head = txlog.log_versions(t)
    txlog.tx_restore(t, head[-2])  # the version right before restore
    assert txlog.table_column_defaults(t) == {"a": "7"}
    assert txlog.table_generated_columns(t) == {"sq": "a * a"}
    assert txlog.table_cluster_by(t) == ["k"]
    txlog.tx_append(spark.createDataFrame([(3,)], "k long"), t)
    got = txlog.read_snapshot(spark, t).filter("k = 3").collect()[0]
    assert (got.a, got.sq) == (7, 49)


def test_clone_carries_defaults_generated_clustering(spark, tmp_path):
    t = str(tmp_path / "csrc")
    txlog.tx_append(
        spark.createDataFrame([(1, 10, 100)], "k long, a long, sq long"),
        t,
    )
    txlog.tx_set_default(t, "a", "7")
    txlog.tx_set_generated(spark, t, "sq", "a * a")
    txlog.tx_set_cluster_by(t, ["k"])
    dst = str(tmp_path / "cdst")
    txlog.tx_clone(t, dst)
    assert txlog.table_column_defaults(dst) == {"a": "7"}
    assert txlog.table_generated_columns(dst) == {"sq": "a * a"}
    assert txlog.table_cluster_by(dst) == ["k"]
    txlog.tx_append(spark.createDataFrame([(2,)], "k long"), dst)
    got = txlog.read_snapshot(spark, dst).filter("k = 2").collect()[0]
    assert (got.a, got.sq) == (7, 49)


def test_describe_detail_summarizes_every_metadata_plane(spark, table):
    txlog.tx_append(
        spark.createDataFrame(
            [(i, "ab"[i % 2], float(i)) for i in range(20)],
            "id long, g string, x double",
        ),
        table, partition_by=["g"], stats_cols=["id"],
    )
    txlog.tx_set_identity(spark, table, "id", always=False)
    txlog.tx_enable_row_tracking(table)
    txlog.tx_set_constraint(spark, table, "pos", "x >= 0")
    txlog.tx_rename_column(spark, table, "x", "val")
    r = txlog.tx_detail(spark, table).collect()[0]
    assert r["num_files"] >= 2 and r["size_bytes"] > 0
    assert r["num_rows"] == 20  # every live file has recorded stats
    assert r["partition_columns"] == ["g"]
    assert r["constraints"] == ["pos"]
    assert r["identity_columns"] == ["id"]
    assert r["row_tracking"] is True and r["column_mapped"] is True
    assert r["version"] == txlog.log_versions(table)[-1]
    # version pin: the planes resolve AS OF, like every other face
    r0 = txlog.tx_detail(spark, table, version=1).collect()[0]
    assert r0["row_tracking"] is False
    assert r0["identity_columns"] == [] and r0["column_mapped"] is False
    # a stat-less file makes num_rows honestly unknown, not wrong
    txlog.tx_compact(spark, table, num_files=1)
    r2 = txlog.tx_detail(spark, table).collect()[0]
    assert r2["num_rows"] in (20, None)
    # maintenance-debt gauges: a MOR delete raises the purge gauge,
    # REORG drains it; ANALYZE raises the stats gauge to every file
    txlog.tx_delete_where_mor(spark, table, "val = 1.0")
    g = txlog.tx_detail(spark, table).collect()[0]
    assert g["num_dv_files"] == 1 and g["num_dv_rows"] >= 1
    txlog.tx_reorg_purge(spark, table)
    txlog.tx_analyze(table, ["val"])
    g2 = txlog.tx_detail(spark, table).collect()[0]
    assert g2["num_dv_files"] == 0 and g2["num_dv_rows"] == 0
    assert g2["num_statted_files"] == g2["num_files"]


def test_partition_scoped_incremental_optimize(spark, table):
    """tx_optimize(partition_filter=): only the requested partition's
    small files bin-pack; other partitions stay live byte-identical
    (Delta's OPTIMIZE ... WHERE on the incremental path)."""
    for i in range(3):  # small-file tail in both partitions
        txlog.tx_append(
            spark.createDataFrame(
                [(10 * i + j, "ab"[j % 2]) for j in range(4)],
                "k long, g string",
            ),
            table, partition_by=["g"],
        )
    before = set(txlog.snapshot_files(table)[1])
    pv = txlog.snapshot_pv(table)
    a_files = {f for f in before if pv.get(f, {}).get("g") == "a"}
    b_files = before - a_files
    v, n = txlog.tx_optimize(
        spark, table, target_file_bytes=1 << 30,
        partition_filter={"g": "a"},
    )
    assert n == len(a_files) and n >= 2
    after = set(txlog.snapshot_files(table)[1])
    assert b_files <= after, "other partition untouched"
    assert not (a_files & after), "scoped files replaced"
    # rewritten files re-record their partition values: pruning holds
    kept = txlog.prune_partition_files(
        table, sorted(after), {"g": "a"}
    )
    assert 0 < len(kept) < len(after)
    got = sorted(
        (r.k, r.g)
        for r in txlog.read_snapshot(spark, table).collect()
    )
    assert got == sorted(
        (10 * i + j, "ab"[j % 2]) for i in range(3) for j in range(4)
    )
    with pytest.raises(ValueError, match="not partition columns"):
        txlog.tx_optimize(spark, table, partition_filter={"k": 1})


def test_incremental_optimize_honors_declared_clustering(spark, tmp_path):
    """tx_optimize on a CLUSTER BY table: the bin-packed output is
    z-clustered on the declared columns and carries their stats — the
    continuous small-file compaction behind a streaming ingest must
    not strip the clustered layout/skipping the declaration promises
    (tx_compact and tx_append already defaulted this way)."""
    t = str(tmp_path / "cbo")
    txlog.tx_append(
        spark.createDataFrame([(0, 0, 0)], "k long, x long, y long"), t
    )
    txlog.tx_set_cluster_by(t, ["x", "y"])
    # a small-file tail, as a streaming sink would leave: each file
    # covers the FULL x/y range, so nothing skips before re-layout
    # (8 tail files prove the layout exactly as 16 did at half the
    # commit latency — r14 suite-wall trim, assertions unchanged in
    # kind: every tail file compacts, >1 output, stats + skipping)
    for j in range(8):
        txlog.tx_append(
            spark.createDataFrame(
                [(j * 250 + i, (i * 37) % 100, (i * 61) % 100)
                 for i in range(250)],
                "k long, x long, y long",
            ).coalesce(1),
            t,
        )
    _, files = txlog.snapshot_files(t)
    total = sum(os.path.getsize(os.path.join(t, f)) for f in files)
    # target ~ total/4: every tail file (~total/8) qualifies, and the
    # bin-pack emits ~4 outputs — enough granularity to prove layout
    v, replaced = txlog.tx_optimize(spark, t, target_file_bytes=total // 4)
    assert replaced >= 8
    _, after = txlog.snapshot_files(t)
    st = txlog.snapshot_stats(t)
    assert len(after) > 1
    assert all({"x", "y"} <= set(st[f].get("c", {})) for f in after), (
        "optimize output lost the clustering columns' stats"
    )
    # the layout is z-clustered, not arbitrary coalescing: a tight
    # x-range opens strictly fewer files than live, losslessly
    df, n_read, n_total = txlog.tx_read_skipping(spark, t, "x", lo=0, hi=9)
    assert n_total == len(after) and n_read < n_total, (n_read, n_total)
    assert df.filter("x between 0 and 9").count() == (
        txlog.read_snapshot(spark, t).filter("x between 0 and 9").count()
    )


def test_partition_delete_is_metadata_only(spark, tmp_path):
    """Delta's partition delete: DELETE WHERE <partition equality>
    drops every provably-all-match file from the log with NO data I/O
    — no file read, no file written — while files the record can't
    prove pure (an unrecorded compaction rewrite) keep the exact
    row-level rewrite in the SAME atomic commit."""
    t = str(tmp_path / "t")
    df = spark.range(300).selectExpr(
        "id AS k", "id % 3 AS p", "CAST(id AS STRING) AS s"
    )
    txlog.tx_append(df.repartition(3), t, partition_by=["p"])
    _, files = txlog.snapshot_files(t)
    pv = txlog.snapshot_pv(t)
    p0 = {f for f in files if pv.get(f, {}).get("p") == "0"}
    others = {f: os.path.getmtime(os.path.join(t, f))
              for f in files if f not in p0}
    assert p0 and others
    v, n = txlog.tx_delete_where(spark, t, "p = 0")
    assert n == len(p0)
    rec = txlog.read_commit(t, v)
    assert rec["added"] == [], "metadata-only: nothing staged"
    assert set(rec["removed"]) == p0
    _, after = txlog.snapshot_files(t)
    assert set(after) == set(others), "untouched partitions stay live"
    assert all(
        os.path.getmtime(os.path.join(t, f)) == m for f, m in others.items()
    ), "no surviving file was rewritten"
    got = {r.k for r in txlog.read_snapshot(spark, t).collect()}
    assert got == {i for i in range(300) if i % 3 != 0}
    # IN form, multiple partitions at once, also metadata-only
    v2, n2 = txlog.tx_delete_where(spark, t, "p IN (1, 2)")
    assert n2 == len(others)
    assert txlog.read_commit(t, v2)["added"] == []
    assert txlog.read_snapshot(spark, t).count() == 0


def test_partition_delete_mixed_pure_and_unrecorded(spark, tmp_path):
    """A compaction leaves a mixed, pv-unrecorded file: the partition
    delete must drop the pure files metadata-only AND row-rewrite the
    mixed file, atomically, without losing either side's rows."""
    t = str(tmp_path / "t")
    df = spark.range(200).selectExpr("id AS k", "id % 2 AS p")
    # pre-declaration history: ONE mixed file, no recorded pv
    txlog.tx_append(df.coalesce(1), t)
    # the declaring append records only ITS OWN files' values — the
    # old mixed file stays unrecorded (partition evolution contract)
    txlog.tx_append(
        spark.createDataFrame(
            [(1000, 0), (1001, 1)], "k long, p long"
        ),
        t,
        partition_by=["p"],
    )
    _, files = txlog.snapshot_files(t)
    pv = txlog.snapshot_pv(t)
    unrecorded = [f for f in files if "p" not in pv.get(f, {})]
    assert unrecorded, "fixture must hold an unrecorded mixed file"
    pure_p0 = {
        f for f in files if pv.get(f, {}).get("p") == "0"
    }
    assert pure_p0, "fixture must hold a recorded p=0 file"
    v, n = txlog.tx_delete_where(spark, t, "p = 0")
    rec = txlog.read_commit(t, v)
    # the mixed file was rewritten (its p=1 survivors had to live on);
    # the recorded p=0 file dropped without a replacement
    assert rec["added"], "mixed file needs a rewrite"
    assert pure_p0 <= set(rec["removed"])
    got = {r.k for r in txlog.read_snapshot(spark, t).collect()}
    assert got == {i for i in range(200) if i % 2 == 1} | {1001}


def test_partition_delete_fast_path_guards(spark, tmp_path):
    """No fast path without proof: non-partition predicates, NULL
    partition values, and write_cdc all take (or force) the row-level
    path and stay exact."""
    t = str(tmp_path / "t")
    rows = [(float(i), i % 2, f"s{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "k double, p long, s string")
    nulls = spark.createDataFrame(
        [(99.0, None, "null-p")], "k double, p long, s string"
    )
    txlog.tx_append(df.unionByName(nulls).repartition("p"), t,
                    partition_by=["p"])
    # predicate over a non-partition column: ordinary path, exact
    v, _ = txlog.tx_delete_where(spark, t, "k < 5.0")
    got = {r.k for r in txlog.read_snapshot(spark, t).collect()}
    assert got == {float(i) for i in range(5, 20)} | {99.0}
    # 3VL: p = 0 must not touch the NULL-partition row
    txlog.tx_delete_where(spark, t, "p = 0")
    got = {r.s for r in txlog.read_snapshot(spark, t).collect()}
    assert "null-p" in got and all(
        int(s[1:]) % 2 == 1 for s in got if s.startswith("s")
    )
    # write_cdc needs the deleted images: the sidecar must hold them
    # even when the predicate is partition-shaped
    v2, _ = txlog.tx_delete_where(spark, t, "p = 1", write_cdc=True)
    ch = txlog.tx_changes(spark, t, v2 - 1, v2)
    dels = ch.filter("_change_type = 'delete'")
    assert dels.count() == len(
        [s for s in got if s.startswith("s")]
    )


def test_mor_partition_delete_drops_files_not_vectors(spark, tmp_path):
    """The MOR delete's partition fast path: provably-all-match files
    DROP from the log (no vector over every row), the remainder keeps
    vectoring — and both the batch change feed and the streaming CDC
    face emit the dropped rows as deletes."""
    t = str(tmp_path / "t")
    df = spark.range(60).selectExpr("id AS k", "id % 3 AS p")
    txlog.tx_append(df.repartition(3), t, partition_by=["p"])
    # vector a couple of rows first so prior-DV exclusion is exercised
    txlog.tx_delete_where_mor(spark, t, "k IN (0, 3)")  # p=0 rows
    pv = txlog.snapshot_pv(t)
    _, files = txlog.snapshot_files(t)
    p0 = {f for f in files if pv.get(f, {}).get("p") == "0"}
    v, n = txlog.tx_delete_where_mor(spark, t, "p = 0")
    rec = txlog.read_commit(t, v)
    assert set(rec["removed"]) == p0, "all-match files must drop"
    assert not rec.get("dv"), "no vector needed for dropped files"
    assert n == 20 - 2  # 20 p=0 rows minus the 2 already vectored
    got = {r.k for r in txlog.read_snapshot(spark, t).collect()}
    assert got == {i for i in range(60) if i % 3 != 0}
    # batch change feed serves the dropped rows as deletes, excluding
    # the previously-vectored positions
    ch = txlog.tx_changes(spark, t, v - 1, v)
    dels = {r.k for r in ch.filter("_change_type = 'delete'").collect()}
    assert dels == {i for i in range(60) if i % 3 == 0} - {0, 3}
    # streaming CDC face plans the dropped file as delete partitions
    from parallel_dbms_spark.sources.txlog_ds import (
        _plan_change_partitions, _read_change_partition,
    )

    parts = _plan_change_partitions(t, v - 1, v, ("k", "p"))
    rows = [r for p in parts for r in _read_change_partition(p)]
    assert {r[0] for r in rows if r[2] == "delete"} == dels
    assert all(r[3] == v for r in rows)


def test_replace_where_atomic_partition_backfill(spark, tmp_path):
    """replaceWhere: one commit swaps exactly the predicate's rows for
    the new frame; a partition-shaped predicate drops the old files
    metadata-only; data outside the predicate is rejected up front."""
    t = str(tmp_path / "t")
    df = spark.range(90).selectExpr("id AS k", "id % 3 AS p", "'old' AS v")
    txlog.tx_append(df.repartition(3), t, partition_by=["p"])
    pv = txlog.snapshot_pv(t)
    _, files = txlog.snapshot_files(t)
    p1 = {f for f in files if pv.get(f, {}).get("p") == "1"}
    repl = spark.createDataFrame(
        [(1000, 1, "new"), (1001, 1, "new")], "k long, p long, v string"
    )
    v, n = txlog.tx_replace_where(spark, t, repl, "p = 1")
    rec = txlog.read_commit(t, v)
    assert p1 <= set(rec["removed"]) and n >= len(p1)
    # metadata-only on the delete side: everything staged is NEW data
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, t).collect()}
    assert got == (
        {(i, "old") for i in range(90) if i % 3 != 1}
        | {(1000, "new"), (1001, "new")}
    )
    # the new files carry recorded partition values: pruning still works
    kept = txlog.prune_partition_files(
        t, txlog.snapshot_files(t)[1], {"p": 1}
    )
    assert 0 < len(kept) < len(txlog.snapshot_files(t)[1])
    with pytest.raises(ValueError, match="satisfy the predicate"):
        txlog.tx_replace_where(
            spark, t,
            spark.createDataFrame([(5, 2, "leak")], "k long, p long, v string"),
            "p = 1",
        )
    # constraints + identity laws hold on the replacement frame
    txlog.tx_set_constraint(spark, t, "kpos", "k >= 0")
    with pytest.raises(Exception):
        txlog.tx_replace_where(
            spark, t,
            spark.createDataFrame([(-7, 0, "bad")], "k long, p long, v string"),
            "p = 0",
        )


def test_copy_into_idempotent_and_incremental(spark, tmp_path):
    """COPY INTO loads each source file exactly once: the re-run is a
    no-op, newly landed files load alone, and the loaded-set plane
    survives checkpoint folds."""
    src = str(tmp_path / "landing")
    t = str(tmp_path / "t")
    spark.range(10).selectExpr("id AS k", "'a' AS v").coalesce(1) \
        .write.parquet(src)
    v1, n1 = txlog.tx_copy_into(spark, t, src)
    assert n1 == 1 and txlog.read_snapshot(spark, t).count() == 10
    # idempotent re-run
    v2, n2 = txlog.tx_copy_into(spark, t, src)
    assert n2 == 0 and v2 == v1
    # a new file lands: only IT loads
    import glob as _glob

    spark.range(10, 15).selectExpr("id AS k", "'b' AS v").coalesce(1) \
        .write.mode("append").parquet(src)
    v3, n3 = txlog.tx_copy_into(spark, t, src)
    assert n3 == len(_glob.glob(src + "/*.parquet")) - 1
    assert txlog.read_snapshot(spark, t).count() == 15
    # burn versions past a checkpoint; the loaded set must survive
    for i in range(txlog.CHECKPOINT_EVERY + 1):
        txlog.tx_set_constraint(spark, t, "c", f"k >= -1 OR {i} = {i}")
    assert txlog.copy_into_sources(t) == {
        os.path.abspath(f) for f in _glob.glob(src + "/*.parquet")
    }
    v4, n4 = txlog.tx_copy_into(spark, t, src)
    assert n4 == 0
    assert txlog.read_snapshot(spark, t).count() == 15


def test_copy_into_concurrent_racers_never_double_load(spark, tmp_path):
    """Two COPY INTOs racing on the same landing dir: the copy-vs-copy
    conflict forces the loser to re-plan against the winner's recorded
    set — every file loads exactly once."""
    src = str(tmp_path / "landing")
    t = str(tmp_path / "t")
    spark.range(20).selectExpr("id AS k").repartition(4) \
        .write.parquet(src)
    errs, results = [], []

    def racer():
        try:
            results.append(txlog.tx_copy_into(spark, t, src))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=racer) for _ in range(3)]
    [x.start() for x in ts]
    [x.join() for x in ts]
    assert not errs
    assert sum(n for _, n in results) >= 1
    assert txlog.read_snapshot(spark, t).count() == 20, (
        "a double-load would show > 20 rows"
    )


def test_derive_partition_filter_from_generated_source(spark, tmp_path):
    """Generated-column partition derivation: a table partitioned by
    day = to_date(ts) prunes from a filter on ts alone — the derived
    filter opens exactly the files the explicit one would."""
    import datetime as dt

    t = str(tmp_path / "t")
    rows = [
        (i, dt.datetime(2024, 1, 1 + (i % 3), 8 + (i % 12)))
        for i in range(120)
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "k long, ts timestamp").withColumn(
        "day", F.to_date("ts")
    )
    txlog.tx_append(df, t, partition_by=["day"])
    txlog.tx_set_generated(spark, t, "day", "to_date(ts)")
    probe = dt.datetime(2024, 1, 2, 9)
    pf = txlog.tx_derive_partition_filter(spark, t, {"ts": [probe]})
    assert pf == {"day": [dt.date(2024, 1, 2)]}
    _, files = txlog.snapshot_files(t)
    kept = txlog.prune_partition_files(t, files, pf)
    assert 0 < len(kept) < len(files), (len(kept), len(files))
    got = txlog.read_snapshot(spark, t, partition_filter=pf)
    assert got.filter("ts = timestamp'2024-01-02 09:00:00'").count() == (
        df.filter("ts = timestamp'2024-01-02 09:00:00'").count()
    )
    # multiple literals derive a value SET; direct partition columns
    # pass through untouched
    pf2 = txlog.tx_derive_partition_filter(
        spark, t,
        {"ts": [probe, dt.datetime(2024, 1, 3, 10)], "day": dt.date(2024, 1, 1)},
    )
    assert set(pf2["day"]) >= {dt.date(2024, 1, 1)}
    # underivable: filter pins nothing the expression references
    with pytest.raises(ValueError, match="derivable"):
        txlog.tx_derive_partition_filter(spark, t, {"k": 5})


def test_fsck_commits_are_unreplayable_in_change_feeds(spark, tmp_path):
    """An FSCK repair's rows were lost externally — both change-feed
    faces refuse the range loudly instead of crashing on a missing
    file or silently skipping the loss."""
    t = str(tmp_path / "t")
    txlog.tx_append(_df(spark, [(1, "a")]).coalesce(1), t)
    txlog.tx_append(_df(spark, [(2, "b")]).coalesce(1), t)
    victim = txlog.snapshot_files(t)[1][0]
    os.remove(os.path.join(t, victim))
    missing = txlog.tx_fsck(t)
    assert missing == [victim]
    v = txlog.log_versions(t)[-1]
    with pytest.raises(ValueError, match="FSCK repair"):
        txlog.tx_changes(spark, t, v - 1, v).collect()
    from parallel_dbms_spark.sources.txlog_ds import (
        _plan_change_partitions,
    )

    with pytest.raises(ValueError, match="FSCK repair"):
        _plan_change_partitions(t, v - 1, v, ("k", "v"))
    # reads serve the survivors
    assert {r.k for r in txlog.read_snapshot(spark, t).collect()} == {2} or (
        {r.k for r in txlog.read_snapshot(spark, t).collect()} == {1}
    )


def test_copy_into_force_and_clone_carry_history(spark, tmp_path):
    """FORCE re-loads regardless of history (the explicit double-load
    escape hatch), and a CLONE carries the COPY INTO history so copies
    on the clone never re-ingest what the source already loaded."""
    src = str(tmp_path / "landing")
    t = str(tmp_path / "t")
    spark.range(5).selectExpr("id AS k").coalesce(1).write.parquet(src)
    txlog.tx_copy_into(spark, t, src)
    assert txlog.read_snapshot(spark, t).count() == 5
    _, n = txlog.tx_copy_into(spark, t, src, force=True)
    assert n == 1 and txlog.read_snapshot(spark, t).count() == 10
    c = str(tmp_path / "c")
    txlog.tx_clone(t, c)
    assert txlog.copy_into_sources(c) == txlog.copy_into_sources(t)
    _, n2 = txlog.tx_copy_into(spark, c, src)
    assert n2 == 0, "clone must not re-load the source's history"
    assert txlog.read_snapshot(spark, c).count() == 10


def test_copy_into_stats_survive_conflict_retry(spark, tmp_path, monkeypatch):
    """A COPY INTO that loses its first commit race must still land
    the caller's requested footer stats: stats_cols is consumed ONCE
    before the retry loop, not popped per attempt (where attempt 2+
    would silently plan with None and degrade skipping)."""
    src = str(tmp_path / "landing")
    t = str(tmp_path / "t")
    spark.range(10).selectExpr("id AS k", "'a' AS v").coalesce(1) \
        .write.parquet(src)
    orig = txlog.commit
    state = {"fired": False}

    def wrapped(table, action, *a, **kw):
        if action == "copy_into" and not state["fired"]:
            state["fired"] = True
            raise txlog.TxConflict("injected first-attempt race")
        return orig(table, action, *a, **kw)

    monkeypatch.setattr(txlog, "commit", wrapped)
    v, n = txlog.tx_copy_into(spark, t, src, stats_cols=["k"])
    assert state["fired"] and n == 1
    rec = txlog.read_commit(t, v)
    assert rec["added"] and rec.get("stats"), (
        "retry attempt dropped the caller's stats_cols"
    )
    for f in rec["added"]:
        assert "k" in rec["stats"][f]["c"], (
            "committed files lack the requested skipping stats"
        )


def test_replace_where_conflicts_with_interleaved_matching_append(
    spark, tmp_path, monkeypatch
):
    """An append landing between replaceWhere's predicate scan and its
    commit CONFLICTS (Delta's ConcurrentAppendException): the retry
    re-scans and sweeps the racer's matching rows into the swap, so
    the replaced range never double-counts old racer rows against the
    replacement."""
    t = str(tmp_path / "t")
    df = spark.range(30).selectExpr("id AS k", "id % 3 AS p", "'old' AS v")
    txlog.tx_append(df.repartition(3), t, partition_by=["p"])
    racer = spark.createDataFrame(
        [(777, 1, "racer")], "k long, p long, v string"
    )
    orig = txlog.commit
    state = {"fired": False, "rw_attempts": 0}

    def wrapped(table, action, *a, **kw):
        if action == "replace_where":
            state["rw_attempts"] += 1
            if not state["fired"]:
                state["fired"] = True
                txlog.tx_append(racer, t)  # lands inside our window
        return orig(table, action, *a, **kw)

    monkeypatch.setattr(txlog, "commit", wrapped)
    repl = spark.createDataFrame(
        [(1000, 1, "new")], "k long, p long, v string"
    )
    txlog.tx_replace_where(spark, t, repl, "p = 1")
    assert state["rw_attempts"] >= 2, (
        "the matching interleaved append must force a re-scan"
    )
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, t).collect()}
    assert (777, "racer") not in got, (
        "racer's matching row survived the replace — double count"
    )
    assert (1000, "new") in got
    assert {(i, "old") for i in range(30) if i % 3 != 1} <= got


def test_replace_where_commutes_with_partition_disjoint_append(
    spark, tmp_path, monkeypatch
):
    """The read-set conflict EXEMPTS provably partition-disjoint adds:
    a day-partition backfill must not conflict with the firehose
    appending other partitions — the racer's rows commute and both
    commits land, first try."""
    t = str(tmp_path / "t")
    # nullability-identical to the racer frame: a createDataFrame base,
    # so the only possible conflict between the writers is the
    # read-set one under test (not nullability schema widening)
    df = spark.createDataFrame(
        [(i, i % 3, "old") for i in range(30)], "k long, p long, v string"
    )
    txlog.tx_append(df.repartition(3), t, partition_by=["p"])
    racer = spark.createDataFrame(
        [(888, 2, "racer")], "k long, p long, v string"
    )
    orig = txlog.commit
    state = {"fired": False, "rw_attempts": 0}

    def wrapped(table, action, *a, **kw):
        if action == "replace_where":
            state["rw_attempts"] += 1
            if not state["fired"]:
                state["fired"] = True
                txlog.tx_append(racer, t, partition_by=["p"])
        return orig(table, action, *a, **kw)

    monkeypatch.setattr(txlog, "commit", wrapped)
    repl = spark.createDataFrame(
        [(1000, 1, "new")], "k long, p long, v string"
    )
    txlog.tx_replace_where(spark, t, repl, "p = 1")
    assert state["rw_attempts"] == 1, (
        "a provably-disjoint append must NOT conflict with the backfill"
    )
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, t).collect()}
    assert (888, "racer") in got and (1000, "new") in got


def test_overwrite_sweeps_interleaved_append(spark, tmp_path, monkeypatch):
    """INSERT OVERWRITE reads the WHOLE live set: an append landing
    inside its window conflicts, and the retry re-lists files so the
    racer's rows are swept — 'replace every row' means every row."""
    t = str(tmp_path / "t")
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]), t)
    orig = txlog.commit
    state = {"fired": False, "ow_attempts": 0}

    def wrapped(table, action, *a, **kw):
        if action == "overwrite":
            state["ow_attempts"] += 1
            if not state["fired"]:
                state["fired"] = True
                txlog.tx_append(_df(spark, [(999, "racer")]), t)
        return orig(table, action, *a, **kw)

    monkeypatch.setattr(txlog, "commit", wrapped)
    txlog.tx_overwrite(spark, t, _df(spark, [(10, "new")]))
    assert state["ow_attempts"] >= 2
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, t).collect()}
    assert got == {(10, "new")}, (
        "overwrite left interleaved rows alive: not a whole-snapshot flip"
    )


def test_replace_where_identity_replan_after_racing_generator(
    spark, tmp_path, monkeypatch
):
    """replaceWhere re-plans the append laws on every retry attempt:
    a racing identity-assigning append advances the watermark mid-
    window; generator-vs-generator conflicts, and the retry re-reads
    the FRESH watermark — no duplicate ids, no watermark rollback."""
    t = str(tmp_path / "t")
    df = spark.range(12).selectExpr(
        "id % 2 AS p", "concat('r', id) AS v"
    )
    txlog.tx_append(df.repartition(2), t, partition_by=["p"])
    txlog.tx_add_column(t, "rid", "bigint")
    txlog.tx_set_identity(spark, t, "rid", always=True)
    racer = spark.createDataFrame([(0, "racer")], "p long, v string")
    orig = txlog.commit
    state = {"fired": False}

    def wrapped(table, action, *a, **kw):
        if action == "replace_where" and not state["fired"]:
            state["fired"] = True
            txlog.tx_append(racer, t, partition_by=["p"])
        return orig(table, action, *a, **kw)

    monkeypatch.setattr(txlog, "commit", wrapped)
    repl = spark.createDataFrame(
        [(1, "n1"), (1, "n2")], "p long, v string"
    )
    txlog.tx_replace_where(spark, t, repl, "p = 1")
    rows = txlog.read_snapshot(spark, t).collect()
    # pre-ALTER rows serve NULL for the added column; every row the
    # two racing generators wrote carries an assigned id
    rids = [r.rid for r in rows if r.rid is not None]
    assert len(rids) == 3
    assert len(rids) == len(set(rids)), (
        "stale identity watermark duplicated a racing generator's ids"
    )
    wm = txlog.identity_watermark(t)
    assert wm["rid"] >= max(rids), (
        "commit rolled the racing generator's watermark back"
    )


def test_replace_where_threaded_appends_serialize(spark, tmp_path):
    """REAL concurrency: an appender thread keeps landing rows INSIDE
    the replaced partition while replaceWhere runs. The read-set
    conflict must serialize them — any racer row that survives the
    swap was committed AFTER the replace (it logically post-dates the
    backfill); any row committed before it must be gone."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, i % 2, "old") for i in range(20)], "k long, p long, v string"
    )
    txlog.tx_append(base.repartition(2), t, partition_by=["p"])
    seq_version: dict[int, int] = {}
    done = threading.Event()

    def appender():
        # throttled racer: an append per ~0.7 s, not a tight loop — a
        # continuous hostile appender livelocks the backfill by
        # winning every retry window (Delta's equivalent surfaces
        # ConcurrentAppendException to the caller the same way)
        import time as _time

        seq = 1000
        while not done.is_set():
            v = txlog.tx_append(
                spark.createDataFrame(
                    [(seq, 1, "racer")], "k long, p long, v string"
                ),
                t,
            )
            seq_version[seq] = v
            seq += 1
            _time.sleep(0.7)

    th = threading.Thread(target=appender)
    th.start()
    try:
        repl = spark.createDataFrame(
            [(1, 1, "new"), (3, 1, "new")], "k long, p long, v string"
        )
        v_replace, _ = txlog.tx_replace_where(spark, t, repl, "p = 1")
    finally:
        done.set()
        th.join()
    rows = txlog.read_snapshot(spark, t).collect()
    p1 = {(r.k, r.v) for r in rows if r.p == 1}
    survivors = {k for k, v in p1 if v == "racer"}
    replaced = {k for k, v in p1 if v == "new"}
    assert replaced == {1, 3}
    # serializability: surviving racer rows committed AFTER the
    # replace; pre-replace racer rows were swept by the re-scan
    for k in survivors:
        assert seq_version[k] > v_replace, (
            f"racer k={k} committed at v{seq_version[k]} <= "
            f"replace v{v_replace} but survived — double count"
        )
    for k, v in seq_version.items():
        if v < v_replace:
            assert k not in survivors
    # the untouched partition is byte-identical
    p0 = {(r.k, r.v) for r in rows if r.p == 0}
    assert p0 == {(i, "old") for i in range(20) if i % 2 == 0}


def test_maintenance_threaded_against_writers(spark, tmp_path):
    """REAL concurrency for the maintenance verbs: while an appender
    and a MOR-deleter keep mutating the table, interleaved
    REORG PURGE and ANALYZE passes must (a) never lose or duplicate a
    row, (b) never resurrect a vectored delete, and (c) leave the
    final table purgeable to zero vectors and fully stats-backfilled
    — maintenance is invisible to readers under churn."""
    import time as _time

    t = str(tmp_path / "t")
    txlog.tx_append(
        spark.createDataFrame(
            [(i, "base") for i in range(10)], "k long, v string"
        ).coalesce(1), t,
    )
    done = threading.Event()
    appended: list[int] = []
    deleted: list[int] = []

    def mutator():
        seq = 1000
        while not done.is_set():
            txlog.tx_append(
                spark.createDataFrame(
                    [(seq, "new"), (seq + 1, "new")], "k long, v string"
                ).coalesce(1), t,
            )
            appended.extend([seq, seq + 1])
            # vector one of the freshly landed keys half the time
            if seq % 4 == 0:
                txlog.tx_delete_where_mor(spark, t, f"k = {seq}")
                deleted.append(seq)
            seq += 2
            _time.sleep(0.5)

    th = threading.Thread(target=mutator)
    th.start()
    try:
        for _ in range(3):
            txlog.tx_reorg_purge(spark, t)
            txlog.tx_analyze(t, ["k"])
            _time.sleep(0.4)
    finally:
        done.set()
        th.join()
    # quiesced: one final purge drains whatever vectors remain
    txlog.tx_reorg_purge(spark, t)
    assert txlog.snapshot_dvs(t) == {}
    got = {r.k for r in txlog.read_snapshot(spark, t).collect()}
    want = (set(range(10)) | set(appended)) - set(deleted)
    assert got == want, (
        sorted(got.symmetric_difference(want))[:8],
        "maintenance under churn lost/resurrected rows",
    )
    # final analyze converges and every live file skips on k
    txlog.tx_analyze(t, ["k"])
    st = txlog.snapshot_stats(t)
    _, live = txlog.snapshot_files(t)
    assert all("k" in st.get(f, {}).get("c", {}) for f in live)


def test_stream_tx_merge_clauses_exactly_once(spark, tmp_path):
    """Streaming CLAUSE merge (the CDC-apply shape): an op column
    drives conditional DELETE / column UPDATE / conditional INSERT per
    micro-batch, exactly-once — a replayed feed with a fresh
    checkpoint is skipped by the txn ledger."""
    from parallel_dbms_spark.streaming.sinks import stream_tx_merge

    table = str(tmp_path / "t")
    src = str(tmp_path / "src")
    txlog.tx_append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "k long, v string, amt long",
        ),
        table,
    )
    spark.createDataFrame(
        [(2, "B", 5, "upd"), (3, None, 0, "del"), (9, "i", 90, "ins"),
         (10, "x", 0, "noise")],
        "k long, v string, amt long, op string",
    ).coalesce(1).write.parquet(src)

    clauses = dict(
        matched=[
            {"cond": "s.op = 'del'", "action": "delete"},
            {"cond": "s.op = 'upd'", "action": "update",
             "set": {"v": "upper(s.v)", "amt": "t.amt + s.amt"}},
        ],
        not_matched=[{"cond": "s.op = 'ins'", "values": {
            "k": "s.k", "v": "s.v", "amt": "s.amt"}}],
    )
    stream = spark.readStream.schema(
        "k long, v string, amt long, op string"
    ).parquet(src)
    stream_tx_merge(stream, table, str(tmp_path / "ck1"), keys=["k"],
                    app="cdc", **clauses)
    rows = {r.k: (r.v, r.amt)
            for r in txlog.read_snapshot(spark, table).collect()}
    assert rows == {1: ("a", 10), 2: ("B", 25), 9: ("i", 90)}, rows
    n = len(txlog.log_versions(table))
    # fresh-checkpoint replay: the ledger skips the batch entirely
    stream2 = spark.readStream.schema(
        "k long, v string, amt long, op string"
    ).parquet(src)
    stream_tx_merge(stream2, table, str(tmp_path / "ck2"), keys=["k"],
                    app="cdc", **clauses)
    assert len(txlog.log_versions(table)) == n
    assert {r.k: (r.v, r.amt)
            for r in txlog.read_snapshot(spark, table).collect()} == rows


def test_analyze_backfills_skipping_stats_from_footers(spark, table):
    """ANALYZE: files appended WITHOUT stats_cols become skippable
    after a footer-only backfill; re-running is a no-commit no-op."""
    txlog.tx_append(
        spark.createDataFrame([(i, float(i)) for i in range(10)],
                              "k long, x double").coalesce(1), table,
    )
    txlog.tx_append(
        spark.createDataFrame([(i, float(i)) for i in range(100, 110)],
                              "k long, x double").coalesce(1), table,
    )
    _, nread, ntotal = txlog.tx_read_skipping(spark, table, "k",
                                              lo=0, hi=5)
    assert nread == ntotal == 2, "fixture: no stats -> no skipping"
    v, n = txlog.tx_analyze(table, ["k"])
    assert n == 2
    df, nread, ntotal = txlog.tx_read_skipping(spark, table, "k",
                                               lo=0, hi=5)
    assert (nread, ntotal) == (1, 2)
    assert {r.k for r in df.collect()} == {0, 1, 2, 3, 4, 5}
    # converged: nothing left to backfill, no new version
    assert txlog.tx_analyze(table, ["k"]) == (v, 0)
    # FOR ALL COLUMNS (cols=None) backfills the rest, MERGING with the
    # k-stats already recorded — k must stay skippable afterwards
    v2, n2 = txlog.tx_analyze(table)
    assert v2 == v + 1 and n2 == 2
    stats = txlog.snapshot_stats(table)
    for s in stats.values():
        assert {"k", "x"} <= set(s["c"])
    _, nread, _ = txlog.tx_read_skipping(spark, table, "k", lo=0, hi=5)
    assert nread == 1


def test_analyze_leaves_statted_files_alone(spark, table):
    txlog.tx_append(
        spark.createDataFrame([(1, "a")], "k long, v string"), table,
        stats_cols=["k"],
    )
    before = txlog.snapshot_stats(table)
    txlog.tx_append(
        spark.createDataFrame([(2, "b")], "k long, v string"), table,
    )
    v, n = txlog.tx_analyze(table, ["k"])
    assert n == 1  # only the stat-less file
    after = txlog.snapshot_stats(table)
    for f, s in before.items():
        assert after[f] == s, "already-statted file must be untouched"


def test_analyze_translates_logical_names_under_mapping(spark, table):
    """ANALYZE after a RENAME COLUMN: the caller passes the LOGICAL
    name; the recorded stats keys are physical, and the skipping read
    (also logical) still prunes."""
    txlog.tx_append(
        spark.createDataFrame([(i, i * 2) for i in range(10)],
                              "k long, w long").coalesce(1), table,
    )
    txlog.tx_rename_column(spark, table, "w", "weight")
    v, n = txlog.tx_analyze(table, ["weight"])
    assert n == 1
    st = txlog.snapshot_stats(table)
    assert all("weight" in s["c"] for s in st.values())
    txlog.tx_append(
        spark.createDataFrame([(100, 999)], "k long, weight long")
        .coalesce(1), table,
    )
    # probe a range DISJOINT from the analyzed file's [0, 18]: that
    # file prunes on its backfilled stats; the stat-less fresh file is
    # conservatively read (no stats -> must scan)
    df, nread, ntotal = txlog.tx_read_skipping(
        spark, table, "weight", lo=100, hi=2000
    )
    assert (nread, ntotal) == (1, 2)
    assert {r.weight for r in df.collect()} == {999}


# ---------------------------------- r14: folded distinct sidecar build


def test_folded_bitmap_layout_matches_jvm_aggregate(spark, table):
    """The staging-job fold builds bitmaps in numpy; they must be
    BYTE-IDENTICAL to bitmap_construct_agg's so sidecars from either
    builder OR-merge exactly (signed ids, bucket boundaries, nulls)."""
    from pyspark.sql import functions as F

    ids = [1, 2, 7, 32767, 32768, 32769, 65536, 0, -1, -32767, -32768,
           -32769, 10**12, -(10**12), -(2**63), None]
    rows = [(i, "x") for i in ids]
    v = txlog.tx_append(
        _df(spark, rows).coalesce(1), table, distinct_cols=["k"]
    )
    assert v == 1
    dmap = txlog.snapshot_distinct_map(table)["k"]
    assert len(dmap) == 1  # one staged file, covered by the fold
    side = spark.read.parquet(
        os.path.join(table, next(iter(dmap.values())))
    )
    folded = {
        r["__bm_bucket"]: bytes(r["__bm_bits"]) for r in side.collect()
    }
    jvm = {
        r["b"]: bytes(r["bits"])
        for r in (
            _df(spark, rows)
            .filter(F.col("k").isNotNull())
            .select(
                F.bitmap_bucket_number("k").alias("b"),
                F.bitmap_bit_position("k").alias("p"),
            )
            .groupBy("b")
            .agg(F.bitmap_construct_agg("p").alias("bits"))
            .collect()
        )
    }
    assert folded == jvm


def test_folded_append_payload_types_match_classic(spark, tmp_path):
    """The fold writes data files with pyarrow, the classic path with
    Spark: timestamp, decimal and nested payloads must read back
    identically and record the same footer min/max. Whole-second
    timestamps are the sharp edge: a UTC-adjusted footer decodes
    zoned, and a ``+00:00`` suffix would sort a bound equal to a
    file's min below it and skip the file."""
    import datetime
    import decimal

    schema = (
        "id long, ts timestamp, amt decimal(12,2), "
        "st struct<a:int,b:string>, arr array<long>, mp map<string,int>"
    )
    rows = [
        (
            i,
            datetime.datetime(2024, 1, 1)
            + datetime.timedelta(hours=7 * i, microseconds=i),
            decimal.Decimal(i * 3) / 4,
            (i, f"s{i}"),
            [i, i + 1],
            {"k": i},
        )
        for i in range(24)
    ] + [(None,) * 6]
    stats_cols = ["id", "ts", "amt"]
    fold, classic = str(tmp_path / "fold"), str(tmp_path / "classic")
    txlog.tx_append(
        spark.createDataFrame(rows, schema).coalesce(2), fold,
        distinct_cols=["id"], stats_cols=stats_cols,
    )
    assert txlog.snapshot_distinct_map(fold)["id"]  # took the fold path
    # Spark writes UTC-adjusted INT64 timestamps only when asked; its
    # default INT96 footers carry statistics pyarrow cannot decode
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        txlog.tx_append(
            spark.createDataFrame(rows, schema).coalesce(2), classic,
            stats_cols=stats_cols,
        )
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")

    def _key(r):
        return (r.id is None, r.id)

    assert sorted(txlog.read_snapshot(spark, fold).collect(), key=_key) == (
        sorted(txlog.read_snapshot(spark, classic).collect(), key=_key)
    )

    def _ranges(t):
        return sorted(
            tuple(sorted((c, tuple(v)) for c, v in e["c"].items()))
            for e in txlog.snapshot_stats(t).values()
        )

    assert _ranges(fold) == _ranges(classic)
    assert all(
        set(e["c"]) == {"id", "ts"}  # decimal stats are never recorded
        for e in txlog.snapshot_stats(fold).values()
    )
    for t in (fold, classic):
        df, _, _ = txlog.tx_read_skipping(
            spark, t, "ts", hi=datetime.datetime(2024, 1, 1)
        )
        assert [r.id for r in df.collect()] == [0]
    df, _, _ = txlog.tx_instant_distinct(spark, fold, "id")
    assert df.collect()[0].n_distinct == 24
    # the INT96 default records no timestamp stats instead of failing
    int96 = str(tmp_path / "int96")
    txlog.tx_append(
        spark.createDataFrame(rows, schema).coalesce(1), int96,
        stats_cols=stats_cols,
    )
    assert [set(e["c"]) for e in txlog.snapshot_stats(int96).values()] == [
        {"id"}
    ]


def test_folded_and_jvm_sidecars_merge_exactly(spark, table):
    """instant-distinct over a table whose sidecars came from BOTH
    builders (fold on append 1, classic JVM backfill covering append
    2) answers the exact count from metadata alone."""
    txlog.tx_append(
        _df(spark, [(i % 9 - 4, "a") for i in range(40)]).coalesce(2),
        table, distinct_cols=["k"],
    )
    txlog.tx_append(
        _df(spark, [(i % 13 - 6, "b") for i in range(40)]).coalesce(2),
        table,
    )
    txlog.tx_distinct(spark, table, ["k"])  # JVM builder, full set
    df, n_scanned, n_total = txlog.tx_instant_distinct(spark, table, "k")
    assert n_scanned == 0 and n_total >= 2
    assert df.collect()[0].n_distinct == 13  # -6..6 superset of -4..4


def test_folded_append_multifile_covers_every_file(spark, table):
    """A multi-partition folded append records one bitmap set per
    staged file and the count stays exact per file subset."""
    txlog.tx_append(
        _df(spark, [(i, "a") for i in range(100)]).repartition(4),
        table, distinct_cols=["k"],
    )
    _v, files = txlog.snapshot_files(table)
    dmap = txlog.snapshot_distinct_map(table)["k"]
    assert set(files) == set(dmap)  # every staged file covered
    df, n_scanned, _ = txlog.tx_instant_distinct(spark, table, "k")
    assert n_scanned == 0 and df.collect()[0].n_distinct == 100


def test_folded_append_on_column_mapped_table(spark, table):
    """The fold stages PHYSICAL names: after a rename (which activates
    column mapping and mints a fresh physical name), a distinct_cols
    append on the renamed LOGICAL column still folds correctly and
    instant-distinct answers from metadata."""
    txlog.tx_append(_df(spark, [(i, "a") for i in range(6)]).coalesce(1),
                    table)
    txlog.tx_rename_column(spark, table, "k", "uid")
    txlog.tx_append(
        spark.createDataFrame([(i, "b") for i in range(4, 12)],
                              "uid long, v string").coalesce(1),
        table, distinct_cols=["uid"],
    )
    txlog.tx_distinct(spark, table, ["uid"])  # backfill covers file 1
    df, n_scanned, _ = txlog.tx_instant_distinct(spark, table, "uid")
    assert n_scanned == 0 and df.collect()[0].n_distinct == 12


def test_partitioned_append_with_distinct_keeps_classic_path(spark, table):
    """partition_by + distinct_cols must fall back to the classic
    two-job sidecar build (value-pure staging can't ride the fold) —
    and stay exact."""
    txlog.tx_append(
        spark.createDataFrame(
            [(i, "ab"[i % 2], i % 5) for i in range(30)],
            "k long, p string, g long",
        ).repartition(2),
        table, partition_by=["p"], distinct_cols=["g"],
    )
    dmap = txlog.snapshot_distinct_map(table).get("g", {})
    _v, files = txlog.snapshot_files(table)
    assert set(files) == set(dmap)
    df, n_scanned, _ = txlog.tx_instant_distinct(spark, table, "g")
    assert n_scanned == 0 and df.collect()[0].n_distinct == 5


def test_folded_append_int32_ids(spark, table):
    """Integral-but-not-long id column folds (astype int64 path)."""
    txlog.tx_append(
        spark.createDataFrame(
            [(i, i % 7 - 3) for i in range(40)], "k long, g int"
        ).coalesce(2),
        table, distinct_cols=["g"],
    )
    df, n_scanned, _ = txlog.tx_instant_distinct(spark, table, "g")
    assert n_scanned == 0 and df.collect()[0].n_distinct == 7


@pytest.mark.parametrize(
    "typ, keys",
    [
        ("long", [0, -1, 7, 2**40 + 3, -(2**62), 2**63 - 1, -(2**63)]),
        ("int", [0, -1, 7, 2**31 - 1, -(2**31), 123456]),
        ("string", ["", "a", "é", "key 7", "x" * 40, "%20", "日本語",
                    "🙂x", "a\x00b"]),
        ("date", [dt.date(1970, 1, 1), dt.date(1969, 12, 31),
                  dt.date(2024, 2, 29), dt.date(1000, 1, 1),
                  dt.date(9999, 12, 31), dt.date(2000, 1, 1),
                  dt.date(1, 1, 1), dt.date(1582, 10, 4),
                  dt.date(1582, 10, 15)]),
        ("timestamp", [dt.datetime(1970, 1, 1),
                       dt.datetime(2024, 2, 29, 23, 59, 59, 999999),
                       dt.datetime(1969, 12, 31, 23, 59, 59),
                       dt.datetime(2000, 1, 1, 0, 0, 0, 1),
                       dt.datetime(2038, 1, 19, 3, 14, 8),
                       dt.datetime(1900, 6, 1, 12)]),
        ("double", [0.0, -0.5, 1.5, 1e300, -1e-300, 123456.789]),
        ("decimal(10,2)", [Decimal("0.00"), Decimal("-0.01"),
                           Decimal("12.34"), Decimal("99999999.99"),
                           Decimal("-99999999.99"), Decimal("5.50")]),
        ("smallint", [0, -1, 7, 2**15 - 1, -(2**15), 1234]),
        ("tinyint", [0, -1, 7, 127, -128, 42]),
    ],
)
def test_bloom_probe_bits_match_build_hashes(spark, table, typ, keys):
    """Every key of a Bloom-covered table is found through the Bloom
    prune (a false negative would mean the probe hashes differ from
    the build hashes), the probe bits of every config, a
    non-power-of-two one included, equal Spark's own
    ``pmod(xxhash64(k, i), n_bits)`` over the stored column, and the
    probe itself starts no Spark job. The probe is asked with the
    column's ``simpleString`` type, as the lookups ask it, so the
    integral cases take the direct XXH64 path."""
    from pyspark.sql import functions as F

    from parallel_dbms_spark.sources import lake

    df = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], f"k {typ}, i int"
    ).repartition(3)
    typ = df.schema["k"].dataType.simpleString()
    txlog.tx_append(df, table, bloom_cols=["k"])
    for i, k in enumerate(keys):
        got, nread, ntotal = txlog.tx_point_lookup(spark, table, "k", k)
        assert [r.i for r in got.collect()] == [i], (typ, k)
        assert nread <= ntotal
    cfgs = [(1000, 7), (4096, 5)]
    want = {
        r.i: {
            cfg: [r[f"b{cfg[0]}_{h}"] for h in range(cfg[1])] for cfg in cfgs
        }
        for r in df.select(
            "i",
            *[
                F.pmod(F.xxhash64("k", F.lit(h)), F.lit(nb)).alias(
                    f"b{nb}_{h}"
                )
                for nb, nh in cfgs
                for h in range(nh)
            ],
        ).collect()
    }
    for i, k in enumerate(keys):
        assert lake.bloom_probe_bits(spark, k, typ, cfgs) == want[i], (typ, k)
    bits, jobs = jobs_run(
        spark,
        lambda: lake.bloom_probe_bits(
            spark, keys[2], typ, [(4096, 5), (8192, 3)]
        ),
    )
    assert jobs == 0
    assert sorted(bits) == [(4096, 5), (8192, 3)]
    assert [len(b) for b in bits.values()] == [5, 3]
    assert all(0 <= b < nb for (nb, _), bs in bits.items() for b in bs)


@pytest.mark.parametrize(
    "value, typ, n_sql",
    [
        (7, "bigint", 0),
        (-(2**63), "bigint", 0),
        (-128, "tinyint", 0),
        ("日本語", "string", 1),
        (dt.date(1582, 10, 4), "date", 1),
        (None, "bigint", 1),
        (True, "bigint", 1),
        (7.0, "bigint", 1),
        ("7", "bigint", 1),
        (2**31, "int", 1),
        (np.int64(7), "bigint", 1),
        (dt.datetime(2024, 2, 29, 23, 59), "date", 1),
    ],
)
def test_bloom_probe_fallback_matches_projection(
    spark, monkeypatch, value, typ, n_sql
):
    """``bloom_probe`` returns the bits and key of Spark's own
    ``pmod(xxhash64(CAST(value AS typ), i), n_bits)`` projection for
    every value. Only a plain ``int`` in range of an integral column
    takes the direct XXH64 path, which builds no query (``spark.sql``
    is not called); None, bools, floats, strings, out-of-range ints,
    numpy scalars, dates and datetimes go through the one-row
    projection, exactly once."""
    from pyspark.sql import functions as F

    from parallel_dbms_spark.sources import lake

    cfgs = [(1000, 7), (4096, 5)]
    ref = spark.range(1).select(
        lake.exact_lit(value).cast(typ).alias("v")
    ).select(
        "v",
        *[
            F.pmod(F.xxhash64("v", F.lit(h)), F.lit(nb)).alias(f"b{nb}_{h}")
            for nb, nh in cfgs
            for h in range(nh)
        ],
    )
    calls = []
    sql = spark.sql

    def counting_sql(*args, **kwargs):
        calls.append(args)
        return sql(*args, **kwargs)

    monkeypatch.setattr(spark, "sql", counting_sql)
    try:
        row = ref.collect()[0]
    except Exception as e:  # ANSI cast overflow: the probe raises too
        with pytest.raises(type(e)):
            lake.bloom_probe(spark, value, typ, cfgs, with_key=True)
        assert len(calls) == n_sql
        return
    bits, key = lake.bloom_probe(spark, value, typ, cfgs, with_key=True)
    assert bits == {
        (nb, nh): [row[f"b{nb}_{h}"] for h in range(nh)] for nb, nh in cfgs
    }
    assert key == row.v and type(key) is type(row.v)
    assert len(calls) == n_sql


def test_dv_point_lookup_starts_no_python_worker_job(spark, table):
    """A point lookup on a table with a deletion vector runs the
    broadcast of the exclusion rows and the scan, no more: the
    exclusion rows are not a Python RDD, and the Bloom probe bits need
    no job. A lookup whose key every Bloom filter rejects runs none."""
    txlog.tx_append(_ranged(spark, 0, 3000, parts=2), table,
                    bloom_cols=["k"])
    txlog.tx_delete_where_mor(spark, table, "k in (100, 2900)")

    def lookup():
        df, _, _ = txlog.tx_point_lookup(spark, table, "k", 101)
        return df.collect()

    rows, jobs = jobs_run(spark, lookup)
    assert [(r.k, r.v) for r in rows] == [(101, 202)]
    assert jobs <= 2
    gone, _, _ = txlog.tx_point_lookup(spark, table, "k", 100)
    assert gone.count() == 0

    def miss():
        df, nread, _ = txlog.tx_point_lookup(spark, table, "k", 10**9)
        return nread, df.collect()

    (nread, rows), jobs = jobs_run(spark, miss)
    assert (nread, rows, jobs) == (0, [], 0)


def test_point_lookup_decodes_each_bloom_sidecar_once(
    spark, table, monkeypatch
):
    """A lookup on an unchanged snapshot reads no Bloom sidecar file:
    each sidecar is decoded once and cached under its stat. After one
    more append, a lookup decodes only the new commit's sidecar, and
    the answers are unchanged."""
    import pyarrow.parquet as pq

    sidecar_reads = []
    read_table = pq.read_table

    def counting(source, *args, **kwargs):
        if txlog.SIDECARS in str(source):
            sidecar_reads.append(str(source))
        return read_table(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", counting)
    txlog.tx_append(_ranged(spark, 0, 3000, parts=2), table,
                    bloom_cols=["k"])

    def lookup(k):
        df, _, _ = txlog.tx_point_lookup(spark, table, "k", k)
        return [(r.k, r.v) for r in df.collect()]

    assert lookup(101) == [(101, 202)]
    assert len(sidecar_reads) == 1
    sidecar_reads.clear()
    assert lookup(101) == [(101, 202)]
    assert lookup(10**9) == []
    assert sidecar_reads == []
    old = set(txlog.snapshot_bloom_map(table)["k"].values())
    txlog.tx_append(_ranged(spark, 3000, 4000, parts=1), table,
                    bloom_cols=["k"])
    new = set(txlog.snapshot_bloom_map(table)["k"].values()) - old
    assert lookup(101) == [(101, 202)]
    assert lookup(3500) == [(3500, 7000)]
    assert sidecar_reads == [os.path.join(table, sc) for sc in new]


def test_sidecar_reads_start_no_inference_job(spark, table, tmp_path):
    """Reading Bloom and distinct sidecars and the files they do not
    cover starts no schema-inference job: the build call of
    ``tx_instant_distinct`` on a table with sidecars and a deletion
    vector starts none, and ``lake.read_point_lookup`` starts only its
    data-schema read."""
    from parallel_dbms_spark.sources import lake

    txlog.tx_append(_ranged(spark, 0, 3000, parts=2), table,
                    distinct_cols=["k"])
    txlog.tx_append(_ranged(spark, 3000, 4000, parts=1), table,
                    distinct_cols=["k"])
    txlog.tx_delete_where_mor(spark, table, "k in (100, 3900)")
    (df, n_scanned, n_total), jobs = jobs_run(
        spark, lambda: txlog.tx_instant_distinct(spark, table, "k")
    )
    assert jobs == 0
    assert (n_scanned, n_total) == (2, 3)
    assert df.collect()[0].n_distinct == 3998

    t = str(tmp_path / "plain")
    spark.range(0, 3000).repartition(4).write.parquet(t)
    lake.write_bloom_manifest(spark, t, "id")
    (got, n_read, n_total), jobs = jobs_run(
        spark, lambda: lake.read_point_lookup(spark, t, "id", 1234)
    )
    assert jobs <= 1
    assert [r.id for r in got.collect()] == [1234]
    assert 1 <= n_read < n_total == 4


def test_dv_reads_on_escaped_table_path(spark, tmp_path):
    """Deletion vectors match their rows when the table path holds a
    space, a ``%``, a ``+`` and a non-ASCII character: the scan's
    ``_metadata.file_path`` is a %-escaped URI, decoded back to the
    relative paths the exclusion rows carry (a ``+`` decoded as a
    space resurrected the deleted rows)."""
    table = str(tmp_path / "t a+%20b é")
    txlog.tx_append(
        _df(spark, [(i, f"r{i}") for i in range(10)]).coalesce(1), table,
        stats_cols=["k"],
    )
    txlog.tx_append(
        _df(spark, [(i, f"r{i}") for i in range(10, 20)]).coalesce(1),
        table, stats_cols=["k"],
    )
    v, n = txlog.tx_delete_where_mor(spark, table, "k in (3, 12, 13)")
    assert n == 3
    live = set(range(20)) - {3, 12, 13}
    assert {r.k for r in txlog.read_snapshot(spark, table).collect()} == live
    df, nread, ntotal = txlog.tx_read_skipping(spark, table, "k",
                                               lo=10, hi=15)
    assert (nread, ntotal) == (1, 2)
    assert {r.k for r in df.collect()} == {10, 11, 14, 15}
    ch = txlog.tx_changes(spark, table, from_version=v - 1)
    assert sorted((r.k, r.v, r._change_type, r._commit_version)
                  for r in ch.collect()) == [
        (3, "r3", "delete", v), (12, "r12", "delete", v),
        (13, "r13", "delete", v),
    ]


def test_pre_gregorian_dates_and_timestamps_are_found(spark, table):
    """Dates and timestamps before the 1582-10-15 Gregorian cutover are
    found by Bloom point lookup and by range skipping. Their probe and
    residual literals must not go through PySpark's ``java.sql``
    conversion, which shifts them onto the Julian calendar (or, for
    year 1, raises)."""
    rows = [
        (0, "0001-01-01", "1000-01-01 05:00:00"),
        (1, "1000-01-01", "1582-10-04 12:30:00"),
        (2, "1582-10-15", "1582-10-15 00:00:01"),
        (3, "2024-05-06", "2024-05-06 07:08:09"),
    ]
    values = ", ".join(
        f"({i}, DATE '{d}', TIMESTAMP '{ts}')" for i, d, ts in rows
    )
    df = spark.sql(f"SELECT * FROM VALUES {values} AS t(i, d, ts)")
    txlog.tx_append(
        df.repartition(2), table,
        stats_cols=["d", "ts"], bloom_cols=["d", "ts"],
    )
    for i, d, ts in rows:
        for col, value in (
            ("d", dt.date.fromisoformat(d)),
            ("ts", dt.datetime.fromisoformat(ts)),
        ):
            got, _, _ = txlog.tx_point_lookup(spark, table, col, value)
            assert [r.i for r in got.collect()] == [i], (col, value)
            got, _, _ = txlog.tx_read_skipping(spark, table, col, value, value)
            assert [r.i for r in got.collect()] == [i], (col, value)
            got, _, _ = txlog.tx_read_skipping(spark, table, {col: (value, None)})
            assert sorted(r.i for r in got.collect()) == list(range(i, 4))


@pytest.mark.parametrize("plane", ["default", "constraint", "generated"])
def test_racing_metadata_commits_keep_both_entries(
    spark, table, monkeypatch, plane
):
    """Two metadata commits planned from the same head record the
    same newest-wins plane: the loser must re-plan on the winner's
    map, not land its stale one over it. A racer setting column ``a``
    lands between the victim's read and its commit on column ``b``;
    both entries survive."""
    txlog.tx_append(
        spark.createDataFrame([(1, 2, 3)], "k long, a long, b long"), table
    )
    set_op, read = {
        "default": (
            lambda c: txlog.tx_set_default(table, c, "7"),
            txlog.table_column_defaults,
        ),
        "constraint": (
            lambda c: txlog.tx_set_constraint(
                spark, table, f"{c}_pos", f"{c} > 0"
            ),
            lambda t: {n.split("_")[0] for n in txlog.table_constraints(t)},
        ),
        "generated": (
            lambda c: txlog.tx_set_generated(
                spark, table, c, f"k + {1 if c == 'a' else 2}"
            ),
            txlog.table_generated_columns,
        ),
    }[plane]
    orig = txlog.commit
    state = {"raced": False}

    def wrapped(table_, action, *a, **kw):
        if action == f"set_{plane}" and not state["raced"]:
            state["raced"] = True
            set_op("a")  # the racer lands inside the victim's window
        return orig(table_, action, *a, **kw)

    monkeypatch.setattr(txlog, "commit", wrapped)
    set_op("b")
    assert state["raced"]
    assert set(read(table)) == {"a", "b"}, (
        f"a racing set_{plane} erased the other column's entry"
    )


def _checkpoint_history(table):
    """Ten metadata-only commits, each recording a different plane mix."""
    for v in range(1, 11):
        txlog.commit(
            table, "alter", [], [], v - 1,
            meta={
                "column_defaults": {f"c{v % 3}": str(v)},
                "cluster_by": [f"c{v % 2}"],
            },
            constraints={f"k{v}": f"c{v % 3} > {v}"} if v % 4 else None,
        )


def test_failed_checkpoint_does_not_fail_published_commit(
    tmp_path, monkeypatch
):
    """The v10 checkpoint write failing (os.replace ENOSPC) must not
    fail the already-published commit v10 — a caller would retry it
    into a duplicate — nor leave its tmp file in ``_txlog/``; readers
    at v10 answer as on a table that never checkpointed."""
    import errno

    ref, t = str(tmp_path / "ref"), str(tmp_path / "t")
    with monkeypatch.context() as m:
        m.setattr(txlog, "CHECKPOINT_EVERY", 10**9)
        _checkpoint_history(ref)
    real_replace = os.replace

    def failing_replace(src, dst, *a, **kw):
        if ".checkpoint.json" in str(dst):
            raise OSError(errno.ENOSPC, "No space left on device", dst)
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(txlog.os, "replace", failing_replace)
    _checkpoint_history(t)
    assert txlog.log_versions(t) == list(range(1, 11))
    left = os.listdir(os.path.join(t, txlog.TXLOG))
    assert not [f for f in left if ".tmp-" in f], left
    assert not [f for f in left if f.endswith(".checkpoint.json")]
    assert txlog._replay(t, 10) == txlog._replay(ref, 10)
    for reader in (
        txlog.snapshot_files, txlog.snapshot_stats, txlog.table_constraints,
        txlog.table_column_defaults, txlog.table_cluster_by,
        txlog.table_schema,
    ):
        args = (10,) if reader is not txlog.table_schema else ()
        assert reader(t, *args) == reader(ref, *args), reader.__name__


def test_failed_commit_write_leaves_no_tmp_file(tmp_path, monkeypatch):
    """A commit whose record write fails before publishing raises and
    removes its private tmp file; the version stays unclaimed."""
    t = str(tmp_path / "t")

    def failing_fsync(fd):
        raise OSError("injected fsync failure")

    monkeypatch.setattr(txlog.os, "fsync", failing_fsync)
    with pytest.raises(OSError, match="injected"):
        txlog.commit(t, "alter", [], [], 0, meta={"cluster_by": ["c"]})
    assert os.listdir(os.path.join(t, txlog.TXLOG)) == []
    assert txlog.log_versions(t) == []


def _retry_writer(spark, table, op):
    """One writer per former retry-loop family — metadata ALTER,
    copy-on-write rewrite, MERGE, layout rewrite, whole-table metadata
    drop, append — keyed by the op its commits and its give-up error
    name."""
    src = spark.createDataFrame([(2, "m"), (9, "n")], "k long, v string")
    return {
        "set_default": lambda: txlog.tx_set_default(table, "v", "'d'"),
        "delete": lambda: txlog.tx_delete_where(spark, table, "k = 1"),
        "merge": lambda: txlog.tx_merge(
            spark, table, src, ["k"],
            matched=[{"cond": None, "action": "update", "set": None}],
            not_matched=[{"cond": None, "values": None}],
        ),
        "compact": lambda: txlog.tx_compact(spark, table),
        "truncate": lambda: txlog.tx_truncate(table),
        "append": lambda: txlog.tx_append(_df(spark, [(5, "e")]), table),
    }[op]


@pytest.mark.parametrize(
    "op", ["set_default", "delete", "merge", "compact", "truncate",
           "append"],
)
@pytest.mark.parametrize("n_conflicts", [3, txlog._MAX_RETRIES])
def test_retry_policy_lands_or_names_the_op(
    spark, table, monkeypatch, op, n_conflicts
):
    """Every writer retries through the one loop: a few injected lost
    races still land the write; ``_MAX_RETRIES`` straight ones raise a
    TxConflict naming the op, with nothing committed."""
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), table)
    txlog.tx_append(_df(spark, [(3, "c")]), table)
    run = _retry_writer(spark, table, op)
    head = txlog.log_versions(table)[-1]
    orig = txlog.commit
    state = {"injected": 0}

    def wrapped(table_, action, *a, **kw):
        if action == op and state["injected"] < n_conflicts:
            state["injected"] += 1
            raise txlog.TxConflict("injected lost race")
        return orig(table_, action, *a, **kw)

    monkeypatch.setattr(txlog, "commit", wrapped)
    if n_conflicts < txlog._MAX_RETRIES:
        run()
        assert state["injected"] == n_conflicts
        assert txlog.log_versions(table)[-1] == head + 1
        assert txlog.read_commit(table, head + 1)["action"] == op
    else:
        with pytest.raises(
            txlog.TxConflict,
            match=f"^{op} on .* lost {txlog._MAX_RETRIES} straight races$",
        ):
            run()
        assert state["injected"] == txlog._MAX_RETRIES
        assert txlog.log_versions(table)[-1] == head


def test_one_retry_loop_and_no_retry_knobs():
    """The retry policy lives in one place: no public txlog callable
    takes a retry-count knob, and ``except TxConflict`` appears only in
    ``_retry`` and the stream sink's best-effort auto-compaction (a
    lost race there abandons an optional pass; it is not a retry)."""
    import ast
    import inspect

    from parallel_dbms_spark.sources import txlog_ds

    public = [
        obj for name, obj in vars(txlog).items()
        if not name.startswith("_") and inspect.isfunction(obj)
        and obj.__module__ == txlog.__name__
    ]
    assert len(public) > 30
    for fn in public:
        params = set(inspect.signature(fn).parameters)
        assert not {"max_retries", "max_attempts"} & params, fn.__name__

    def catchers(mod):
        tree = ast.parse(inspect.getsource(mod))
        found = []
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.ExceptHandler) and node.type and (
                    "TxConflict" in ast.unparse(node.type)
                ):
                    found.append(fn.name)
        # a handler inside a nested def is also seen from its outer def
        return sorted(set(found))

    assert catchers(txlog) == ["_retry"]
    assert catchers(txlog_ds) == ["_maybe_auto_compact"]
