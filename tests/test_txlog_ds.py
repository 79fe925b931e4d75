"""The transactional table as a streaming SOURCE (sources/txlog_ds.py):
commit-version offsets, checkpoint-recoverable incremental tailing,
Delta-style change guards."""

from __future__ import annotations

import pytest

from parallel_dbms_spark.sources import txlog
from parallel_dbms_spark.sources.txlog_ds import register_txlog_source


@pytest.fixture()
def table(spark, tmp_path):
    register_txlog_source(spark)
    t = str(tmp_path / "t")
    txlog.tx_append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), t
    )
    txlog.tx_append(
        spark.createDataFrame([(3, "c")], "k long, v string"), t
    )
    return t


def _run(spark, t, out, ckpt, **opts):
    r = spark.readStream.format("txlog").option("path", t)
    for k, v in opts.items():
        r = r.option(k, v)
    q = (
        r.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_batch_face_reads_snapshot(spark, table):
    got = {
        (r.k, r.v)
        for r in spark.read.format("txlog").option("path", table)
        .load()
        .collect()
    }
    assert got == {(1, "a"), (2, "b"), (3, "c")}


@pytest.mark.slow  # residual: the unmarked test_txlog_ds source/sink/feed tests + registered stream_tx_* oracle rows
def test_stream_tails_commits_incrementally(spark, table, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, table, out, ckpt)
    assert spark.read.parquet(out).count() == 3
    # new commit after the checkpointed offset: restart emits ONLY it
    txlog.tx_append(
        spark.createDataFrame([(4, "d")], "k long, v string"), table
    )
    _run(spark, table, out, ckpt)
    got = {(r.k, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    # compaction is invisible to the stream (content-preserving)
    txlog.tx_compact(spark, table, num_files=1)
    _run(spark, table, out, ckpt)
    assert spark.read.parquet(out).count() == 4


@pytest.mark.slow  # residual: the unmarked test_txlog_ds source/sink/feed tests + registered stream_tx_* oracle rows
def test_delete_commit_guards_and_ignore_changes(spark, table, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, table, out, ckpt)
    txlog.tx_delete_where(spark, table, "k = 1")
    with pytest.raises(Exception, match="ignoreChanges|rewrote files"):
        _run(spark, table, out, ckpt)
    # ignoreChanges=true streams the rewrite's added (survivor) rows
    _run(spark, table, out, ckpt, ignoreChanges="true")
    got = [(r.k, r.v) for r in spark.read.parquet(out).collect()]
    assert (1, "a") in got  # the pre-delete emit is immutable history
    # survivors re-emitted at least once; no crash, no lost commit
    assert len(got) >= 3


def test_schema_evolution_serves_nulls_for_old_files(spark, table, tmp_path):
    txlog.tx_append(
        spark.createDataFrame([(9, "z", 1.5)], "k long, v string, x double"),
        table,
        merge_schema=True,
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run(spark, table, out, ckpt)
    rows = {r.k: (r.v, r.x) for r in spark.read.parquet(out).collect()}
    assert rows[9] == ("z", 1.5)
    assert rows[1] == ("a", None)  # pre-evolution file -> NULL column


def test_batch_face_applies_deletion_vectors(spark, table):
    txlog.tx_delete_where_mor(spark, table, "k = 2")
    got = {
        (r.k, r.v)
        for r in spark.read.format("txlog").option("path", table)
        .load()
        .collect()
    }
    assert got == {(1, "a"), (3, "c")}


def test_stream_partitions_one_per_file_no_driver_transit(spark, table):
    """The default stream reader is partition-planned: the driver
    plans exactly one InputPartition per added data file (metadata
    only — table path, relpath, field names), and read(partition) is
    what executors run. No row bytes appear in the plan."""
    from parallel_dbms_spark.sources.txlog_ds import (
        TxLogInputPartition,
        TxLogStreamReader,
    )

    schema = txlog.table_schema(table)
    rdr = TxLogStreamReader({"path": table}, schema)
    head = rdr.latestOffset()
    assert head == {"v": 2}
    parts = rdr.partitions({"v": 0}, head)
    n_files = sum(
        len(txlog.read_commit(table, v)["added"])
        for v in txlog.log_versions(table)
    )
    assert len(parts) == n_files and n_files >= 2
    assert all(isinstance(p, TxLogInputPartition) for p in parts)
    # partition value is metadata-sized: paths, field names, and the
    # expected Arrow schema (kilobytes) — never row data
    assert {f for p in parts for f in vars(p)} == {
        "table", "rel", "fields", "arrow_schema", "row_filter", "rename",
        "row_base", "row_ids",
    }
    # the executor-side read of all partitions reconstructs the batch
    # (Arrow RecordBatches on the fast path — normalize to tuples)
    import pyarrow as pa

    rows = []
    for p in parts:
        for r in rdr.read(p):
            if isinstance(r, pa.RecordBatch):
                rows.extend(tuple(d.values()) for d in r.to_pylist())
            else:
                rows.append(r)
    assert sorted(rows) == [(1, "a"), (2, "b"), (3, "c")]
    # empty range -> no partitions (Spark calls this between triggers)
    assert rdr.partitions(head, head) == []


def test_stream_partitioned_and_simple_paths_agree(spark, table, tmp_path):
    """simple=true opts into the by-value control-plane reader; both
    faces must produce identical micro-batch contents."""
    out1, ck1 = str(tmp_path / "o1"), str(tmp_path / "c1")
    out2, ck2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    _run(spark, table, out1, ck1)
    _run(spark, table, out2, ck2, simple="true")
    a = {(r.k, r.v) for r in spark.read.parquet(out1).collect()}
    b = {(r.k, r.v) for r in spark.read.parquet(out2).collect()}
    assert a == b == {(1, "a"), (2, "b"), (3, "c")}


def test_batch_face_applies_deletion_vectors_per_partition(spark, table):
    txlog.tx_delete_where_mor(spark, table, "k = 2")
    got = {
        (r.k, r.v)
        for r in spark.read.format("txlog").option("path", table)
        .load()
        .collect()
    }
    assert got == {(1, "a"), (3, "c")}


def test_arrow_fast_path_and_tuple_fallback_agree(spark, table, tmp_path):
    """read(partition) streams Arrow RecordBatches when the file's
    schema exactly matches the serve schema, and falls back to
    null-filling row tuples for pre-evolution files — both paths must
    land identical rows in the sink."""
    import pyarrow as pa

    from parallel_dbms_spark.sources.txlog_ds import (
        TxLogStreamReader,
        _read_one_file,
    )

    # schema evolution: old files lack the new column
    txlog.tx_append(
        spark.createDataFrame([(9, "x", 1.5)], "k long, v string, w double"),
        table, merge_schema=True,
    )
    schema = txlog.table_schema(table)
    rdr = TxLogStreamReader({"path": table}, schema)
    parts = rdr.partitions({"v": 0}, rdr.latestOffset())
    by_rel = {p.rel: p for p in parts}
    batches = tuples = 0
    rows = []
    for p in parts:
        out = list(_read_one_file(p.table, p.rel, p.fields, p.arrow_schema))
        if out and isinstance(out[0], pa.RecordBatch):
            batches += 1
            for b in out:
                rows.extend(tuple(r.values()) for r in b.to_pylist())
        else:
            tuples += 1
            rows.extend(out)
    assert batches >= 1, "evolved file must take the Arrow fast path"
    assert tuples >= 2, "pre-evolution files must fall back to tuples"
    assert sorted(rows) == [
        (1, "a", None), (2, "b", None), (3, "c", None), (9, "x", 1.5),
    ]
    # end-to-end through Spark: the mixed-path stream lands everything
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    _run(spark, table, out, ckpt)
    got = {(r.k, r.v, r.w) for r in spark.read.parquet(out).collect()}
    assert got == set(rows)


def test_batch_face_arrow_fast_path_dv_and_fallback(spark, table):
    """The batch face serves schema-matched files as Arrow
    RecordBatches — including DV'd files (positions dropped with an
    Arrow take) — and its rows equal read_snapshot exactly."""
    import pyarrow as pa

    from parallel_dbms_spark.sources.txlog_ds import TxLogReader

    txlog.tx_delete_where_mor(spark, table, "k = 1")
    schema = txlog.table_schema(table)
    rdr = TxLogReader({"path": table}, schema)
    parts = rdr.partitions()
    assert any(p.dv for p in parts), "MOR delete must vector one file"
    rows = []
    for p in parts:
        out = list(rdr.read(p))
        # a fully-vectored file legitimately yields zero batches
        assert all(isinstance(b, pa.RecordBatch) for b in out), (
            "schema-matched files (DV'd or not) must stay columnar"
        )
        for b in out:
            rows.extend(tuple(r.values()) for r in b.to_pylist())
    assert sorted(rows) == [(2, "b"), (3, "c")]
    got = {
        (r.k, r.v)
        for r in spark.read.format("txlog").option("path", table)
        .load().collect()
    }
    snap = {(r.k, r.v) for r in txlog.read_snapshot(spark, table).collect()}
    assert got == snap == {(2, "b"), (3, "c")}


def test_native_stream_sink_exactly_once(spark, table, tmp_path):
    """writeStream.format("txlog"): executor tasks stage one file
    each, the driver publishes one atomic commit per micro-batch with
    the (app, batchId) txn identity, and a checkpoint-recovered
    restart re-commits nothing."""
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    out = str(tmp_path / "sink_t")

    def run_batch(df):
        df.write.mode("append").parquet(src_dir)
        q = (
            spark.readStream.schema("k long, v string").parquet(src_dir)
            .writeStream.format("txlog")
            .option("path", out).option("app", "nat")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_batch(spark.createDataFrame(
        [(i, "a") for i in range(6)], "k long, v string").repartition(3))
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, out).collect()}
    assert got == {(i, "a") for i in range(6)}
    rec = txlog.read_commit(out, txlog.log_versions(out)[-1])
    assert rec["txn_app"] == "nat" and len(rec["added"]) >= 1
    # restart on the same checkpoint: nothing re-emitted, no new commit
    head = txlog.log_versions(out)[-1]
    q = (
        spark.readStream.schema("k long, v string").parquet(src_dir)
        .writeStream.format("txlog")
        .option("path", out).option("app", "nat")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert txlog.log_versions(out)[-1] == head
    # a second batch lands as its own atomic commit
    run_batch(spark.createDataFrame([(9, "b")], "k long, v string"))
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, out).collect()}
    assert got == {(i, "a") for i in range(6)} | {(9, "b")}
    # the sink's own output round-trips through the txlog STREAM SOURCE
    out2, ck2 = str(tmp_path / "rt"), str(tmp_path / "ck2")
    _run(spark, out, out2, ck2)
    rt = {(r.k, r.v) for r in spark.read.parquet(out2).collect()}
    assert rt == got


def test_starting_version_skips_already_held_history(spark, table, tmp_path):
    """startingVersion=N attaches the stream at commit N (inclusive) —
    the consumer baselined earlier history from a snapshot and must
    not replay it."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    _run(spark, table, out, ckpt, startingVersion="2")
    got = {(r.k, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {(3, "c")}  # commit 1's rows skipped


def test_starting_version_ahead_of_head_clamps_latest_offset(
    spark, table, tmp_path
):
    """startingVersion beyond the current head must not let
    latestOffset regress below initialOffset — Spark would record the
    lower offset and later emit the commits the user asked to skip."""
    from pyspark.sql import types as T

    from parallel_dbms_spark.sources.txlog_ds import (
        TxLogChangeStreamReader,
        TxLogStreamReader,
    )

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    for cls in (TxLogStreamReader, TxLogChangeStreamReader):
        r = cls({"path": table, "startingversion": "10"}, schema)
        assert r.initialOffset() == {"v": 9}
        assert r.latestOffset() == {"v": 9}  # head is 2; clamped up
    # end to end: attach ahead of head (commit 4 on a 2-commit table),
    # then append commits 3 and 4 — only commit 4 may ever emit
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    _run(spark, table, out, ckpt, startingVersion="4")
    txlog.tx_append(
        spark.createDataFrame([(4, "d")], "k long, v string"), table
    )
    txlog.tx_append(
        spark.createDataFrame([(5, "e")], "k long, v string"), table
    )
    _run(spark, table, out, ckpt, startingVersion="4")
    got = {(r.k, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {(5, "e")}


def test_starting_timestamp_attaches_at_wall_clock_cutover(
    spark, table, tmp_path
):
    """startingTimestamp resolves (against IN-COMMIT timestamps; mtime
    only as pre-feature fallback) to the FIRST commit at-or-after the
    instant and streams from there — Delta's wall-clock attach point,
    on both the plain and the CDF reader. Mutually exclusive with
    startingVersion. Mangling the commit files' mtimes must not move
    the attach point: the recorded clock wins."""
    import os

    import pytest as _pytest

    from parallel_dbms_spark.sources.txlog_ds import (
        _resolve_starting_version,
    )

    vs = txlog.log_versions(table)
    ts2 = txlog.commit_timestamp(table, vs[1])
    cut = (txlog.commit_timestamp(table, vs[0]) + ts2) / 2.0
    # an rsync/backup-restore rewrites mtimes; resolution must not care
    for v in vs:
        os.utime(txlog._commit_path(table, v), (0, 0))
    # between the two commits -> attach at commit 2; beyond all -> head+1
    assert _resolve_starting_version(
        {"startingtimestamp": repr(cut)}, table
    ) == 2
    assert _resolve_starting_version(
        {"startingtimestamp": str(ts2 + 1e6)}, table
    ) == 3
    # ISO-8601 form resolves identically (naive = UTC)
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(cut, tz=timezone.utc).isoformat()
    assert _resolve_starting_version({"startingtimestamp": iso}, table) == 2
    with _pytest.raises(ValueError, match="mutually exclusive"):
        _resolve_starting_version(
            {"startingversion": "1", "startingtimestamp": repr(cut)}, table
        )
    # end to end, plain reader: only commit 2's rows emit
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    _run(spark, table, out, ckpt, startingTimestamp=repr(cut))
    got = {(r.k, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {(3, "c")}
    # end to end, CDF reader honors it too
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    q = (
        spark.readStream.format("txlog")
        .option("path", table).option("readChangeFeed", "true")
        .option("startingTimestamp", repr(cut)).load()
        .writeStream.format("parquet").option("path", out2)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got2 = {
        (r.k, r._change_type, r._commit_version)
        for r in spark.read.parquet(out2).collect()
    }
    assert got2 == {(3, "insert", 2)}


@pytest.mark.slow  # residual: the unmarked test_txlog_ds source/sink/feed tests + registered stream_tx_* oracle rows
def test_change_feed_stream_inserts_and_mor_deletes(spark, table, tmp_path):
    """readChangeFeed=true streams appends as inserts and MOR-delete
    vectors as deletes, partition-planned; rewrites raise toward the
    batch feed."""
    from parallel_dbms_spark.sources.txlog_ds import _plan_change_partitions

    txlog.tx_delete_where_mor(spark, table, "k = 1")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("txlog")
        .option("path", table).option("readChangeFeed", "true").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, "a", "insert", 1), (2, "b", "insert", 1),
        (3, "c", "insert", 2), (1, "a", "delete", 3),
    }
    # an incremental restart emits only the new commits' changes
    txlog.tx_append(
        spark.createDataFrame([(9, "z")], "k long, v string"), table
    )
    q = (
        spark.readStream.format("txlog")
        .option("path", table).option("readChangeFeed", "true").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 5
    # a WHOLE-FILE delete (k=2's file holds no other live rows: k=1 is
    # already vectored) streams as delete_file partitions since r11
    txlog.tx_delete_where(spark, table, "k = 2")
    head = txlog.log_versions(table)[-1]
    parts = _plan_change_partitions(table, head - 1, head, ("k", "v"))
    assert parts and all(p.change_type == "delete_file" for p in parts)
    # a PARTIAL rewrite (survivors re-staged) is still not streamable
    txlog.tx_append(
        spark.createDataFrame(
            [(20, "s"), (21, "t")], "k long, v string"
        ).coalesce(1),
        table,
    )
    txlog.tx_delete_where(spark, table, "k = 21")
    head = txlog.log_versions(table)[-1]
    with pytest.raises(ValueError, match="batch computation"):
        _plan_change_partitions(table, head - 1, head, ("k", "v"))


def test_ignore_deletes_skips_pure_deletes_only(spark, table, tmp_path):
    """ignoreDeletes (Delta's): pure deletes — whole files dropped or
    rows vectored with nothing rewritten — are skipped; a delete that
    rewrites files still raises (its added files would re-emit
    survivors)."""
    from parallel_dbms_spark.sources.txlog_ds import _plan_rels

    # v3: pure MOR delete (dv only); v4: whole-file delete of commit 2
    txlog.tx_delete_where_mor(spark, table, "k = 1")
    txlog.tx_delete_where(spark, table, "k = 3")  # drops commit 2's file
    head = txlog.log_versions(table)[-1]
    with pytest.raises(ValueError, match="ignoreChanges"):
        _plan_rels(table, 0, head, ignore_changes=False)
    rels = _plan_rels(table, 0, head, False, ignore_deletes=True)
    n_appended = sum(
        len(txlog.read_commit(table, v)["added"]) for v in (1, 2)
    )
    assert len(rels) == n_appended  # both delete commits skipped
    # a PARTIAL delete (survivors rewritten) is NOT skippable
    txlog.tx_append(
        spark.createDataFrame([(7, "x"), (8, "y")],
                              "k long, v string").coalesce(1), table
    )
    txlog.tx_delete_where(spark, table, "k = 7")  # rewrites the file
    head2 = txlog.log_versions(table)[-1]
    with pytest.raises(ValueError, match="ignoreChanges"):
        _plan_rels(table, head2 - 1, head2, False, ignore_deletes=True)
    # end-to-end: the option threads through the reader
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    _run(spark, table, out, ckpt, startingVersion=str(head2 + 1))


def test_native_sink_merge_schema_option(spark, table, tmp_path):
    """mergeSchema=true lets the native sink evolve the table
    additively, same contract as tx_append(merge_schema=True)."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    spark.createDataFrame(
        [(10, "n", 2.5)], "k long, v string, w double"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "k long, v string, w double"
    ).parquet(src)
    # without the option the drift-write is rejected (nothing lands)
    q = (
        stream.writeStream.format("txlog")
        .option("path", table).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="[Ss]chema"):
        q.awaitTermination()
    head = txlog.log_versions(table)[-1]
    q = (
        stream.writeStream.format("txlog")
        .option("path", table).option("mergeSchema", "true")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert txlog.log_versions(table)[-1] == head + 1
    got = {(r.k, r.v, r.w)
           for r in txlog.read_snapshot(spark, table).collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", None),
                   (10, "n", 2.5)}


def test_native_sink_enforces_check_constraints(spark, tmp_path):
    """CHECK constraints enforce on EVERY write path, including the
    native streaming sink (Delta's contract): a violating micro-batch
    fails atomically — no commit lands, no rows become visible — and a
    conforming batch still flows afterwards."""
    register_txlog_source(spark)
    out = str(tmp_path / "ct")
    txlog.tx_append(
        spark.createDataFrame([(1, "a")], "k long, v string"), out
    )
    txlog.tx_set_constraint(spark, out, "k_pos", "k > 0")
    head = txlog.log_versions(out)[-1]
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    spark.createDataFrame(
        [(5, "ok"), (-3, "bad")], "k long, v string"
    ).write.parquet(src)
    q = (
        spark.readStream.schema("k long, v string").parquet(src)
        .writeStream.format("txlog").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="CHECK constraint violation"):
        q.awaitTermination()
    assert txlog.log_versions(out)[-1] == head  # nothing landed
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, out).collect()}
    assert got == {(1, "a")}
    # a conforming batch (fresh source + checkpoint) commits normally
    src2, ck2 = str(tmp_path / "src2"), str(tmp_path / "ck2")
    spark.createDataFrame(
        [(7, "ok")], "k long, v string"
    ).write.parquet(src2)
    q = (
        spark.readStream.schema("k long, v string").parquet(src2)
        .writeStream.format("txlog").option("path", out)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, out).collect()}
    assert got == {(1, "a"), (7, "ok")}


def test_native_sink_revalidates_on_constraint_race(spark, tmp_path):
    """The write tasks validate against the constraint map as of task
    time; if a constraint commit lands BEFORE the driver's atomic
    publish, commit() must notice the signature drift and revalidate
    the staged rows against the fresh map — the exact interleaving the
    r8 sink let through."""
    from pyspark.sql import types as T

    from parallel_dbms_spark.sources.txlog_ds import TxLogStreamWriter

    out = str(tmp_path / "race")
    txlog.tx_append(
        spark.createDataFrame([(1, "a")], "k long, v string"), out
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    w = TxLogStreamWriter({"path": out, "app": "race"}, schema)
    # no constraint at task time: write-side validation passes
    msg = w.write(iter([(5, "ok"), (-3, "bad")]))
    head = txlog.log_versions(out)[-1]
    txlog.tx_set_constraint(spark, out, "k_pos", "k > 0")
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        w.commit([msg], 0)
    # the staged rows never became visible
    assert txlog.log_versions(out)[-1] == head + 1  # just the constraint
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, out).collect()}
    assert got == {(1, "a")}
    # conforming staged rows pass the SAME recheck and publish
    msg2 = w.write(iter([(6, "ok")]))
    w.commit([msg2], 1)
    got = {(r.k, r.v) for r in txlog.read_snapshot(spark, out).collect()}
    assert got == {(1, "a"), (6, "ok")}


def test_native_sink_records_partition_values(spark, tmp_path):
    """Streaming appends into a partitioned table stage VALUE-PURE
    files with recorded partitionValues — metadata pruning covers
    streamed files exactly like batch-appended ones (the r8 sink left
    them unrecorded, silently degrading pruning on append-heavy
    streamed tables)."""
    register_txlog_source(spark)
    out = str(tmp_path / "pt")
    txlog.tx_append(
        spark.createDataFrame(
            [(1, "NL"), (2, "BE")], "k long, country string"
        ),
        out,
        partition_by=["country"],
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    spark.createDataFrame(
        [(3, "NL"), (4, "DE"), (5, "NL")], "k long, country string"
    ).write.parquet(src)
    q = (
        spark.readStream.schema("k long, country string").parquet(src)
        .writeStream.format("txlog").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    _, files = txlog.snapshot_files(out)
    pv = txlog.snapshot_pv(out)
    assert all(f in pv for f in files)  # streamed files recorded too
    kept = txlog.prune_partition_files(out, files, {"country": "NL"})
    assert set(kept) < set(files)  # strictly prunes, no conservative reads
    assert all(pv[f] == {"country": "NL"} for f in kept)
    got = {
        r.k
        for r in txlog.read_snapshot(
            spark, out, partition_filter={"country": "NL"}
        ).collect()
    }
    assert got == {1, 3, 5}


def test_batch_face_partition_filter_option(spark, tmp_path):
    """format("txlog").option("partitionFilter", ...) — the format-API
    twin of read_snapshot(partition_filter=...): value-pure files
    prune at plan time (strictly fewer input partitions), unrecorded
    files (sorted compaction drops partition values) get the exact
    row-level backstop, and unknown columns raise instead of silently
    pruning everything."""
    register_txlog_source(spark)
    out = str(tmp_path / "pf")
    txlog.tx_append(
        spark.createDataFrame(
            [(i, ["NL", "BE", "DE"][i % 3]) for i in range(9)],
            "k long, country string",
        ),
        out,
        partition_by=["country"],
    )
    base = spark.read.format("txlog").option("path", out).load()
    flt = (
        spark.read.format("txlog").option("path", out)
        .option("partitionFilter", '{"country": "NL"}').load()
    )
    assert flt.rdd.getNumPartitions() < base.rdd.getNumPartitions()
    assert {r.k for r in flt.collect()} == {0, 3, 6}
    # sorted compaction drops partition values -> the one compacted
    # file is unrecorded; the option stays exact via the row backstop
    txlog.tx_compact(spark, out, sort_by=["k"])
    flt2 = (
        spark.read.format("txlog").option("path", out)
        .option("partitionFilter", '{"country": ["NL", "BE"]}').load()
    )
    assert {r.k for r in flt2.collect()} == {0, 1, 3, 4, 6, 7}
    with pytest.raises(Exception, match="not partition column"):
        (
            spark.read.format("txlog").option("path", out)
            .option("partitionFilter", '{"k": 1}').load().collect()
        )


def test_native_sink_records_file_stats_for_skipping(spark, tmp_path):
    """statsCols on the native sink: per-file min/max ride each
    micro-batch commit (footer reads on the committing driver, the
    add-file stats pattern), so tx_read_skipping prunes streamed
    files exactly like batch-appended ones."""
    register_txlog_source(spark)
    out = str(tmp_path / "st")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    spark.createDataFrame(
        [(i, "a") for i in range(100)], "k long, v string"
    ).write.parquet(src)
    q = (
        spark.readStream.schema("k long, v string").parquet(src)
        .writeStream.format("txlog").option("path", out)
        .option("statsCols", "k")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    stats = txlog.snapshot_stats(out)
    _, files = txlog.snapshot_files(out)
    assert files and all(
        "k" in stats.get(f, {}).get("c", {}) for f in files
    ), stats
    # skipping answers from the recorded ranges: a probe outside every
    # file's [min,max] opens zero files
    df, n_read, n_total = txlog.tx_read_skipping(
        spark, out, "k", lo=10_000, hi=20_000
    )
    assert n_total >= 1 and n_read == 0
    df2, n_read2, _ = txlog.tx_read_skipping(spark, out, "k", lo=0, hi=5)
    assert n_read2 >= 1
    assert df2.filter("k <= 5").count() == 6


def test_stream_source_partition_filter_prunes_micro_batches(
    spark, tmp_path
):
    """partitionFilter on the STREAMING source: each micro-batch plans
    only the commits' files whose recorded partition values match —
    provably-disjoint value-pure files are skipped from commit
    metadata (never opened), matching files serve with zero row work,
    and the planned-partition count proves the skip."""
    from pyspark.sql import types as T

    from parallel_dbms_spark.sources.txlog_ds import TxLogStreamReader

    register_txlog_source(spark)
    t = str(tmp_path / "pt")
    mk = lambda rows: spark.createDataFrame(rows, "k long, c string")
    txlog.tx_append(mk([(1, "a"), (2, "b")]), t, partition_by=["c"])
    txlog.tx_append(mk([(3, "a"), (4, "b"), (5, "c")]), t)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("txlog").option("path", t)
        .option("partitionFilter", '{"c": ["a", "c"]}')
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.k, r.c) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "a"), (3, "a"), (5, "c")}
    # plan-level proof: the filtered reader plans strictly fewer
    # file-splits than the unfiltered one over the same offset range
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("c", T.StringType())]
    )
    head = txlog.log_versions(t)[-1]
    plain = TxLogStreamReader({"path": t}, schema)
    filt = TxLogStreamReader(
        {"path": t, "partitionfilter": '{"c": "a"}'}, schema
    )
    n_plain = len(plain.partitions({"v": 0}, {"v": head}))
    n_filt = len(filt.partitions({"v": 0}, {"v": head}))
    assert 0 < n_filt < n_plain, (n_filt, n_plain)
    # unknown columns raise up front, mirroring the batch face
    with pytest.raises(ValueError, match="not partition column"):
        TxLogStreamReader(
            {"path": t, "partitionfilter": '{"k": 1}'}, schema
        )


def test_change_feed_partition_filter(spark, tmp_path):
    """partitionFilter composes with readChangeFeed: insert splits
    prune by their commit's recorded partition values, DV-delete
    splits by the values live at their commit — both metadata-only —
    and the served changes carry only the requested partitions."""
    from pyspark.sql import types as T

    from parallel_dbms_spark.sources.txlog_ds import (
        TxLogChangeStreamReader,
    )

    register_txlog_source(spark)
    t = str(tmp_path / "cdfp")
    mk = lambda rows: spark.createDataFrame(rows, "k long, c string")
    txlog.tx_append(mk([(1, "a"), (2, "b")]), t, partition_by=["c"])
    txlog.tx_append(mk([(3, "a"), (4, "b")]), t)
    txlog.tx_delete_where_mor(spark, t, "k = 3")  # DV on an 'a' file
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("txlog").option("path", t)
        .option("readChangeFeed", "true")
        .option("partitionFilter", '{"c": "a"}')
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.k, r.c, r._change_type)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, "a", "insert"),
        (3, "a", "insert"),
        (3, "a", "delete"),
    }
    # plan-level proof: the 'b' partition's splits never exist
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("c", T.StringType()),
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
        ]
    )
    head = txlog.log_versions(t)[-1]
    plain = TxLogChangeStreamReader({"path": t}, schema)
    filt = TxLogChangeStreamReader(
        {"path": t, "partitionfilter": '{"c": "a"}'}, schema
    )
    n_plain = len(plain.partitions({"v": 0}, {"v": head}))
    n_filt = len(filt.partitions({"v": 0}, {"v": head}))
    assert 0 < n_filt < n_plain, (n_filt, n_plain)


def test_simple_face_partition_filter_parity(spark, tmp_path):
    """simple=true must honor partitionFilter identically to the
    partition-planned face — silently serving unfiltered rows to a
    caller who asked for one partition is the worst failure mode."""
    register_txlog_source(spark)
    t = str(tmp_path / "sp")
    mk = lambda rows: spark.createDataFrame(rows, "k long, c string")
    txlog.tx_append(mk([(1, "a"), (2, "b")]), t, partition_by=["c"])
    txlog.tx_append(mk([(3, "a"), (4, "c")]), t)
    outs = []
    for i, opts in enumerate(
        ({"simple": "true"}, {})
    ):
        out, ckpt = str(tmp_path / f"o{i}"), str(tmp_path / f"c{i}")
        r = (
            spark.readStream.format("txlog").option("path", t)
            .option("partitionFilter", '{"c": "a"}')
        )
        for k, v in opts.items():
            r = r.option(k, v)
        q = (
            r.load().writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        outs.append({(x.k, x.c) for x in spark.read.parquet(out).collect()})
    assert outs[0] == outs[1] == {(1, "a"), (3, "a")}


def test_batch_face_stale_declaration_file_keeps_row_backstop(
    spark, tmp_path
):
    """An inherited append racing partition EVOLUTION lands a file
    whose recorded values cover the PREVIOUS declaration's columns.
    Filtering on the new column, the pruner keeps that file as a
    must-read — and the batch DataSource must give it the row-level
    backstop: 'recorded SOME values' is not 'provably pure for THIS
    filter'. Regression: the face treated any pv-recorded file as
    pure and served its non-matching rows."""
    register_txlog_source(spark)
    t = str(tmp_path / "stale")
    mk = lambda rows: spark.createDataFrame(
        rows, "k long, v string, region string"
    )
    txlog.tx_append(
        mk([(1, "a", "eu"), (2, "b", "us")]), t, partition_by=["v"]
    )
    txlog.tx_repartition_table(spark, t, ["region"])
    # the race, deterministically: a writer that read the OLD
    # declaration stages value-pure on v and commits WITHOUT
    # re-recording partition_by (the stale-declaration rule) — its
    # file lands recording only {"v"} while the table declares region
    from parallel_dbms_spark.sources.txlog import _stage_partitioned, commit

    rels, pv = _stage_partitioned(
        mk([(5, "a", "eu"), (6, "a", "us")]), t, ["v"]
    )
    commit(t, "append", rels, [], txlog.log_versions(t)[-1], pv=pv)
    assert any(
        set(vals) == {"v"} for vals in txlog.snapshot_pv(t).values()
    )
    got = {
        r.k
        for r in spark.read.format("txlog").option("path", t)
        .option("partitionFilter", '{"region": "eu"}').load().collect()
    }
    assert got == {1, 5}  # k=6 is region='us' inside the stale file


def test_simple_face_filter_column_outside_read_schema(spark, tmp_path):
    """partitionFilter on a column the READ schema omits: pure files
    still prune from metadata, and backstop files read the filter
    column from the parquet alongside the serve fields (absent in the
    file serves NULL) — parity with the planned face. Regression: the
    simple face indexed the filter column into the serve fields and
    raised ValueError."""
    register_txlog_source(spark)
    t = str(tmp_path / "subset")
    mk = lambda rows: spark.createDataFrame(rows, "k long, c string")
    txlog.tx_append(mk([(1, "a"), (2, "b")]), t, partition_by=["c"])
    txlog.tx_append(mk([(3, "a"), (4, "b")]), t)
    # sorted compaction drops partition values -> the compacted file
    # is an unrecorded must-read that exercises the backstop
    txlog.tx_compact(spark, t, sort_by=["k"])
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("txlog").option("path", t)
        .schema("k long")  # serve schema OMITS the partition column
        .option("simple", "true")
        .option("partitionFilter", '{"c": "a"}')
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert {r.k for r in spark.read.parquet(out).collect()} == {1, 3}


@pytest.mark.slow  # residual: the unmarked test_txlog_ds source/sink/feed tests + registered stream_tx_* oracle rows
def test_change_feed_sidecar_stats_prune(spark, tmp_path):
    """cdc_stats: a write_cdc commit records its change-set sidecar's
    [min, max] for the partition columns, and a partition-filtered
    CDF stream uses them to skip whole sidecars whose range is
    provably disjoint — with identical rows out (the pruned sidecar
    held only other partitions' changes)."""
    from pyspark.sql import types as T

    from parallel_dbms_spark.sources.txlog_ds import (
        TxLogChangeStreamReader,
    )

    register_txlog_source(spark)
    t = str(tmp_path / "cdcst")
    mk = lambda rows: spark.createDataFrame(rows, "k long, c string")
    txlog.tx_append(
        mk([(1, "a"), (2, "a"), (3, "b"), (4, "b")]), t,
        partition_by=["c"],
    )
    # a delete touching ONLY partition 'b' -> its sidecar's c-range is
    # ['b','b'], provably disjoint from filter c='a'
    txlog.tx_delete_where(spark, t, "c = 'b' AND k = 3", write_cdc=True)
    rec = txlog.read_commit(t, txlog.log_versions(t)[-1])
    assert rec.get("cdc") and rec.get("cdc_stats", {}).get("c") == [
        "b", "b",
    ], rec.get("cdc_stats")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("c", T.StringType()),
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
        ]
    )
    head = txlog.log_versions(t)[-1]
    n_plain = len(
        TxLogChangeStreamReader({"path": t}, schema)
        .partitions({"v": 0}, {"v": head})
    )
    filt = TxLogChangeStreamReader(
        {"path": t, "partitionfilter": '{"c": "a"}'}, schema
    )
    parts = filt.partitions({"v": 0}, {"v": head})
    # the 'b' insert split AND the delete's sidecar both pruned
    assert len(parts) < n_plain - 1, (len(parts), n_plain)
    assert all(p.change_type != "cdc" for p in parts)
    # rows identical to the unpruned feed filtered to the partition
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("txlog").option("path", t)
        .option("readChangeFeed", "true")
        .option("partitionFilter", '{"c": "a"}')
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.k, r.c, r._change_type)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(1, "a", "insert"), (2, "a", "insert")}
    # a sidecar SPANNING the filtered partition is NOT pruned: delete
    # across both partitions -> its changes for 'a' must stream
    txlog.tx_delete_where(spark, t, "k IN (2, 4)", write_cdc=True)
    out2, ckpt2 = str(tmp_path / "o2"), str(tmp_path / "ck2")
    q = (
        spark.readStream.format("txlog").option("path", t)
        .option("readChangeFeed", "true")
        .option("partitionFilter", '{"c": "a"}')
        .load()
        .writeStream.format("parquet").option("path", out2)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got2 = {
        (r.k, r.c, r._change_type)
        for r in spark.read.parquet(out2).collect()
    }
    assert (2, "a", "delete") in got2, got2
    assert all(c == "a" for _, c, _ in got2), got2


def test_native_sink_enforces_generated_columns(spark, tmp_path):
    """The streaming sink's executor-side DuckDB check covers
    GENERATED columns: a micro-batch whose supplied value disagrees
    with the generation law fails the write task — nothing stages,
    nothing commits."""
    register_txlog_source(spark)
    t = str(tmp_path / "gsink")
    txlog.tx_append(
        spark.createDataFrame([(1, 10, 100)], "k long, a long, sq long"),
        t,
    )
    txlog.tx_set_generated(spark, t, "sq", "a * a")
    src_ok, src_bad = str(tmp_path / "s1"), str(tmp_path / "s2")
    spark.createDataFrame(
        [(2, 3, 9)], "k long, a long, sq long"
    ).write.parquet(src_ok)
    spark.createDataFrame(
        [(3, 4, 99)], "k long, a long, sq long"
    ).write.parquet(src_bad)
    q = (
        spark.readStream.schema("k long, a long, sq long").parquet(src_ok)
        .writeStream.format("txlog").option("path", t)
        .option("checkpointLocation", str(tmp_path / "c1"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert {r.k for r in txlog.read_snapshot(spark, t).collect()} == {1, 2}
    v_before = txlog.log_versions(t)[-1]
    q = (
        spark.readStream.schema("k long, a long, sq long").parquet(src_bad)
        .writeStream.format("txlog").option("path", t)
        .option("checkpointLocation", str(tmp_path / "c2"))
        .trigger(availableNow=True).start()
    )
    with pytest.raises(Exception, match="generated|CHECK"):
        q.awaitTermination()
    assert txlog.log_versions(t)[-1] == v_before  # nothing committed
    assert {r.k for r in txlog.read_snapshot(spark, t).collect()} == {1, 2}


@pytest.mark.slow  # residual: the unmarked test_txlog_ds source/sink/feed tests + registered stream_tx_* oracle rows
def test_max_files_per_trigger_bounds_backlog_batches(spark, tmp_path):
    """maxFilesPerTrigger (Delta's): a backlogged table streams in
    bounded micro-batches — offsets advance a budgeted number of
    added files per trigger, every row arrives exactly once, and a
    single oversized commit still planes (the stream never wedges)."""
    from parallel_dbms_spark.sources.txlog_ds import TxLogStreamReader

    register_txlog_source(spark)
    t = str(tmp_path / "mft")
    for i in range(6):  # 6 commits x 1 file
        txlog.tx_append(
            spark.createDataFrame([(i, "x")], "k long, v string")
            .coalesce(1),
            t,
        )
    rdr = TxLogStreamReader(
        {"path": t, "maxfilespertrigger": "2"}, txlog.table_schema(t)
    )
    offsets, cur = [], rdr.initialOffset()
    for _ in range(10):
        nxt = rdr.latestOffset()
        if nxt == cur:
            break
        rdr.partitions(cur, nxt)  # sync the tracker like Spark would
        offsets.append(int(nxt["v"]))
        cur = nxt
    assert offsets == [2, 4, 6], offsets  # 3 bounded batches, no loss
    # an oversized commit (4 files > budget 2) still advances; a range
    # of 4 one-row partitions writes exactly 4 files (a round-robin
    # repartition of 4 rows may leave a partition empty)
    txlog.tx_append(
        spark.range(10, 14, 1, 4).selectExpr("id AS k", "'y' AS v"), t
    )
    nxt = rdr.latestOffset()
    assert int(nxt["v"]) == 7
    assert len(rdr.partitions(cur, nxt)) == 4
    # end-to-end: under availableNow the Python DataSource API
    # snapshots ONE capped batch per run — each invocation consumes a
    # bounded chunk and the checkpoint resumes exactly where it
    # stopped, so repeated runs drain the backlog with no loss and no
    # re-emission (bounded-work-per-invocation semantics; a
    # processingTime trigger instead caps every micro-batch of one
    # continuous query)
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "ck")
    seen = []
    for _ in range(8):
        q = (
            spark.readStream.format("txlog").option("path", t)
            .option("maxFilesPerTrigger", "2").load()
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        n = spark.read.parquet(out).count()
        seen.append(n)
        if n == 10:
            break
    assert seen[0] <= 4 < seen[-1] == 10, seen  # bounded chunks, drained
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    assert got == sorted(list(range(6)) + [10, 11, 12, 13]), got


def test_max_bytes_per_trigger_bounds_backlog(spark, tmp_path):
    """maxBytesPerTrigger: the budget walk counts staged file SIZES
    (one stat per record-listed file); a byte-capped backlog advances
    in multiple offsets and still delivers exactly once."""
    from parallel_dbms_spark.sources.txlog_ds import TxLogStreamReader

    register_txlog_source(spark)
    t = str(tmp_path / "mbt")
    for i in range(4):
        txlog.tx_append(
            spark.createDataFrame(
                [(i * 10 + j, "x" * 50) for j in range(5)],
                "k long, v string",
            ).coalesce(1),
            t,
        )
    rdr = TxLogStreamReader(
        {"path": t, "maxbytespertrigger": "1"}, txlog.table_schema(t)
    )
    # 1-byte budget degenerates to one commit per trigger (never wedges)
    offsets, cur = [], rdr.initialOffset()
    for _ in range(8):
        nxt = rdr.latestOffset()
        if nxt == cur:
            break
        rdr.partitions(cur, nxt)
        offsets.append(int(nxt["v"]))
        cur = nxt
    assert offsets == [1, 2, 3, 4], offsets


@pytest.mark.slow  # residual: the unmarked test_txlog_ds source/sink/feed tests + registered stream_tx_* oracle rows
def test_sink_auto_compact_packs_small_file_tail(spark, tmp_path):
    """.option("autoCompact"): after enough micro-batches leave a
    small-file tail, the sink runs the incremental OPTIMIZE behind the
    ingest — file count collapses, rows stay exact, clustering stats
    ride the rewrite (CLUSTER BY default), and the data commits are
    never blocked by the maintenance pass."""
    from parallel_dbms_spark.sources import txlog
    from parallel_dbms_spark.sources.txlog_ds import register_txlog_source

    register_txlog_source(spark)
    t = str(tmp_path / "t")
    txlog.tx_append(
        spark.createDataFrame([(0, 0)], "k long, x long"), t
    )
    txlog.tx_set_cluster_by(t, ["x"])
    src = str(tmp_path / "in")
    for j in range(6):
        spark.createDataFrame(
            [(j * 10 + i, (i * 13) % 50) for i in range(10)],
            "k long, x long",
        ).coalesce(1).write.mode("append").parquet(src)
    q = (
        spark.readStream.schema("k long, x long").parquet(src)
        .writeStream.format("txlog")
        .option("path", t).option("checkpointLocation", str(tmp_path / "ck"))
        .option("autoCompact", "true")
        .option("autoCompactMinFiles", "4")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _, files = txlog.snapshot_files(t)
    assert len(files) < 6, f"tail not compacted: {len(files)} files"
    got = {r.k for r in txlog.read_snapshot(spark, t).collect()}
    assert got == set(range(60)) | {0}
    st = txlog.snapshot_stats(t)
    packed = [f for f in files if f in st and "x" in st[f].get("c", {})]
    assert packed, "auto-compacted output must carry clustering stats"
    # the log shows data commits AND at least one compact commit
    actions = [
        txlog.read_commit(t, v)["action"] for v in txlog.log_versions(t)
    ]
    assert "compact" in actions


@pytest.mark.slow  # residual: the unmarked test_txlog_ds source/sink/feed tests + registered stream_tx_* oracle rows
def test_sink_auto_compact_preserves_pv_and_row_ids(spark, tmp_path):
    """Auto-compact semantics: files compact only within their
    recorded partition-value group (outputs inherit the pv, pruning
    never degrades), and row-tracking ids materialize through the
    Arrow rewrite exactly as tx_compact would."""
    from parallel_dbms_spark.sources import txlog
    from parallel_dbms_spark.sources.txlog_ds import register_txlog_source

    register_txlog_source(spark)
    t = str(tmp_path / "t")
    txlog.tx_append(
        spark.createDataFrame([(0, 0, "seed")], "k long, p long, s string"),
        t, partition_by=["p"],
    )
    txlog.tx_enable_row_tracking(t)
    src = str(tmp_path / "in")
    for j in range(5):
        spark.createDataFrame(
            [(100 + j * 10 + i, i % 2, f"b{j}") for i in range(10)],
            "k long, p long, s string",
        ).coalesce(1).write.mode("append").parquet(src)
    before_rows = None
    q = (
        spark.readStream.schema("k long, p long, s string").parquet(src)
        .writeStream.format("txlog")
        .option("path", t).option("checkpointLocation", str(tmp_path / "ck"))
        .option("autoCompact", "true")
        .option("autoCompactMinFiles", "4")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    actions = [
        txlog.read_commit(t, v)["action"] for v in txlog.log_versions(t)
    ]
    assert "compact" in actions
    # pruning still answers from log metadata after the compaction
    _, files = txlog.snapshot_files(t)
    kept = txlog.prune_partition_files(t, files, {"p": 0})
    assert 0 < len(kept) < len(files), (len(kept), len(files))
    df0 = txlog.read_snapshot(spark, t, partition_filter={"p": 0})
    assert df0.count() == 1 + 25  # seed + half the streamed rows
    # row ids: unique, and the compacted rewrite materialized them
    rows = txlog.read_snapshot(spark, t, with_row_ids=True).collect()
    ids = [r["_row_id"] for r in rows]
    assert len(set(ids)) == len(ids) and all(i is not None for i in ids)


def test_cdc_stream_prunes_dropped_file_partitions(spark, tmp_path):
    """The partition-filtered CDC stream prunes delete_file splits
    (metadata-dropped all-match files) from the PREDECESSOR snapshot's
    recorded values — a consumer tailing one partition's changes never
    opens the other partitions' dropped files."""
    from parallel_dbms_spark.sources import txlog
    from parallel_dbms_spark.sources.txlog_ds import (
        TxLogChangePartition, _plan_change_partitions,
        _read_change_partition,
    )

    t = str(tmp_path / "t")
    df = spark.range(60).selectExpr("id AS k", "id % 3 AS p")
    txlog.tx_append(df.repartition(3), t, partition_by=["p"])
    v, _ = txlog.tx_delete_where_mor(spark, t, "p IN (0, 1)")
    parts = _plan_change_partitions(t, v - 1, v, ("k", "p"))
    assert parts and all(p.change_type == "delete_file" for p in parts)
    # drive the reader's filter path: the p=1 consumer reads ONLY the
    # p=1 drop, and its rows filter exactly
    rows = []
    for p in parts:
        vals = txlog.snapshot_pv(t, v - 1).get(p.rel)
        if vals and vals.get("p") not in (None, "1"):
            continue  # what the stream face's metadata verdict does
        rows += list(_read_change_partition(p))
    ks = {r[0] for r in rows}
    assert ks == {i for i in range(60) if i % 3 == 1}


def test_change_feed_partition_filter_over_dropped_files(spark, tmp_path):
    """End-to-end: partitionFilter + readChangeFeed across a
    metadata-dropped partition delete — the consumer sees its
    partition's rows as deletes, never the other partition's."""
    register_txlog_source(spark)
    t = str(tmp_path / "cdfd")
    mk = lambda rows: spark.createDataFrame(rows, "k long, c string")
    txlog.tx_append(
        mk([(1, "a"), (2, "b"), (3, "a"), (4, "b")]), t,
        partition_by=["c"],
    )
    txlog.tx_delete_where(spark, t, "c = 'a'")   # CoW drop, pure
    txlog.tx_delete_where_mor(spark, t, "c = 'b'")  # MOR drop, pure
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("txlog").option("path", t)
        .option("readChangeFeed", "true")
        .option("partitionFilter", '{"c": "a"}')
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.k, r.c, r._change_type)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, "a", "insert"), (3, "a", "insert"),
        (1, "a", "delete"), (3, "a", "delete"),
    }, got
