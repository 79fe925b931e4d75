"""Exactly-once streaming sinks via foreachBatch.

Structured Streaming's file sink is append-only; real pipelines need
upserts, idempotent restarts, and multi-sink fan-out — all of which go
through ``foreachBatch``. The exactly-once recipe: the checkpoint
records which micro-batch ids committed, and the batch write is made
IDEMPOTENT by keying the output on the batch id (overwrite the batch's
own partition directory). A crash between write and checkpoint commit
replays the batch; the overwrite makes the replay harmless — no
duplicates, the at-least-once replay becomes exactly-once output.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


def _promote_dir(staged: str, path: str) -> None:
    """Swap ``staged`` into place WITHOUT a destructive window.

    The naive ``rmtree(path); os.replace(staged, path)`` has a crash
    window in which NO table exists — a replayed batch would then
    rebuild serving state from that batch alone, silently discarding
    all previously-folded state. Instead the old state is renamed
    aside (atomic), the staged state renamed in (atomic), and only
    then is the old copy deleted: a crash at any instant leaves either
    the old or the new state on disk, and :func:`_serving_state`
    recovers whichever survives on the next batch.
    """
    old = path + "__old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(staged, path)
    shutil.rmtree(old, ignore_errors=True)


def _serving_state(path: str) -> bool:
    """True iff committed serving state exists at ``path``, first
    recovering from a crash mid-:func:`_promote_dir`: if ``path`` is
    missing/torn but the renamed-aside copy survives, restore it."""
    old = path + "__old"
    if not os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(
        os.path.join(old, "_SUCCESS")
    ):
        if os.path.exists(path):
            shutil.rmtree(path)
        os.replace(old, path)
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def write_stream_exactly_once(
    streaming_df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Drive a streaming frame to a batch-id-partitioned parquet layout
    (``path/batch_id=N/``) with idempotent per-batch overwrite; returns
    the finished StreamingQuery. Restarting with the same checkpoint
    re-emits no committed batch, and a replayed uncommitted batch
    overwrites itself.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")
        )

    w = (
        streaming_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()
    return q


def stream_upsert_sink(
    streaming_df: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    trigger_available_now: bool = True,
):
    """Continuously MERGE a streaming change feed into a parquet
    serving table (streaming CDC apply).

    Each micro-batch is upserted via ``operators.cdc.merge_upsert``:
    batch rows win on key match, new keys append. The rewrite is
    idempotent per batch (same batch replayed after a crash converges
    to the same table state), giving exactly-once *table state* on top
    of the at-least-once foreachBatch contract.

    Scale note: this local implementation rewrites the whole table per
    batch (parquet has no transactional row-level replace); on a real
    lake the same ``merge_upsert`` plan feeds a format with commit
    atomicity — only the join strategy matters here, and it is the
    broadcast-when-small CDC join. Partition the serving table by a
    key prefix to rewrite only touched partitions.
    """
    from ..operators.cdc import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # One surviving row per key within the batch; callers needing
        # last-write-wins should pre-reduce with max-by-timestamp.
        batch_df = batch_df.dropDuplicates(keys)
        staged = f"{path}__staged"
        if _serving_state(path):
            target = spark.read.parquet(path)
            merged = merge_upsert(
                target, batch_df.select(*target.columns), keys
            )
        else:
            merged = batch_df
        # write-then-swap: never read and overwrite the same files in
        # one job (parquet scans are lazy — an in-place overwrite would
        # truncate its own input).
        merged.write.mode("overwrite").parquet(staged)
        _promote_dir(staged, path)

    w = (
        streaming_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()
    return q


def stream_scd2_sink(
    streaming_df: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    ts_col: str,
    attr_cols: list[str],
    tiebreak: list[str] | None = None,
    trigger_available_now: bool = True,
):
    """Maintain a Type-2 slowly-changing dimension over a streaming
    change feed — the streaming face of ``operators.cdc.scd2_history``.

    Layout under ``path``: ``log/`` is an append-only change log
    partitioned by batch id (idempotent overwrite per batch — the
    exactly-once recipe of ``write_stream_exactly_once``), ``dim/``
    is the serving dimension. Each micro-batch refreshes intervals
    ONLY for the keys it touches: untouched keys' rows are carried
    over with an anti-join, touched keys are rebuilt from their full
    log slice (validity intervals are per-key state, so a key's
    history can always be rebuilt from that key's changes alone —
    one semi-join + one partitioned window, never a full recompute).

    Crash/replay: the log overwrite is idempotent and the dim rebuild
    is a pure function of (log, batch keys), so a replayed batch
    converges to identical table state. Equality with the batch
    ``scd2_history`` over the same feed is pytest-asserted.
    """
    from ..operators.cdc import scd2_history

    tb = list(tiebreak or [])

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        log_dir = f"{path}/log"
        dim_dir = f"{path}/dim"
        batch_df.write.mode("overwrite").parquet(
            f"{log_dir}/batch_id={batch_id}"
        )
        touched = batch_df.select(*keys).distinct()
        log_all = spark.read.parquet(log_dir).drop("batch_id")
        relevant = log_all.join(touched, on=keys, how="leftsemi")
        rebuilt = scd2_history(
            relevant, keys=keys, ts_col=ts_col,
            attr_cols=attr_cols, tiebreak=tb,
        )
        if _serving_state(dim_dir):
            old = spark.read.parquet(dim_dir)
            merged = old.join(touched, on=keys, how="left_anti").unionByName(
                rebuilt.select(*old.columns)
            )
        else:
            merged = rebuilt
        staged = f"{dim_dir}__staged"
        merged.write.mode("overwrite").parquet(staged)
        _promote_dir(staged, dim_dir)

    w = (
        streaming_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()
    return q


def stream_histogram_sink(
    streaming_df: DataFrame,
    path: str,
    checkpoint: str,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 128,
    trigger_available_now: bool = True,
):
    """Maintain a running equi-width histogram over a stream: each
    micro-batch is sketched (``functions.histogram.histogram_sketch``)
    and bucket-wise SUMMED into the stored sketch. Because histogram
    merge is EXACTLY linear, the final sketch equals the one-shot
    batch build over the whole feed — bit-identical, which is what
    the registered query's oracle asserts. State is <= n_buckets rows
    forever, the streaming-aggregation shape watermarks exist to
    approximate for unbounded keys — here the key space is bounded by
    construction, so no watermark is needed at all.
    """
    from ..functions.histogram import histogram_merge, histogram_sketch

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        sk = histogram_sketch(batch_df, col, lo, hi, n_buckets)
        if _serving_state(path):
            sk = histogram_merge(spark.read.parquet(path), sk)
        staged = f"{path}__staged"
        sk.coalesce(1).write.mode("overwrite").parquet(staged)
        _promote_dir(staged, path)

    w = (
        streaming_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()
    return q


def stream_dq_sink(
    streaming_df: DataFrame,
    path: str,
    checkpoint: str,
    rules: list[dict],
    trigger_available_now: bool = True,
):
    """Streaming data-quality observability: run the declarative
    expectation suite (``operators.dq.check_expectations``) on every
    micro-batch and land the per-batch report keyed by batch id
    (idempotent overwrite — the exactly-once recipe).

    The landed table is (batch_id, rule, n_violations, n_rows,
    passed): the feed a quality dashboard tails and an alerting job
    thresholds. Row-local rules cost ONE conditional-sum pass over
    each batch; relational rules (unique within batch, ref-integrity
    against a static dim) add one bounded job each. Cross-batch
    uniqueness belongs to the serving-table MERGE, not the in-flight
    check.
    """
    from pyspark.sql import functions as F

    from ..operators.dq import check_expectations

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        report = check_expectations(batch_df, rules).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        report.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    w = (
        streaming_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()
    return q


def stream_mv_sink(
    streaming_df: DataFrame,
    path: str,
    checkpoint: str,
    group_cols: list[str],
    measures: dict,
    trigger_available_now: bool = True,
):
    """Maintain a materialized view over a stream: the first batch
    defines the view (``operators.mv.define_mv``), every later batch
    folds in incrementally (``mv_refresh``). Because the fold is the
    same associative merge ``mv_answer`` relies on, the streamed view
    equals the one-shot batch build over the whole feed — the
    registered query's oracle. Per-batch cost is O(batch + |view|);
    the full history is never rescanned.

    Replay caveat: unlike the histogram/SCD2 sinks (pure functions of
    idempotently-overwritten state), a re-folded batch after a crash
    between write and checkpoint commit would double-count; a
    production deployment guards with a committed-batch-id marker in
    the view dir. Out of scope here — availableNow test replays are
    checkpoint-gated, so the invariant holds for this surface.
    """
    from ..operators.mv import define_mv, mv_refresh

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        if os.path.exists(os.path.join(path, "_mv.json")):
            mv_refresh(spark, path, batch_df)
        else:
            define_mv(batch_df, path, group_cols, measures)

    w = (
        streaming_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()
    return q


def stream_ohlc_sink(
    streaming_df: DataFrame,
    path: str,
    checkpoint: str,
    bucket: str = "hour",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
    trigger_available_now: bool = True,
):
    """Streaming OHLC candlesticks via a MERGEABLE accumulator — the
    foreachBatch sibling of ``operators.asof.ohlc_resample``.

    The per-bucket state row is ``(open_carrier, close_carrier, high,
    low, n)`` where the carriers are ``struct(ts, tiebreak, value)``:
    struct MIN/MAX order on (ts, tiebreak) — unique, so the value
    field never decides — which makes the whole state ASSOCIATIVE.
    Each micro-batch folds in as ``unionByName + groupBy(min o, max c,
    max high, min low, sum n)``; batches may arrive in any order and
    split a bucket arbitrarily, and the final state still equals the
    batch rollup exactly (the registered query's full oracle). Same
    write-then-swap discipline as the other sinks; state size is one
    row per bucket — bounded by time span, not row count.
    """
    from pyspark.sql import functions as F

    def _batch_state(df: DataFrame) -> DataFrame:
        carrier = F.struct(
            F.col(ts).alias("t"),
            F.col(tiebreak).alias("k"),
            F.col(value).alias("v"),
        )
        return (
            df.select(
                F.date_trunc(bucket, F.col(ts)).alias("bucket_ts"),
                carrier.alias("car"),
                F.col(value),
            )
            .groupBy("bucket_ts")
            .agg(
                F.min("car").alias("o"),
                F.max("car").alias("c"),
                F.max(value).alias("high"),
                F.min(value).alias("low"),
                F.count(F.lit(1)).alias("n_events"),
            )
        )

    def _merge(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.unionByName(b)
            .groupBy("bucket_ts")
            .agg(
                F.min("o").alias("o"),
                F.max("c").alias("c"),
                F.max("high").alias("high"),
                F.min("low").alias("low"),
                F.sum("n_events").alias("n_events"),
            )
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # The fold is additive, NOT naturally idempotent: a crash
        # between the state swap and the checkpoint commit would
        # replay the batch and double-count it. The applied-batch
        # marker turns at-least-once delivery into exactly-once state
        # (skip batches already folded) — written AFTER the swap, so
        # a crash between swap and marker replays a batch whose fold
        # is visible... therefore the marker is written atomically
        # WITH the state: it rides inside the staged directory.
        has_state = _serving_state(path)  # recovers a torn promote too
        marker = os.path.join(path, "_applied_batch")
        if os.path.exists(marker):
            with open(marker, encoding="utf-8") as fh:
                if batch_id <= int(fh.read().strip()):
                    return  # replayed batch, already folded
        state = _batch_state(batch_df)
        if has_state:
            state = _merge(spark.read.parquet(path), state)
        staged = f"{path}__staged"
        state.write.mode("overwrite").parquet(staged)
        with open(os.path.join(staged, "_applied_batch"), "w",
                  encoding="utf-8") as fh:
            fh.write(str(batch_id))
        _promote_dir(staged, path)

    w = (
        streaming_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()
    return q


def read_ohlc(spark, path: str) -> DataFrame:
    """Read the OHLC state table into the batch result shape
    (bucket_ts, open, high, low, close, n_events)."""
    from pyspark.sql import functions as F

    return spark.read.parquet(path).select(
        "bucket_ts",
        F.col("o.v").alias("open"),
        "high",
        "low",
        F.col("c.v").alias("close"),
        "n_events",
    )


def stream_tx_merge(
    streaming_df: DataFrame,
    table: str,
    checkpoint: str,
    keys: list[str],
    app: str = "stream-merge",
    order_by: list[str] | None = None,
    trigger_available_now: bool = True,
    matched: list[dict] | None = None,
    not_matched: list[dict] | None = None,
    not_matched_by_source: list[dict] | None = None,
):
    """Stream a change feed into a TRANSACTIONAL table as exactly-once
    MERGE commits — the streaming face of ``txlog.tx_merge`` and the
    ACID upgrade of :func:`stream_upsert_sink` (which rewrites
    a plain parquet table wholesale; here only the files containing a
    batch's keys rewrite, atomically, and concurrent batch writers
    stay safe under the commit protocol).

    Exactly-once: each micro-batch's commit carries its streaming
    identity (``txn_app``, ``txn_batch``) — a replayed batch (crash
    between commit and checkpoint write) is found in the LOG ITSELF
    and skipped, so the merge is never applied twice.

    ``order_by``: deterministic within-batch last-write-wins — keep
    each key's row with the GREATEST (order_by...) tuple (e.g.
    ``["ts", "event_id"]``). Without it, duplicate keys in a batch
    reduce by ``dropDuplicates`` (arbitrary survivor). Cross-batch,
    merge is arrival-ordered: feed the sink a time-ordered source when
    global latest-wins matters.

    ``matched``/``not_matched``/``not_matched_by_source``: Delta's
    full CLAUSE model per micro-batch — a CDC feed carrying an op
    column can delete, conditionally update column-by-column, and
    conditionally insert, exactly-once. Omit all three for the plain
    ``UPDATE SET * / INSERT *`` upsert. NOT MATCHED BY
    SOURCE applies per BATCH (target rows the batch doesn't carry) —
    an unconditional clause in a streaming sink is almost never what
    you want; condition it.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..sources import txlog

    if not (matched or not_matched or not_matched_by_source):
        matched = [{"cond": None, "action": "update", "set": None}]
        not_matched = [{"cond": None, "values": None}]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if txlog.txn_seen(table, app, batch_id):
            return  # replay of an already-committed batch
        if batch_df.isEmpty():
            return
        if order_by:
            w = Window.partitionBy(*keys).orderBy(
                *[F.col(c).desc() for c in order_by]
            )
            batch_df = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        ident = {"txn_app": app, "txn_batch": batch_id}
        txlog.tx_merge(
            batch_df.sparkSession,
            table,
            batch_df,
            keys=keys,
            matched=matched,
            not_matched=not_matched,
            not_matched_by_source=not_matched_by_source,
            meta=ident,
        )

    w = (
        streaming_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()
    return q


def stream_tx_append(
    streaming_df: DataFrame,
    table: str,
    checkpoint: str,
    app: str = "stream",
    trigger_available_now: bool = True,
):
    """Stream into a TRANSACTIONAL table (sources/txlog.py) with
    exactly-once appends — the Delta ``txn`` pattern.

    Each micro-batch commits through the table's CAS log carrying its
    streaming identity (``txn_app``, ``txn_batch``). A replayed batch
    (crash between commit and checkpoint write, or a whole re-run with
    a fresh checkpoint) is detected in the LOG ITSELF and skipped, so
    the table never double-ingests — idempotence lives with the data,
    not only in the engine checkpoint. Concurrent BATCH writers stay
    safe for free: tx appends commute, and a concurrent delete/compact
    never conflicts with an append.

    At scale the per-batch overhead is one O(log tail) ledger read and
    one commit-file put — independent of data volume; batch data
    itself stages and renames executor-side like any append.
    """
    from ..sources import txlog

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if txlog.txn_seen(table, app, batch_id):
            return  # replay of an already-committed batch
        txlog.tx_append(
            batch_df, table, meta={"txn_app": app, "txn_batch": batch_id}
        )

    w = (
        streaming_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()
    return q
