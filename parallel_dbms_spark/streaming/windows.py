"""Structured Streaming surface over the ``events`` table.

The reference has zero streaming constructs (SURVEY §1.5) — this is the
extension surface. Streams are declared once as readStream transforms;
for deterministic tests/oracles we replay the parquet fixture with an
``availableNow`` trigger into a memory sink, which processes the whole
backlog as a bounded stream and stops — identical semantics to a live
run, minus waiting.

Watermarks bound state: a 1-hour watermark on ts means window state
older than (max event time - 1h) is evicted — the property that keeps
a 100 TB/day stream's state finite.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) scanned as int64
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Same table with ts as a real timestamp — the shape of the staged
# stream when the fixture ships timestamp[us] instead of TIMESTAMP(NANOS).
EVENTS_SCHEMA_TS = T.StructType(
    [f if f.name != "ts" else T.StructField("ts", T.TimestampType()) for f in EVENTS_SCHEMA]
)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    staged: str | None = None,
    n_files: int = 1,
    max_files_per_trigger: int | None = None,
    order_by_ts: bool = False,
) -> DataFrame:
    """events.parquet as a bounded stream (ns -> µs ts conversion as in
    catalog.load_table).

    Spark's file stream source requires a *directory* (it monitors it
    for new files), so the fixture file is staged into a temp dir — the
    exact shape of a production landing zone, where files arrive into a
    watched directory. Pass ``staged`` to pin the directory (a restart
    against a checkpoint must re-read the SAME source path).

    ``n_files`` > 1 stages the fixture as that many parquet files;
    combined with ``max_files_per_trigger`` the replay then runs as
    MULTIPLE micro-batches — exercising cross-batch state (window
    accumulation, watermark advancement) instead of a single-batch
    pass, which is what a live stream actually does.

    ``order_by_ts`` stages the files RANGE-PARTITIONED on ``ts`` so
    micro-batches arrive in event-time order (the file source picks
    files up by (modTime, path), and range partition 0 writes the
    lowest ts range to part-00000) — the shape of a landing zone fed
    by a time-ordered upstream, which deterministic cross-batch upsert
    semantics need.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The fixture has shipped ts as TIMESTAMP(NANOS) (scanned int64 via
    # nanosAsLong) and as timestamp[us]; stage accordingly.
    legacy_ns = dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes).get("ts") == "bigint"
    if staged is None:
        staged = tempfile.mkdtemp(prefix="events_stream_")
    else:
        os.makedirs(staged, exist_ok=True)
    # Stamp the directory with the physical staging mode; a reuse with
    # a DIFFERENT (encoding, n_files) wipes and restages, so one dir
    # can never mix int64-nanos and µs-timestamp parquet files. (The
    # leading underscore keeps the marker invisible to the file
    # source.)
    mode = (
        "ns-raw" if (legacy_ns and n_files <= 1 and not order_by_ts)
        else f"us-{n_files}{'-ts' if order_by_ts else ''}"
    )
    marker = os.path.join(staged, "_staging_mode")
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as fh:
            if fh.read().strip() != mode:
                shutil.rmtree(staged)
                os.makedirs(staged)
    if legacy_ns and n_files <= 1 and not order_by_ts:
        target = os.path.join(staged, "part-0.parquet")
        if not os.path.exists(target):
            shutil.copy(f"{sf_dir}/events.parquet", target)
    elif not os.path.exists(os.path.join(staged, "_SUCCESS")):
        # Restage through load_table so ts lands as a session-zone (UTC)
        # timestamp regardless of the fixture's physical encoding.
        from ..catalog import load_table

        ev = load_table(spark, sf_dir, "events")
        part = (
            ev.repartitionByRange(n_files, "ts").sortWithinPartitions("ts")
            if order_by_ts
            else ev.repartition(n_files)
        )
        part.write.mode("overwrite").parquet(staged)
        if order_by_ts:
            # the file source picks files up by (modTime, path); one
            # write job gives every part the same mtime, so pin the
            # pickup order to the ts-range order explicitly
            import time as _time

            now = _time.time()
            parts = sorted(
                f for f in os.listdir(staged) if f.startswith("part-")
            )
            for i, f in enumerate(parts):
                t = now - 60 * (len(parts) - i)
                os.utime(os.path.join(staged, f), (t, t))
    with open(marker, "w", encoding="utf-8") as fh:
        fh.write(mode)
    schema = EVENTS_SCHEMA if legacy_ns and n_files <= 1 else EVENTS_SCHEMA_TS
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    df = reader.parquet(staged)
    if schema is EVENTS_SCHEMA:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


# Sums/averages go through exact DECIMAL(18,2) then back to DOUBLE so
# results are accumulation-order-independent — the same convention as
# the batch query surface (queries/relational.py module doc): a
# streaming run and its batch oracle then agree bit-for-bit.
def _money(col: str):
    return F.col(col).cast("decimal(18,2)")


def tumbling_window_agg(events: DataFrame, width: str = "1 hour",
                        watermark: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_money("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(events: DataFrame, width: str = "2 hours",
                       slide: str = "1 hour", watermark: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_money("value")).cast("double") / F.count("value")).alias("avg_value"),
        )
        .select(F.col("win.start").alias("window_start"), "n_events", "avg_value")
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes",
                       watermark: str = "1 hour") -> DataFrame:
    """Per-user session windows: a session closes after ``gap`` of
    inactivity. State is bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_money("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_state_partitions(spark: SparkSession) -> int:
    """Shuffle/state partition count for STREAMING queries.

    Why streaming needs its own number (r14, guide §2.2/§2.5 +
    VERDICT r13 ask #4): a stateful streaming aggregation creates one
    state-store instance PER shuffle partition, each paying per-batch
    open/commit/snapshot fixed costs, and — unlike batch — AQE cannot
    coalesce the shuffle (Spark disables AQE in stateful workloads),
    so the session's batch-sized `spark.sql.shuffle.partitions` is
    frozen verbatim into the checkpoint. Measured at sf0.1: the
    tumbling-window replay spends ~35% of its wall on the 32 idle
    state stores a 32-core session default creates (1.33 s → 0.87 s
    at 8 partitions, identical results).

    Production lever: $SPARK_GRAFT_STREAM_STATE_PARTITIONS — size it
    to state volume (state bytes / ~100 MB per store), the number a
    pipeline owner freezes into the checkpoint deliberately. Local
    default: cores/4 (floor 4) — scales up with the machine instead
    of pinning a local constant, while bounding the per-batch
    state-store overhead AQE would have trimmed in a batch plan.
    Existing checkpoints are unaffected: Spark replays the partition
    count recorded in the checkpoint's offsets."""
    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env:
        return max(1, int(env))
    cores = spark.sparkContext.defaultParallelism
    return max(4, cores // 4)


def run_stream_to_batch(
    spark: SparkSession, streaming_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming DataFrame over the full fixture backlog
    (trigger availableNow) into a memory sink; return the result as a
    batch DataFrame. outputMode=complete so closed-and-open windows are
    all present (deterministic replay for the oracle); stateful
    applyInPandasWithState operators require ``update``.

    The streaming query plans with :func:`stream_state_partitions`
    shuffle partitions (restored after the replay finishes): results
    are partitioning-independent, only the per-batch state-store fixed
    cost changes.

    Not thread-safe: the partition count is set on the session-global
    ``spark.sql.shuffle.partitions`` for the length of the replay, so a
    query planned concurrently on the same session (another thread, or
    a second replay) sees the replay's value, and two overlapping
    replays can restore each other's saved value out of order. Give
    concurrent callers their own ``spark.newSession()``."""
    name = "s_" + uuid.uuid4().hex[:12]
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(stream_state_partitions(spark)))
    try:
        q = (
            streaming_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(key, saved)
    return spark.table(name)
