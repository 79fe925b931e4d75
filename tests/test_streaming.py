"""Streaming == batch equivalence: each windowed aggregation driven as
a REAL Structured Streaming query (staged directory, availableNow
replay, memory sink) must equal its batch twin computed with the same
window functions on a plain DataFrame."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMOKE

from parallel_dbms_spark.catalog import load_table
from parallel_dbms_spark import streaming


def _sym_diff(a, b):
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def _events(spark):
    return load_table(spark, SF_SMOKE, "events")


def test_tumbling_stream_equals_batch(spark):
    s = streaming.run_stream_to_batch(
        spark, streaming.tumbling_window_agg(streaming.read_events_stream(spark, SF_SMOKE))
    )
    b = streaming.tumbling_window_agg(_events(spark))  # batch: same code path, no watermark effect
    assert _sym_diff(s, b) == 0


def test_sliding_stream_equals_batch(spark):
    s = streaming.run_stream_to_batch(
        spark, streaming.sliding_window_agg(streaming.read_events_stream(spark, SF_SMOKE))
    )
    b = streaming.sliding_window_agg(_events(spark))
    assert _sym_diff(s, b) == 0
    # every event lands in exactly 2 windows (2h width / 1h slide)
    n_events = _events(spark).count()
    assert s.agg(F.sum("n_events")).collect()[0][0] == 2 * n_events


def test_session_stream_equals_batch(spark):
    s = streaming.run_stream_to_batch(
        spark, streaming.session_window_agg(streaming.read_events_stream(spark, SF_SMOKE))
    )
    b = streaming.session_window_agg(_events(spark))
    assert _sym_diff(s, b) == 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Real late-data semantics: two files processed as two micro-batches
    (maxFilesPerTrigger=1). Batch 1's max event time advances the
    watermark; batch 2 contains an event OLDER than the watermark,
    which append-mode must drop — its window was already finalized."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parallel_dbms_spark.streaming.windows import EVENTS_SCHEMA, run_stream_to_batch

    d = tmp_path / "watched"
    d.mkdir()
    H = 3_600_000_000_000  # 1h in ns
    base = 1_600_000_000_000_000_000  # ns epoch, hour-aligned enough

    def table(rows):
        ids, tss = zip(*rows)
        return pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(tss, pa.int64()),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array([""] * len(rows)),
            }
        )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql import functions as F

    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def run_once():
        # parquet sink: supports checkpoint recovery (memory sink does
        # not), so run 2 restores run 1's watermark from the checkpoint
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(str(d))
            .withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        )
        q = (
            streaming.tumbling_window_agg(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: hours 1,2,3 and 10 -> watermark persisted = 10h - 1h = 9h;
    # append emits nothing yet (watermark was 0 during the batch)
    pq.write_table(
        table([(0, base + 1 * H), (1, base + 2 * H), (2, base + 3 * H), (3, base + 10 * H)]),
        d / "a.parquet",
    )
    run_once()
    # run 2 (same checkpoint -> watermark restored): one LATE event in
    # hour 3 (< watermark) + one fresh at hour 11
    pq.write_table(table([(100, base + 3 * H + 1000), (101, base + 11 * H)]), d / "b.parquet")
    run_once()

    rows = sorted(
        (r.window_start, r.n_events) for r in spark.read.parquet(sink).collect()
    )
    # hours 1,2,3 finalized below the restored watermark; the LATE
    # hour-3 event was dropped (count stays 1, not 2); hours 10/11 are
    # still open at stream end -> not emitted in append mode
    assert len(rows) == 3, rows
    assert all(n == 1 for _, n in rows), f"late event leaked into a closed window: {rows}"


def test_session_windows_respect_gap(spark):
    s = streaming.session_window_agg(_events(spark)).collect()
    for r in s:
        assert r.session_end > r.session_start
        # a session's span is at least (n_events-1)*0 and end = last+30m
        assert r.n_events >= 1


def test_stream_stream_join_equals_batch(spark):
    # Inner interval join: streaming result must equal the same join
    # computed on batch DataFrames (EliminateEventTimeWatermark makes
    # the watermarks no-ops in batch — identical code path).
    s = streaming.run_stream_to_batch(
        spark,
        streaming.click_purchase_attribution(
            streaming.read_events_stream(spark, SF_SMOKE).filter("event_type = 'click'"),
            streaming.read_events_stream(spark, SF_SMOKE).filter("event_type = 'purchase'"),
        ),
        output_mode="append",
    )
    ev = _events(spark)
    b = streaming.click_purchase_attribution(
        ev.filter("event_type = 'click'"), ev.filter("event_type = 'purchase'")
    )
    assert s.count() > 0
    assert _sym_diff(s, b) == 0


def test_exactly_once_sink_idempotent_restart(spark, tmp_path):
    # Run the same bounded stream TWICE with the same checkpoint: the
    # second run must re-emit nothing (all batches committed), and the
    # output must equal the batch aggregation exactly once.
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")  # pinned: restart must re-read the same path
    ev = streaming.read_events_stream(spark, SF_SMOKE, staged=src).filter(
        "event_type = 'purchase'"
    )
    streaming.write_stream_exactly_once(ev, out, ckpt)
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 == _events(spark).filter("event_type = 'purchase'").count()
    # "restart": same checkpoint, same (already fully consumed) source
    ev2 = streaming.read_events_stream(spark, SF_SMOKE, staged=src).filter(
        "event_type = 'purchase'"
    )
    streaming.write_stream_exactly_once(ev2, out, ckpt)
    assert spark.read.parquet(out).count() == n1  # no duplicates


def test_stream_upsert_sink_applies_changes(spark, tmp_path):
    # Streaming CDC apply: micro-batches MERGE into a parquet serving
    # table — updates win on key match, new keys append, and a restart
    # with nothing new leaves the table untouched.
    from pyspark.sql import Row

    src = str(tmp_path / "feed")
    out = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt_upsert")

    spark.createDataFrame(
        [Row(k=i, v="a") for i in range(10)]
    ).write.mode("append").parquet(src)

    def run():
        feed = (
            spark.readStream.schema("k long, v string").parquet(src)
        )
        streaming.stream_upsert_sink(feed, out, ckpt, keys=["k"])

    run()
    t1 = {r.k: r.v for r in spark.read.parquet(out).collect()}
    assert t1 == {i: "a" for i in range(10)}

    # phase 2: updates for 5..9, inserts for 10..14
    spark.createDataFrame(
        [Row(k=i, v="b") for i in range(5, 15)]
    ).write.mode("append").parquet(src)
    run()
    t2 = {r.k: r.v for r in spark.read.parquet(out).collect()}
    assert t2 == {**{i: "a" for i in range(5)}, **{i: "b" for i in range(5, 15)}}

    # phase 3: restart with no new data — identical table state
    run()
    assert {r.k: r.v for r in spark.read.parquet(out).collect()} == t2


def test_multi_micro_batch_replay_equals_batch(spark, tmp_path):
    # A REAL multi-batch stream: the fixture staged as 4 files,
    # maxFilesPerTrigger=1 -> availableNow replays it as ~4 micro-
    # batches. Window state must accumulate correctly ACROSS batches;
    # the final complete-mode result equals the one-shot batch
    # aggregation (same oracle as stream_tumbling_hour).
    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.streaming import (
        read_events_stream,
        run_stream_to_batch,
        tumbling_window_agg,
    )

    events = read_events_stream(
        spark, SF_SMOKE, staged=str(tmp_path / "ev4"),
        n_files=4, max_files_per_trigger=1,
    )
    got = run_stream_to_batch(spark, tumbling_window_agg(events))

    batch = load_table(spark, SF_SMOKE, "events")
    want = (
        batch.groupBy(
            F.window("ts", "1 hour").alias("win"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stateful_query_on_rocksdb_state_store(spark, tmp_path):
    # RocksDB-backed state store: state lives off-heap/on-disk per
    # executor instead of in JVM heap — the config that keeps
    # billion-key streaming state from OOMing at scale. The windowed
    # aggregation must produce identical results under it.
    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.streaming import (
        read_events_stream,
        run_stream_to_batch,
        tumbling_window_agg,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        events = read_events_stream(
            spark, SF_SMOKE, staged=str(tmp_path / "ev_rocks"),
            n_files=2, max_files_per_trigger=1,
        )
        got = run_stream_to_batch(spark, tumbling_window_agg(events))
        want = (
            load_table(spark, SF_SMOKE, "events")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            )
            .select(F.col("win.start").alias("window_start"),
                    "event_type", "n_events", "sum_value")
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    finally:
        spark.conf.set(key, old)


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    # Late-data policy, the semantic watermarks exist for: an event
    # whose window closed before the late-event watermark is DROPPED.
    # Spark 3.4+ filters late rows with the PREVIOUS batch's watermark
    # (eventTimeWatermarkForLateEvents), so the drop engages one batch
    # after the watermark advances: batch 0 sets max=13:00 (watermark
    # 12:00), batch 1 advances it again (max 13:30 -> 12:30), batch 2
    # delivers a 03:30 straggler (window [03:00,04:00) far below the
    # 12:00 late-event watermark -> dropped) plus an on-time 14:00 row.
    import os
    import time

    from pyspark.sql import Row, functions as F

    from parallel_dbms_spark.streaming import run_stream_to_batch
    from parallel_dbms_spark.streaming.windows import (
        EVENTS_SCHEMA,
        tumbling_window_agg,
    )

    staged = str(tmp_path / "late_ev")
    os.makedirs(staged)
    day_ns = 86_400 * 1_000_000_000
    base = 1_700_000_000_000_000_000 // day_ns * day_ns  # midnight-aligned

    def ns(hhmm: str) -> int:
        h, m = map(int, hhmm.split(":"))
        return base + (h * 3600 + m * 60) * 1_000_000_000

    def write_file(name, rows, mtime):
        pdf = spark.createDataFrame(
            [Row(event_id=i, ts=ns(t), user_id=1, event_type="click",
                 value=1.0, props="{}") for i, t in enumerate(rows)],
            schema=EVENTS_SCHEMA,
        )
        tmp = str(tmp_path / ("w_" + name))
        pdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(staged, name)
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))

    t0 = time.time() - 1000
    write_file("b1.parquet", ["12:10", "12:50", "13:00"], t0)
    write_file("b2.parquet", ["13:30"], t0 + 100)
    write_file("b3.parquet", ["03:30", "14:00"], t0 + 200)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    )
    got = run_stream_to_batch(
        spark, tumbling_window_agg(stream), output_mode="update"
    )
    starts = {r.window_start.strftime("%H:%M") for r in got.collect()}
    assert "03:00" not in starts, "late event beyond watermark must be dropped"
    assert {"12:00", "13:00", "14:00"} <= starts


def test_running_user_max_typed_state(spark):
    import pytest

    from parallel_dbms_spark.streaming.stateful import running_user_max, tws_available

    if not tws_available():
        pytest.skip("transformWithStateInPandas needs protobuf (absent here)")
    ev = streaming.read_events_stream(spark, SF_SMOKE)
    got = streaming.run_stream_to_batch(spark, running_user_max(ev), output_mode="update")
    expect = {
        (r.user_id, r.n, round(r.mx, 9))
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    final = {(r.user_id, r.n_events, round(r.max_value, 9)) for r in got.collect()}
    assert expect <= final


def test_stream_to_versioned_table_lands_pinned_versions(spark, tmp_path):
    from parallel_dbms_spark.sources import txlog
    from parallel_dbms_spark.streaming import read_events_stream, stream_tx_append

    ev = read_events_stream(
        spark,
        SF_SMOKE,
        staged=str(tmp_path / "staged"),
        n_files=3,
        max_files_per_trigger=1,
    ).select("event_id", "user_id", "ts")
    t = str(tmp_path / "versioned")
    stream_tx_append(ev, t, checkpoint=str(tmp_path / "ckpt"))
    versions = txlog.log_versions(t)
    # one staged file per trigger -> each batch lands as its own version
    assert len(versions) == 3
    counts = [txlog.read_snapshot(spark, t, version=v).count() for v in versions]
    # every version adds rows, and a pinned read of an early version
    # still sees only its own batches after later commits landed
    assert counts == sorted(set(counts))
    batch = spark.read.parquet(str(tmp_path / "staged")).count()
    assert counts[-1] == batch


def test_stream_neardup_dedup_equals_batch_reference(spark, tmp_path):
    # Near-dups planted ACROSS micro-batches: batch 2 re-sends light
    # paraphrases of batch 1 docs. The streaming pass (band state +
    # greedy-by-id within batch) must keep exactly what the batch
    # reference keeps, and a checkpointed restart with no new files
    # must emit nothing new.
    from pyspark.sql import Row

    from parallel_dbms_spark.streaming import (
        neardup_reference_kept,
        stream_neardup_dedup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm windowsill every day"
    )
    uniq = [
        "completely different text about spark distributed query engines",
        "another unrelated document describing parquet column pruning",
        "a third standalone text on watermark semantics in streams",
        "fourth text entirely about broadcast hash join thresholds",
    ]
    b1 = [Row(doc_id=1, text=base), Row(doc_id=2, text=uniq[0]),
          Row(doc_id=3, text=uniq[1])]
    # 11/13 near-dup base; 12 dup of a batch-1 unique; 14 fresh
    b2 = [Row(doc_id=11, text=base + " extra"),
          Row(doc_id=12, text=uniq[0]),
          Row(doc_id=13, text="indeed " + base),
          Row(doc_id=14, text=uniq[2]),
          Row(doc_id=15, text=uniq[3])]

    src = str(tmp_path / "docs_feed")
    out = str(tmp_path / "kept")
    state = str(tmp_path / "band_state")
    ckpt = str(tmp_path / "ckpt_neardup")

    spark.createDataFrame(b1).write.mode("append").parquet(src)

    def run():
        feed = spark.readStream.schema("doc_id long, text string").parquet(src)
        stream_neardup_dedup(feed, out, state, ckpt)

    run()
    spark.createDataFrame(b2).write.mode("append").parquet(src)
    run()

    kept_stream = sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    )
    all_docs = spark.createDataFrame(b1 + b2)
    kept_batch = sorted(
        r.doc_id for r in neardup_reference_kept(all_docs).collect()
    )
    assert kept_stream == kept_batch
    assert 1 in kept_stream and 2 in kept_stream  # originals survive
    assert 11 not in kept_stream and 13 not in kept_stream  # paraphrases drop
    assert 12 not in kept_stream  # exact cross-batch dup drops
    assert 14 in kept_stream and 15 in kept_stream  # fresh docs survive

    # restart with nothing new: no new output rows
    n_before = spark.read.parquet(out).count()
    run()
    assert spark.read.parquet(out).count() == n_before


def test_stream_scd2_sink_equals_batch_history(spark, tmp_path):
    # Micro-batched SCD2 maintenance over 4 file-batches must land the
    # SAME dimension as the one-shot batch rebuild over the full feed.
    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.operators import scd2_history
    from parallel_dbms_spark.streaming import read_events_stream
    from parallel_dbms_spark.streaming.sinks import stream_scd2_sink

    feed = read_events_stream(
        spark, SF_SMOKE, staged=str(tmp_path / "scd2src"),
        n_files=4, max_files_per_trigger=1,
    ).select("user_id", "event_id", "ts", "event_type")
    root = str(tmp_path / "scd2")
    stream_scd2_sink(
        feed, root, str(tmp_path / "ck"),
        keys=["user_id"], ts_col="ts",
        attr_cols=["event_type"], tiebreak=["event_id"],
    )
    got = spark.read.parquet(root + "/dim")

    batch = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    want = scd2_history(
        batch, keys=["user_id"], ts_col="ts",
        attr_cols=["event_type"], tiebreak=["event_id"],
    )
    assert got.count() == want.count()
    # null-safe row-set equality (valid_to is NULL on current rows, and
    # plain equi-anti-join would treat NULL != NULL as a mismatch)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w
    # exactly one current row per user in the served dimension
    cur = got.filter(F.col("is_current")).groupBy("user_id").count()
    assert cur.filter(F.col("count") != 1).count() == 0


def test_stream_histogram_sink_equals_batch_sketch(spark, tmp_path):
    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.functions.histogram import histogram_sketch
    from parallel_dbms_spark.streaming import read_events_stream
    from parallel_dbms_spark.streaming.sinks import stream_histogram_sink

    feed = read_events_stream(
        spark, SF_SMOKE, staged=str(tmp_path / "src"),
        n_files=4, max_files_per_trigger=1,
    )
    out = str(tmp_path / "sk")
    stream_histogram_sink(
        feed, out, str(tmp_path / "ck"),
        col="value", lo=0.0, hi=1000.0, n_buckets=64,
    )
    got = {r.bucket: r.cnt for r in spark.read.parquet(out).collect()}
    want = {r.bucket: r.cnt for r in histogram_sketch(
        load_table(spark, SF_SMOKE, "events"), "value", 0.0, 1000.0, 64
    ).collect()}
    assert got == want  # linearity: streamed merge == one-shot build


def test_stream_dq_sink_reports_per_batch_and_totals_reconcile(spark, tmp_path):
    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.streaming import read_events_stream
    from parallel_dbms_spark.streaming.sinks import stream_dq_sink

    feed = read_events_stream(
        spark, SF_SMOKE, staged=str(tmp_path / "src"),
        n_files=3, max_files_per_trigger=1,
    )
    out = str(tmp_path / "dq")
    stream_dq_sink(
        feed, out, str(tmp_path / "ck"),
        rules=[
            {"type": "not_null", "col": "user_id"},
            {"type": "in_range", "col": "value", "lo": 0.0},
            {"type": "unique", "cols": ["event_id"]},
        ],
    )
    rep = spark.read.parquet(out)
    # 3 batches x 3 rules, and per-rule n_rows sums to the full feed
    assert rep.select("batch_id").distinct().count() == 3
    assert rep.count() == 9
    n_total = load_table(spark, SF_SMOKE, "events").count()
    per_rule = rep.groupBy("rule").sum("n_rows").collect()
    assert all(r["sum(n_rows)"] == n_total for r in per_rule)
    # event_id is unique globally, hence within every batch
    assert rep.filter("rule like 'unique%' and not passed").count() == 0


def test_stream_mv_sink_equals_batch_rollup(spark, tmp_path):
    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.streaming import read_events_stream
    from parallel_dbms_spark.streaming.sinks import stream_mv_sink

    feed = read_events_stream(
        spark, SF_SMOKE, staged=str(tmp_path / "src"),
        n_files=4, max_files_per_trigger=1,
    ).select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    out = str(tmp_path / "mv")
    stream_mv_sink(
        feed, out, str(tmp_path / "ck"),
        group_cols=["event_type"],
        measures={"s": ("sum", "cents"), "n": ("count", "cents"),
                  "lo": ("min", "cents"), "hi": ("max", "cents")},
    )
    got = {r.event_type: (r.s, r.n, r.lo, r.hi)
           for r in spark.read.parquet(out).collect()}
    want = {r.event_type: (r.s, r.n, r.lo, r.hi) for r in
            load_table(spark, SF_SMOKE, "events")
            .select("event_type", F.floor(F.col("value") * 100).cast("long").alias("cents"))
            .groupBy("event_type")
            .agg(F.sum("cents").alias("s"), F.count("cents").alias("n"),
                 F.min("cents").alias("lo"), F.max("cents").alias("hi"))
            .collect()}
    assert got == want


def test_stream_stream_left_outer_emits_unmatched_clicks(spark):
    """The left-outer interval join must emit null-padded rows for
    clicks with no in-lookback purchase — and exactly match the batch
    left join once the sentinel staging pushes the watermark past the
    real data."""
    from pyspark.sql import functions as F

    from parallel_dbms_spark.queries.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    out = REGISTRY["stream_stream_left_outer"].fn(spark, sf).cache()
    outer = out.filter(F.col("purchase_id").isNull())
    inner = out.filter(F.col("purchase_id").isNotNull())
    assert outer.count() > 0, "no null-padded outer rows emitted"
    assert inner.count() > 0

    from parallel_dbms_spark.catalog import load_table

    ev = load_table(spark, sf, "events")
    c = ev.filter("event_type = 'click'").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
        "left",
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts", "purchase_value")
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want
    out.unpersist()


def test_stream_stream_full_outer_join_equals_batch(spark):
    """fullOuter stream-stream interval join: unmatched CLICKS and
    unmatched PURCHASES both emit null-padded after the watermark
    closes their windows — equals the batch FULL join."""
    import tempfile

    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.queries.registry import REGISTRY  # noqa: F401
    from parallel_dbms_spark.streaming.joins import (
        click_purchase_attribution,
        stage_with_watermark_sentinels,
    )
    from parallel_dbms_spark.streaming.windows import (
        EVENTS_SCHEMA_TS,
        run_stream_to_batch,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    staged = tempfile.mkdtemp(prefix="ss_fouter_")
    stage_with_watermark_sentinels(ev, staged)
    src = (
        spark.readStream.schema(EVENTS_SCHEMA_TS)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    joined = click_purchase_attribution(
        src.filter("event_type = 'click'"),
        src.filter("event_type = 'purchase'"),
        lookback="30 minutes",
        how="fullOuter",
    )
    out = (
        run_stream_to_batch(spark, joined, output_mode="append")
        .filter(
            (F.col("user_id").isNull() | (F.col("user_id") >= 0))
        )
        # sentinel purchases surface as unmatched right rows with the
        # sentinel's own join key in purchase columns: drop by ids < 0
        .filter(F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        .filter(F.col("click_id").isNull() | (F.col("click_id") >= 0))
        .cache()
    )
    c = ev.filter("event_type = 'click'").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
        "full",
    ).select(
        "user_id", "click_id", "purchase_id", "click_ts", "purchase_ts",
        "purchase_value",
    )
    got = sorted(map(tuple, out.collect()), key=repr)
    want = sorted(map(tuple, batch.collect()), key=repr)
    assert len(got) == len(want)
    assert got == want
    out.unpersist()


def test_update_output_mode_emits_only_changed_groups(spark, tmp_path):
    """outputMode=update contract: each micro-batch emits ONLY the
    groups whose aggregate changed in that batch, and the latest row
    per group equals the batch aggregate — the incremental-serving
    mode between append (finalized only) and complete (everything,
    every time)."""
    import os
    import time

    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").filter("user_id % 7 = 0").select(
        "user_id", "value"
    )
    staged = str(tmp_path / "staged")
    # three disjoint user cohorts land as three files, oldest first
    cohorts = [ev.filter(f"user_id % 3 = {i}") for i in range(3)]
    for i, c in enumerate(cohorts):
        c.coalesce(1).write.mode("append").parquet(staged)
        time.sleep(0.05)  # distinct mtimes -> deterministic batch order
    batches: dict[int, list] = {}

    def sink(bdf, bid):
        batches[int(bid)] = [(r["user_id"], r["n"]) for r in bdf.collect()]

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) == 3

    # each batch emits exactly its cohort's users — unchanged groups
    # are NOT re-emitted (the whole point of update mode)
    for i in range(3):
        want_users = {r["user_id"] for r in cohorts[i].select("user_id").distinct().collect()}
        got_users = {u for u, _ in batches[i]}
        assert got_users == want_users, f"batch {i}"

    # latest emission per user == the batch aggregate
    latest = {}
    for bid in sorted(batches):
        for u, n in batches[bid]:
            latest[u] = n
    want = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert latest == want


def test_progress_listener_captures_micro_batches(spark, tmp_path):
    """The listener sees one progress event per micro-batch, input rows
    reconcile with the staged data, and the stateful agg reports
    nonzero state — proving the replay REALLY ran batch-by-batch."""
    import time

    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.streaming.observe import capture_progress

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").filter("user_id % 7 = 0").select(
        "user_id", "value"
    )
    staged = str(tmp_path / "staged")
    for i in range(3):
        ev.filter(f"user_id % 3 = {i}").coalesce(1).write.mode("append").parquet(staged)
        time.sleep(0.05)

    with capture_progress(spark) as cap:
        q = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.outputMode("update")
            .format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener callbacks are delivered asynchronously after
        # termination — wait for all 3 batch events (bounded)
        for _ in range(100):
            if len([e for e in cap.events if e.num_input_rows > 0]) >= 3:
                break
            time.sleep(0.1)

    fed = [e for e in cap.events if e.num_input_rows > 0]
    assert len(fed) == 3, f"expected 3 fed micro-batches, got {cap.events}"
    assert sum(e.num_input_rows for e in fed) == ev.count()
    assert fed[-1].state_rows > 0  # the stateful agg reported its footprint


def test_append_mode_holds_back_open_windows(spark, tmp_path):
    """Append-mode windowed aggregation emits a window ONLY after the
    watermark passes its end. Replaying the same data with and without
    trailing watermark-sentinel batches shows the difference: with
    sentinels every real window is closed (== batch groupBy); without,
    the trailing window(s) near max event time are withheld."""
    import tempfile

    from pyspark.sql import functions as F

    from parallel_dbms_spark.catalog import load_table
    from parallel_dbms_spark.streaming.joins import stage_with_watermark_sentinels
    from parallel_dbms_spark.streaming.windows import EVENTS_SCHEMA_TS

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").filter("user_id % 5 = 0")

    max_day = ev.agg(
        F.date_trunc("day", F.max("ts")).alias("d")
    ).collect()[0]["d"]

    def run(staged):
        # sentinels flow THROUGH the watermark/aggregation (filtering
        # them out upstream would stop event time from advancing);
        # their windows sit 48h past the real data, so dropping output
        # days beyond the real max day removes exactly them
        agg = (
            spark.readStream.schema(EVENTS_SCHEMA_TS)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("day"), "n")
        )
        from parallel_dbms_spark.streaming.windows import run_stream_to_batch

        return {
            (r["day"], r["n"]) for r in run_stream_to_batch(
                spark, agg, output_mode="append"
            ).collect()
            if r["day"] <= max_day
        }

    with_sentinels = tempfile.mkdtemp(prefix="app_sent_")
    stage_with_watermark_sentinels(ev, with_sentinels, advance_hours=48)
    got_closed = run(with_sentinels)

    bare = tempfile.mkdtemp(prefix="app_bare_")
    ev.coalesce(1).write.mode("append").parquet(bare)
    got_bare = run(bare)

    want = {
        (r["day"], r["n"])
        for r in ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("day"), "n")
        .collect()
    }
    assert got_closed == want, "sentinel replay must close every real window"
    assert got_bare < want, (
        "bare replay should withhold the still-open trailing window(s)"
    )


def test_promote_dir_crash_windows_recoverable(spark, tmp_path):
    """ADVICE r5 (low): the serving-table swap must have no window in
    which neither old nor new state exists. Simulate both crash points
    of _promote_dir and assert _serving_state recovers state."""
    import os

    from parallel_dbms_spark.streaming import sinks

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    df.write.parquet(path)
    assert sinks._serving_state(path)

    # crash point 1: old renamed aside, staged not yet promoted
    os.replace(path, path + "__old")
    assert not os.path.exists(path)
    assert sinks._serving_state(path)  # recovered from __old
    assert spark.read.parquet(path).count() == 1

    # crash point 2: staged promoted, old not yet deleted -> the NEWER
    # state (path) wins; __old is stale and must not clobber it
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string") \
        .write.mode("overwrite").parquet(path + "__old_src")
    os.replace(path, path + "__old")          # old state aside
    os.replace(path + "__old_src", path)      # new state in place
    assert sinks._serving_state(path)
    assert spark.read.parquet(path).count() == 2  # newer state served

    # full promote cleans up
    staged = path + "__staged"
    spark.createDataFrame([(3, "c")], "k long, v string").write.parquet(staged)
    sinks._promote_dir(staged, path)
    assert not os.path.exists(path + "__old")
    assert not os.path.exists(staged)
    assert {r.k for r in spark.read.parquet(path).collect()} == {3}
