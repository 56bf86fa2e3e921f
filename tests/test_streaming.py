"""Streaming semantics tests (SURVEY.md §5 item 6): watermark
late-data drop across micro-batches, and batch-equivalence of the
session windows."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import functions as F


def test_watermark_drops_late_rows(spark):
    """Two micro-batches: batch 2 delivers an event older than the
    watermark established by batch 1 → it must be dropped; a fresh
    event in the same batch survives."""
    root = os.path.join(tempfile.gettempdir(), f"wm_test_{uuid.uuid4().hex[:8]}")
    src = os.path.join(root, "src")
    os.makedirs(src)
    schema = "event_id BIGINT, ts TIMESTAMP"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, name))
        # FileStreamSource processes files in discovery order; stage
        # the finished parquet into the watched dir atomically.
        part = [
            f
            for f in os.listdir(os.path.join(root, name))
            if f.endswith(".parquet")
        ][0]
        shutil.copyfile(
            os.path.join(root, name, part), os.path.join(src, f"{name}.parquet")
        )

    import datetime as dt
    import time

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    # One file per micro-batch (maxFilesPerTrigger=1, mtime order).
    # Spark's late-event filter uses the watermark lagging one batch
    # behind eviction, so the late row arrives two batches after the
    # data that advanced the watermark past it.
    write_file("b1", [(1, t(12, 0)), (2, t(12, 30))])  # wm → 12:20
    time.sleep(1.1)
    write_file("b2", [(4, t(12, 40))])  # wm → 12:30
    time.sleep(1.1)
    write_file("b3", [(3, t(11, 0)), (5, t(12, 50))])  # 11:00 is late → drop
    time.sleep(1.1)
    write_file("b4", [(6, t(13, 30))])  # wm → 13:20: flushes [12,13)

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), "n")
    )
    # Append mode is where Spark GUARANTEES the late-drop (update
    # mode documents that too-late rows "may or may not" aggregate).
    # Final watermark = 13:20 flushes [12:00,13:00); had the 11:00
    # row entered state, [11:00,12:00) would flush too.
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert sum(p["numInputRows"] for p in q.recentProgress) == 6
    # The exact late-drop COUNT, from the state operator's own
    # counter: exactly ONE row (the 11:00 event) crossed the
    # watermark — not zero (semantics off) and not two (an on-time
    # row mis-dropped).
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1, f"expected exactly 1 late-dropped row, got {dropped}"
    rows = {(r.win_start.hour, r.n) for r in spark.table(name).collect()}
    assert not any(h == 11 for h, _ in rows), f"late row leaked into state: {rows}"
    assert (12, 4) in rows, f"on-time window missing/wrong: {rows}"
    shutil.rmtree(root, ignore_errors=True)


def test_dedup_watermark_evicts_state_and_reemits_after_eviction(spark):
    """dropDuplicatesWithinWatermark's bounded-state contract, both
    directions: a duplicate arriving WITHIN the delay is dropped, and
    once the watermark evicts the key's state, a later duplicate of
    the same key is EMITTED AGAIN — the price of bounded state, and
    the behavior that must not silently change. Eviction itself is
    asserted via the state store's numRowsRemoved counter."""
    import datetime as dt
    import time

    root = os.path.join(tempfile.gettempdir(), f"ddw_test_{uuid.uuid4().hex[:8]}")
    src = os.path.join(root, "src")
    os.makedirs(src)
    schema = "event_id BIGINT, ts TIMESTAMP"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, name))
        part = [
            f
            for f in os.listdir(os.path.join(root, name))
            if f.endswith(".parquet")
        ][0]
        shutil.copyfile(
            os.path.join(root, name, part), os.path.join(src, f"{name}.parquet")
        )

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    # delay = 10 min. b1 seeds id=1 (state expiry ≤ 12:17 even if a
    # duplicate extends it); b2 re-delivers id=1 within the delay
    # (dropped) and advances the watermark to 13:50; b3 is a spacer
    # batch — eviction lags one batch behind the data that advanced
    # the watermark, so id=1's state is removed during b3's commit;
    # b4 re-delivers id=1 with an on-time ts → state is gone, the
    # row emits again.
    write_file("b1", [(1, t(12, 0)), (2, t(12, 5))])
    time.sleep(1.1)
    write_file("b2", [(1, t(12, 7)), (3, t(14, 0))])
    time.sleep(1.1)
    write_file("b3", [(4, t(14, 5))])
    time.sleep(1.1)
    write_file("b4", [(1, t(14, 10))])

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = f"ddw_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert sum(p["numInputRows"] for p in q.recentProgress) == 6
    evicted = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert evicted > 0, "watermark never evicted dedup state"
    got = [r.event_id for r in spark.table(name).collect()]
    from collections import Counter

    counts = Counter(got)
    assert counts[1] == 2, f"id=1 must emit once per state lifetime: {counts}"
    assert counts[2] == counts[3] == counts[4] == 1, (
        f"unexpected dedup output: {counts}"
    )
    shutil.rmtree(root, ignore_errors=True)


def test_session_window_matches_islands(spark, sf_dir):
    """session_window == the lag/cumsum islands rewrite on real events."""
    from configdrivendatapipeline_spark.queries import registry

    q = registry()["stream_session"]
    got = q.build(spark, sf_dir)
    assert got.count() > 0
    # one session per (user, start); ends after starts everywhere
    bad = got.filter(F.col("session_end") <= F.col("session_start")).count()
    assert bad == 0


def test_normalize_ts_canonicalizes_every_parquet_encoding(spark):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) (long
    under nanosAsLong), TIMESTAMP(MICROS, isAdjustedToUTC=false)
    (TIMESTAMP_NTZ in Spark 4) and plain TIMESTAMP across rounds —
    all three must normalize to the same TimestampType instants,
    batch and streaming (withWatermark rejects NTZ)."""
    import datetime as dt

    from configdrivendatapipeline_spark.queries import normalize_ts

    want = dt.datetime(2024, 3, 1, 12, 0, 5)
    us = int(want.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000

    as_long = spark.createDataFrame([(1, us * 1000)], "event_id BIGINT, ts BIGINT")
    as_ntz = spark.createDataFrame([(1, want)], "event_id BIGINT, ts TIMESTAMP_NTZ")
    as_ltz = spark.createDataFrame([(1, want)], "event_id BIGINT, ts TIMESTAMP")

    outs = []
    for df in (as_long, as_ntz, as_ltz):
        out = normalize_ts(df)
        assert dict(out.dtypes)["ts"] == "timestamp"
        outs.append(out.collect()[0].ts)
    assert outs[0] == outs[1] == outs[2]

    # the NTZ form must be watermarkable after normalization
    root = os.path.join(tempfile.gettempdir(), f"ntz_{uuid.uuid4().hex[:8]}")
    as_ntz.write.parquet(root)
    sdf = normalize_ts(
        spark.readStream.schema(as_ntz.schema).parquet(root)
    ).withWatermark("ts", "10 minutes")
    q = (
        sdf.groupBy(F.window("ts", "1 hour"))
        .count()
        .writeStream.format("memory")
        .queryName(f"ntz_q_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(root, ignore_errors=True)


def test_scaled_stream_partitions_sizing(spark):
    """The streaming stateful-shuffle sizing rule: ceil(bytes /
    advisory) clamped to [min(dp, 4), dp] — small backlogs stop
    paying per-partition state overhead, big backlogs still get full
    parallelism."""
    from configdrivendatapipeline_spark.streaming.ops import (
        _parse_byte_conf,
        scaled_stream_partitions,
    )

    dp = spark.sparkContext.defaultParallelism
    floor = min(dp, 4)
    adv = _parse_byte_conf(
        spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
        )
    )
    # tiny backlog → floor, huge backlog → cores
    assert scaled_stream_partitions(spark, 1) == floor
    assert scaled_stream_partitions(spark, adv * dp * 100) == dp
    # mid-range tracks ceil(bytes / advisory) once above the floor
    want = max(floor, min(dp, 7))
    assert scaled_stream_partitions(spark, adv * 7) == want
    # byte-suffix parsing used for the advisory conf
    assert _parse_byte_conf("64MB") == 64 * 1024 * 1024
    assert _parse_byte_conf("256m") == 256 * 1024 * 1024
    assert _parse_byte_conf("1073741824") == 1 << 30


def test_run_available_now_restores_shuffle_conf(spark, sf_dir):
    """The transient stateful-shuffle sizing must not leak into batch
    plans built after the drain."""
    from configdrivendatapipeline_spark.streaming import (
        run_available_now,
        stream_events,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = run_available_now(
        stream_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n")),
        "complete",
    )
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_run_available_now_leaves_no_memory_sink_view(spark, sf_dir):
    """Each drain's memory sink is registered as a temp view; the view
    is dropped once the returned frame is built, so repeated drains do
    not pin their result rows for the life of the session. The frame
    still holds the sink's rows."""
    from configdrivendatapipeline_spark.queries import registry

    def stream_views():
        return {
            r.viewName
            for r in spark.sql("SHOW VIEWS").collect()
            if r.viewName.startswith("stream_")
        }

    before = stream_views()
    build = registry()["stream_tumbling"].build
    runs = [sorted(build(spark, sf_dir).collect()) for _ in range(3)]
    assert stream_views() == before
    assert runs[0] and runs[0] == runs[1] == runs[2]
