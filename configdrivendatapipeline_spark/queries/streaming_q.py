"""SURVEY.md §2.10 — streaming operators.

Each query runs a real Structured Streaming plan (readStream →
transform → memory sink, ``Trigger.AvailableNow``) to completion and
returns the materialized result; the oracle is the batch-equivalent
SQL over the same events (SURVEY.md §5 item 6). Late-data semantics
that cannot appear in a single drained backlog are unit-tested with
multi-micro-batch feeds in tests/test_streaming.py.

Value sums use exact integer micro-units (``queries.VU``) so
streaming partial aggregation order can't flip hashes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from configdrivendatapipeline_spark.queries import VU, declare, load
from configdrivendatapipeline_spark.scratch import run_path
from configdrivendatapipeline_spark.session import session_memo
from configdrivendatapipeline_spark.streaming import (
    note_stream_source,
    run_available_now,
    stream_events,
)

_SEC = "2.10"


@declare(
    "src_stream",
    """
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_type IN ('click', 'view')
    """,
    _SEC.replace("2.10", "2.1"),
    "Streaming file source through the configured source layer "
    "(readStream + AvailableNow), batch-equivalent by construction.",
)
def src_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.io import read_source

    from configdrivendatapipeline_spark.queries import normalize_ts

    sdf = normalize_ts(
        read_source(
            spark,
            {"format": "parquet", "path": f"{sf_dir}/events.parquet", "streaming": True},
        )
    )
    out = sdf.filter(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "event_type", "value"
    )
    return run_available_now(out, "append")


@declare(
    "stream_tumbling",
    f"""
    SELECT date_trunc('hour', ts) AS win_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM({VU}) AS DOUBLE) / 1000000 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    _SEC,
    "Tumbling 1-hour windows (count + exact sum) on the event stream.",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = stream_events(spark, sf_dir).withColumn("vu", F.expr(VU))
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("vu").cast("double") / 1000000).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_available_now(agg, "complete")


@declare(
    "stream_sliding",
    f"""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts)
               - CAST(g.i AS INT) * INTERVAL '15 minutes' AS win_start,
             {VU} AS vu
      FROM events, generate_series(0, 3) AS g(i)
    )
    SELECT win_start, COUNT(*) AS n_events,
           CAST(SUM(vu) AS DOUBLE) / 1000000 AS total_value
    FROM expanded
    GROUP BY win_start
    """,
    _SEC,
    "Sliding windows (1 h length, 15 min slide): every event lands in "
    "4 overlapping windows.",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = stream_events(spark, sf_dir).withColumn("vu", F.expr(VU))
    agg = (
        sdf.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("vu").cast("double") / 1000000).alias("total_value"),
        )
        .select(F.col("window.start").alias("win_start"), "n_events", "total_value")
    )
    return run_available_now(agg, "complete")


@declare(
    "stream_session",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    """,
    _SEC,
    "Gap-based session windows (30 min) per user; oracle is the "
    "islands pattern — boundary convention: a gap of exactly the "
    "timeout starts a new session (Spark closes at last_ts + gap, "
    "exclusive).",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = stream_events(spark, sf_dir)
    agg = (
        sdf.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return run_available_now(agg, "complete")


@declare(
    "stream_watermark",
    """
    WITH w AS (
      SELECT date_trunc('hour', ts) AS win_start, COUNT(*) AS n_events
      FROM events GROUP BY 1),
    m AS (SELECT MAX(ts) AS mx FROM events)
    SELECT win_start, n_events FROM w, m
    WHERE win_start + INTERVAL '1 hour' <= mx - INTERVAL '10 minutes'
    """,
    _SEC,
    "Watermarked windowed aggregation (10 min bounded lateness) over "
    "a TWO-micro-batch feed (time-ordered split, maxFilesPerTrigger=1) "
    "so the watermark genuinely advances between batches. Append mode "
    "emits exactly the windows closed by the final watermark "
    "(end ≤ max ts − 10 min); the time-ordered split carries no late "
    "rows, so those windows hold full batch counts — making the "
    "kept-row SET (not just its size) DuckDB-expressible. Late-drop "
    "proper is unit-tested with late feeds in tests/test_streaming.py.",
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil

    from configdrivendatapipeline_spark.queries import ensure_session_confs

    ensure_session_confs(spark)

    def stage() -> str:
        # Two time-ordered parquet files. The cut at max(ts) − 2 h
        # puts every batch-2 row AFTER batch 1's watermark
        # (max(b1) − 10 min), so nothing is late-dropped and the final
        # result equals the batch aggregate of closed windows.
        # Driver-side file shuffling only — row data never leaves the
        # executors.
        ev = load(spark, sf_dir, "events")
        feed = run_path(spark, "events_two_batch", local=True)
        cut = ev.agg(
            (F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("c")
        ).collect()[0]["c"]
        for i, part in enumerate(
            (ev.filter(F.col("ts") <= F.lit(cut)), ev.filter(F.col("ts") > F.lit(cut)))
        ):
            d = os.path.join(feed, f"_part{i}")
            part.coalesce(1).write.parquet(d)
            src = glob.glob(os.path.join(d, "part-*.parquet"))[0]
            # lexicographic AND mtime order == event-time order
            shutil.move(src, os.path.join(feed, f"{i:04d}.parquet"))
            shutil.rmtree(d)
        return feed

    feed = session_memo(spark, "events_two_batch", sf_dir, stage)
    from configdrivendatapipeline_spark.queries import normalize_ts

    schema = spark.read.parquet(os.path.join(feed, "0000.parquet")).schema
    note_stream_source(spark, feed)
    sdf = normalize_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "n_events")
    )
    return run_available_now(agg, "append")


@declare(
    "stream_dedup",
    """
    SELECT event_id, user_id, event_type FROM events
    """,
    _SEC,
    "Exactly-once by event_id: the stream is fed a doubled feed and "
    "dropDuplicates recovers exactly the original events.",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Manufacture an at-least-once feed: every event delivered twice.
    path = run_path(spark, "events_doubled")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    ev.unionByName(ev).write.parquet(path)
    static = spark.read.parquet(path)
    note_stream_source(spark, path)
    sdf = spark.readStream.schema(static.schema).parquet(path)
    return run_available_now(sdf.dropDuplicates(["event_id"]), "append")


@declare(
    "stream_static_join",
    """
    WITH cohorts AS (SELECT DISTINCT user_id, user_id % 5 AS cohort FROM events)
    SELECT e.event_id, e.user_id, c.cohort
    FROM events e JOIN cohorts c ON e.user_id = c.user_id
    """,
    _SEC,
    "Stream⋈static enrichment: the static dim broadcasts to every "
    "micro-batch.",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = (
        load(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("cohort", F.col("user_id") % 5)
    )
    sdf = stream_events(spark, sf_dir).select("event_id", F.col("user_id").alias("e_user"))
    joined = sdf.join(F.broadcast(dim), sdf.e_user == dim.user_id, "inner").select(
        "event_id", "user_id", "cohort"
    )
    return run_available_now(joined, "append")


@declare(
    "stream_stateful_count",
    f"""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM({VU}) AS DOUBLE) / 1000000 AS total_value
    FROM events
    GROUP BY user_id
    """,
    _SEC,
    "Running per-user state (unwindowed streaming aggregate — state "
    "store backed; RocksDB provider at scale).",
)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = stream_events(spark, sf_dir).withColumn("vu", F.expr(VU))
    agg = sdf.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("vu").cast("double") / 1000000).alias("total_value"),
    )
    return run_available_now(agg, "complete")


@declare(
    "stream_foreachbatch",
    """
    SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase'
    """,
    _SEC,
    "foreachBatch sink adapter: every micro-batch is written through "
    "the engine's batch sink layer (reuses write_sink), then read back.",
)
def stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.io import write_sink

    out = run_path(spark, "purchases_feb")

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_sink(
            batch_df,
            {"format": "parquet", "path": out, "mode": "append"},
        )

    sdf = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "event_type", "value")
    )
    q = sdf.writeStream.foreachBatch(sink_batch).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.read.parquet(out)


@declare(
    "stream_custom_state",
    f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM({VU}) AS DOUBLE) / 1000000 AS total_value,
           CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS span_us
    FROM events
    GROUP BY user_id
    """,
    _SEC,
    "Arbitrary stateful streaming operator (applyInPandasWithState): "
    "a custom per-user state machine (count, exact micro-unit sum, "
    "first/last seen) maintained across micro-batches in the state "
    "store — the escape hatch beyond built-in streaming aggregates. "
    "RocksDB state store provider at scale.",
)
def stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sdf = stream_events(spark, sf_dir).withColumn("vu", F.expr(VU))

    out_schema = (
        "user_id BIGINT, n_events BIGINT, total_value DOUBLE, span_us BIGINT"
    )
    state_schema = "cnt BIGINT, vu_sum BIGINT, first_us BIGINT, last_us BIGINT"

    def track(key, pdfs, state: GroupState):
        cnt, vu_sum, first_us, last_us = (
            state.get if state.exists else (0, 0, None, None)
        )
        for pdf in pdfs:
            cnt += len(pdf)
            vu_sum += int(pdf["vu"].sum())
            ts_us = pdf["ts"].astype("int64") // 1000
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((cnt, vu_sum, first_us, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "total_value": [vu_sum / 1_000_000],
                "span_us": [last_us - first_us],
            }
        )

    result = (
        sdf.select("user_id", "ts", "vu")
        .groupBy("user_id")
        .applyInPandasWithState(
            track, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    return run_available_now(result, "update")


def _click_purchase_join(
    spark: SparkSession, sf_dir: str, delay: str, how: str
) -> DataFrame:
    """Click→purchase interval join (purchase within 30 min of the
    click), both sides watermarked by ``delay``, drained through
    AvailableNow."""

    def side(event_type: str, id_col: str, prefix: str) -> DataFrame:
        return (
            stream_events(spark, sf_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_col),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", delay)
        )

    joined = side("click", "click_id", "c").join(
        side("purchase", "purchase_id", "p"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    ).select(
        F.col("click_id"),
        F.col("purchase_id"),
        F.col("c_user").alias("user_id"),
        (
            F.unix_timestamp("p_ts").cast("long")
            - F.unix_timestamp("c_ts").cast("long")
        ).alias("delay_sec"),
    )
    return run_available_now(joined, "append")


@declare(
    "stream_stream_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_sec
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    _SEC,
    "Stream-stream interval join (click→purchase attribution within "
    "30 min): both sides carry event-time watermarks so the state "
    "store can evict rows older than the watermark minus the join "
    "bound — without them a stream-stream join buffers FOREVER at "
    "corpus scale. Inner join + time-bound condition is exactly "
    "Spark's supported shape; delay is integer seconds (floor-diff "
    "== boundary-crossing count on both engines).",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _click_purchase_join(spark, sf_dir, "1 hour", "inner")


@declare(
    "stream_stream_left_join",
    """
    WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    m AS (SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
                   - INTERVAL 10 MINUTE AS wm),
    j AS (
      SELECT c.event_id AS click_id, p.event_id AS purchase_id,
             c.user_id, c.ts AS c_ts,
             CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_sec
      FROM c LEFT JOIN p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
    SELECT click_id, purchase_id, user_id, delay_sec
    FROM j, m
    WHERE purchase_id IS NOT NULL
       OR c_ts + INTERVAL 30 MINUTE < wm
    """,
    _SEC,
    "Stream-stream LEFT OUTER interval join: every click emits — "
    "matched rows immediately, unmatched clicks null-extended once "
    "the watermark proves no purchase can still arrive (wm > c_ts + "
    "join bound). That's the attribution shape production needs "
    "(count the non-converting clicks too), and the part batch joins "
    "get for free but streaming must earn via watermark-driven state "
    "eviction. The oracle replays the exact emission rule INCLUDING "
    "the multi-watermark min policy: each side's watermark node only "
    "sees its own filtered stream, so the global watermark is "
    "min(max click ts, max purchase ts) − 10 min — unmatched clicks "
    "emit iff c_ts + 30 min < that.",
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _click_purchase_join(spark, sf_dir, "10 minutes", "leftOuter")


@declare(
    "stream_dedup_watermark",
    """
    SELECT event_id, user_id, event_type FROM events
    """,
    _SEC,
    "Exactly-once with BOUNDED state: dropDuplicatesWithinWatermark "
    "keeps each event_id only as long as a duplicate could still "
    "arrive (the watermark delay), then evicts — plain dropDuplicates "
    "state grows forever on an unbounded stream, which is the "
    "difference between a demo and a pipeline that survives week 2 "
    "at corpus scale. The doubled feed's duplicates all arrive "
    "within the window, so the recovered set is exactly the original "
    "events.",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stage() -> str:
        path = run_path(spark, "events_doubled_wm")
        ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
        ev.unionByName(ev).write.parquet(path)
        return path

    path = session_memo(spark, "events_doubled_wm", sf_dir, stage)
    static = spark.read.parquet(path)
    from configdrivendatapipeline_spark.queries import normalize_ts

    note_stream_source(spark, path)
    sdf = normalize_ts(spark.readStream.schema(static.schema).parquet(path))
    dedup = (
        sdf.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_available_now(dedup, "append")


@declare(
    "stream_parquet_sink",
    """
    SELECT event_id, user_id, event_type FROM events
    WHERE event_type IN ('click', 'purchase')
    """,
    _SEC,
    "Streaming PARQUET sink with a real checkpoint — the production "
    "write path (the memory sink elsewhere is a test harness): "
    "availableNow drains the source through a checkpointed file "
    "sink, then a BATCH read of the sink directory must equal the "
    "filtered source exactly — proving the sink committed exactly "
    "once and atomically (half-written files would duplicate or "
    "drop rows and fail the hash). Checkpoint + _spark_metadata is "
    "what makes a crashed streaming job resume without re-emitting.",
)
def stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    def drain() -> str:
        out = run_path(spark, "stream_parquet_out")
        sdf = (
            stream_events(spark, sf_dir)
            .filter(F.col("event_type").isin("click", "purchase"))
            .select("event_id", "user_id", "event_type")
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", run_path(spark, "stream_parquet_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return out

    return spark.read.parquet(session_memo(spark, "stream_parquet_out", sf_dir, drain))


@declare(
    "stream_content_dedup",
    """
    SELECT DISTINCT md5(text) AS content_key, LENGTH(text) AS n_chars
    FROM documents
    """,
    _SEC,
    "Streaming content-hash dedup — the LLM ingest front door in "
    "streaming form: a doubled, re-keyed document feed (every text "
    "arrives under two ids) drained through dropDuplicates on the "
    "content key recovers exactly the distinct contents. The output "
    "carries only columns every copy agrees on (content key, length) "
    "so the result is arrival-order-independent — which copy's id "
    "'won' is irrelevant and never emitted. State is one row per "
    "distinct content; at a real deployment the state store is "
    "RocksDB and the key is the 128-bit hash, not the text.",
)
def stream_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = run_path(spark, "docs_doubled")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    feed = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    feed.write.parquet(path)
    static = spark.read.parquet(path)
    note_stream_source(spark, path)
    sdf = spark.readStream.schema(static.schema).parquet(path)
    deduped = (
        sdf.select(
            F.md5("text").alias("content_key"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .dropDuplicates(["content_key"])
    )
    return run_available_now(deduped, "append")


@declare(
    "stream_quality_gate",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_filter(toks, t -> list_contains(['the','a','of','and','is'], t)))
                 AS n_stopwords,
             len(list_distinct(toks)) AS n_distinct
      FROM d)
    SELECT doc_id, n_tokens, n_stopwords, n_distinct,
           CAST(CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 40 ELSE 0 END
            + CASE WHEN n_stopwords * 100 >= n_tokens * 2
                    AND n_stopwords * 100 <= n_tokens * 40 THEN 30 ELSE 0 END
            + CASE WHEN n_distinct * 100 >= n_tokens * 30 THEN 30 ELSE 0 END
               AS BIGINT) AS quality
    FROM q
    WHERE (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 40 ELSE 0 END
            + CASE WHEN n_stopwords * 100 >= n_tokens * 2
                    AND n_stopwords * 100 <= n_tokens * 40 THEN 30 ELSE 0 END
            + CASE WHEN n_distinct * 100 >= n_tokens * 30 THEN 30 ELSE 0 END) >= 70
    """,
    _SEC,
    "Streaming curation quality gate: the batch quality filter "
    "(length / stopword-ratio / repetition bands, integer arithmetic) "
    "running unchanged under readStream over a document feed — "
    "stream/batch parity for the curation front door, so an ingest "
    "pipeline can gate documents as they arrive with the exact "
    "semantics the batch backfill applies. Pure map-side expressions: "
    "no state, no watermark, no shuffle — the cheapest possible "
    "streaming stage.",
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm.textstats import quality_score

    def stage() -> str:
        path = run_path(spark, "docs_quality_feed")
        load(spark, sf_dir, "documents").select("doc_id", "text").write.parquet(path)
        return path

    path = session_memo(spark, "docs_quality_feed", sf_dir, stage)
    static = spark.read.parquet(path)
    note_stream_source(spark, path)
    sdf = spark.readStream.schema(static.schema).parquet(path)
    gated = quality_score(sdf).filter(F.col("quality") >= 70)
    return run_available_now(gated, "append")


@declare(
    "stream_topk",
    """
    WITH g AS (
      SELECT date_trunc('hour', ts) AS win_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2)
    SELECT win_start, event_type, n_events, CAST(rnk AS INT) AS rank
    FROM (SELECT g.*, ROW_NUMBER() OVER (
            PARTITION BY win_start
            ORDER BY n_events DESC, event_type) AS rnk
          FROM g)
    WHERE rnk <= 3
    """,
    _SEC,
    "Streaming top-k per window: the hourly keyed aggregation runs "
    "IN the stream (incremental state), and the rank-3 cut runs on "
    "the drained result — the split Spark structurally forces "
    "(non-time window functions are unsupported over streaming "
    "aggregates) and exactly where production puts it anyway: "
    "ranking belongs in foreachBatch or the serving layer, over "
    "per-window aggregates that are already tiny (n_event_types "
    "rows per window, never raw events). Batch-equivalent oracle.",
)
def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    sdf = stream_events(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"), "event_type", "n_events"
        )
    )
    drained = run_available_now(agg, "complete")
    w = Window.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return drained.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 3
    )


@declare(
    "stream_checkpoint_resume",
    f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({VU}) AS BIGINT) AS vu_sum
    FROM events GROUP BY event_type
    """,
    _SEC,
    "Checkpointed stream RESUME — the exactly-once recovery property "
    "production streaming lives on: half the corpus streams into a "
    "parquet sink under a checkpointLocation, the job 'stops', the "
    "other half arrives, and a NEW query on the SAME checkpoint "
    "processes only the unseen files — no reprocessing, no loss. "
    "The final sink equals the one-shot batch aggregate "
    "(hash-checked), which is exactly the guarantee the offset log "
    "in the checkpoint exists to provide. Staged and drained once "
    "per session and fixture.",
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil

    schema = "event_id BIGINT, event_type STRING, vu BIGINT"

    def stage() -> str:
        base = run_path(spark, "ckpt_resume", local=True)
        src, sink, ckpt, halves_dir = (
            os.path.join(base, n) for n in ("src", "sink", "ckpt", "stage")
        )
        os.makedirs(src)
        static = load(spark, sf_dir, "events").select(
            "event_id", "event_type", F.expr(VU).alias("vu")
        )
        for i in (0, 1):
            # half i arrives...
            hdir = os.path.join(halves_dir, f"half{i}")
            static.filter(F.col("event_id") % 2 == i).write.parquet(hdir)
            for j, f in enumerate(sorted(glob.glob(os.path.join(hdir, "part-*.parquet")))):
                shutil.copyfile(f, os.path.join(src, f"half{i}-{j}.parquet"))
            # ...and a new query on the SAME checkpoint drains it: the
            # first run sees only half 0, the resumed run ONLY half 1.
            q = (
                spark.readStream.schema(schema)
                .parquet(src)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return sink

    sink = session_memo(spark, "ckpt_resume", sf_dir, stage)
    out = spark.read.parquet(sink)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("vu").alias("vu_sum"),
    )
