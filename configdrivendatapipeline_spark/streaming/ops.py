"""Streaming primitives: event-stream source + run-to-completion.

Scale notes (100 TB posture): streaming aggregations keep per-key
state in the state store — production config points
``spark.sql.streaming.stateStore.providerClass`` at RocksDB and sets
watermarks so state is bounded; ``Trigger.AvailableNow`` is also the
production backfill mode (drains the backlog with streaming
semantics, then stops).
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from configdrivendatapipeline_spark.scratch import run_path
from configdrivendatapipeline_spark.session import session_memo

#: Per-session memo slot holding the source bytes noted since the last
#: drain. Streaming plans cannot be re-coalesced by AQE, so the
#: stateful-shuffle partition count a query STARTS with is the one it
#: keeps — and each state-store partition carries fixed
#: per-micro-batch overhead (delta/commit files, store init). Every
#: streaming source builder notes its backing file size here;
#: :func:`run_available_now` drains the notes and sizes the shuffle
#: like AQE would size a batch exchange: ceil(bytes /
#: advisoryPartitionSizeInBytes), clamped to [min(defaultParallelism,
#: _STREAM_PARTS_FLOOR), defaultParallelism]. A 100 TB backlog
#: therefore still gets full cluster parallelism (the clamp ceiling),
#: while a small AvailableNow drain stops paying per-partition state
#: overhead ~cores× larger than its data.
_SRC_BYTES_SLOT = "stream_src_bytes"

#: Parallelism floor (pre-clamp to cores): keeps CPU headroom for
#: map-heavy micro-batches even when the backlog is tiny.
_STREAM_PARTS_FLOOR = 4


def note_stream_source(spark: SparkSession, path: str) -> None:
    """Record a streaming source's on-disk size for the next
    :func:`run_available_now` on this session. Files and directories
    (staged feeds of symlinks) both work; unreadable paths are
    ignored (the sizing then falls back to the session default)."""
    total = 0
    try:
        if os.path.isdir(path):
            for entry in os.scandir(path):
                try:
                    total += entry.stat(follow_symlinks=True).st_size
                except OSError:
                    pass
        else:
            total = os.path.getsize(path)
    except OSError:
        return
    session_memo(spark, _SRC_BYTES_SLOT, None, list).append(total)


def _parse_byte_conf(v: str) -> int:
    """Parse Spark byte-valued conf strings ('64MB', '256m', '67108864b',
    plain ints)."""
    s = v.strip().lower()
    for suffix, mult in (
        ("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
        ("kb", 1 << 10), ("p", 1 << 50), ("t", 1 << 40), ("g", 1 << 30),
        ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
    ):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def scaled_stream_partitions(spark: SparkSession, total_bytes: int) -> int:
    """Stateful-shuffle partition count for a streaming drain over
    ``total_bytes`` of source data — the AQE coalescing rule applied
    at plan time (streaming exchanges are exempt from AQE): one
    partition per advisory-size chunk, floored for CPU headroom,
    capped at the cluster's parallelism."""
    adv = _parse_byte_conf(
        spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
        )
    )
    dp = spark.sparkContext.defaultParallelism
    floor = min(dp, _STREAM_PARTS_FLOOR)
    return max(floor, min(dp, math.ceil(total_bytes / max(adv, 1))))


def file_stream_dir(spark: SparkSession, path: str) -> str:
    """FileStreamSource monitors directories; a bare source file is
    symlinked into a run-directory stage, once per session and file."""
    path = os.path.abspath(path)

    def stage() -> str:
        d = run_path(spark, "stream_src", local=True)
        os.makedirs(d)
        link = os.path.join(d, os.path.basename(path))
        try:
            os.symlink(path, link)
        except OSError:
            shutil.copyfile(path, link)
        return d

    return session_memo(spark, "stream_src", path, stage)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-stream source.

    Schema is pinned from a footer-only batch read (streaming file
    sources require one); the ns `ts` column is truncated to µs
    exactly like the batch loader, keeping stream/batch/oracle parity.
    """
    from configdrivendatapipeline_spark.queries import ensure_session_confs, normalize_ts

    ensure_session_confs(spark)
    path = f"{sf_dir}/events.parquet"
    static = spark.read.parquet(path)
    note_stream_source(spark, path)
    sdf = (
        spark.readStream.schema(static.schema)
        .format("parquet")
        .load(file_stream_dir(spark, path))
    )
    return normalize_ts(sdf)


def run_available_now(
    sdf: DataFrame, output_mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into
    an in-memory sink; returns the materialized result table.

    This is the batch-equivalence harness from SURVEY.md §5 item 6 —
    the same plan in production would point at a real sink with a
    continuous trigger.

    Stateful-shuffle sizing: the session's shuffle-partition conf is
    transiently set from the source bytes noted by
    :func:`note_stream_source` (see ``_SRC_BYTES_SLOT`` — the AQE
    coalescing rule applied at plan time, because streaming exchanges
    are exempt from AQE and each state-store partition costs fixed
    per-batch I/O) and restored after the drain. Partition count
    never changes results here: aggregations / dropDuplicates /
    stream joins / per-key state are partition-count-independent and
    the watermark is a global min.
    """
    name = name or f"stream_{uuid.uuid4().hex[:12]}"
    spark = sdf.sparkSession
    pending = session_memo(spark, _SRC_BYTES_SLOT, None, list)
    noted, pending[:] = list(pending), []
    target = scaled_stream_partitions(spark, sum(noted)) if noted else None
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    if target is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if target is not None and prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    out = spark.table(name)
    # The frame keeps the sink's rows; the view would pin them for the
    # life of the session.
    spark.catalog.dropTempView(name)
    return out
