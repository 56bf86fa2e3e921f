"""Partition-width helpers that never touch ``DataFrame.rdd``.

``df.rdd.getNumPartitions()`` is the obvious way to ask "how many
splits did this frame arrive in?", but it forces a full
plan-to-RDD conversion at *query-build* time — an analyzer round
trip plus a JVM RDD materialization paid once per builder call,
in exactly the code paths that run per registered query. The only
question the hot builders actually need answered is "is this a
narrow local scan that should be widened before a CPU-heavy map
stage?", and for file sources that is answerable from the scan's
file list (``df.inputFiles()`` — a logical-plan inspection, no RDD
conversion).

Heuristic, and deliberately conservative about shuffles:

- file-backed scan → split count ~ number of files. Test-scale
  parquet is one file per table, so narrow scans are detected and
  widened exactly as before. (A few huge files would undercount
  actual splits and trigger one extra repartition — which at that
  shape is the repartition you want before a CPU-bound map stage.)
- frame with NO file source (in-memory, streaming) → ``None``
  ("leave it alone").

CONTRACT: apply these to raw scans (projections of a scan are
fine), not to post-shuffle frames. ``inputFiles()`` reports the
LEAF scans of any plan, so a frame downstream of a groupBy/join
would be judged by its leaves' file count and could pick up a
useless extra repartition (the frame already has
``spark.sql.shuffle.partitions`` splits). Both engine call sites —
``queries.aggregates.agg_groupby`` and ``dedup.shingle_hash_sets``
— feed scan projections; keep it that way.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import Column, DataFrame


def scan_split_count(df: DataFrame) -> Optional[int]:
    """Estimated arrival split count for a file-backed scan, or
    ``None`` when the frame is not a plain file scan (already
    shuffled / in-memory / streaming) and should be left alone.
    """
    try:
        files = df.inputFiles()
    except Exception:  # streaming frames raise; treat as non-scan
        return None
    n = len(files)
    return n if n > 0 else None


# Widen only a scan with at most 1/_MIN_FACTOR as many splits as cores.
_MIN_FACTOR = 2


def widen_narrow_scan(
    df: DataFrame, *, key: Optional[Union[str, Column]] = None
) -> DataFrame:
    """Repartition a frame that arrived in fewer file splits than
    cores (the local single-row-group-parquet case). At lake scale
    sources arrive pre-split, the condition is false, and this is a
    no-op — the shuffle is never paid where it would hurt.

    Pass a high-cardinality ``key`` where one exists: a keyed hash
    repartition skips the whole-row local sort every keyless
    round-robin exchange pays (``spark.sql.execution.sortBeforeRepartition``
    — needed there so task retries reproduce the row→partition map,
    which a deterministic key gives for free). Measured on the
    agg_groupby widening at sf0.1: 1.64 s → 1.39 s median.

    Prefer a ``Column`` expression derived from columns the query
    already reads (e.g. ``F.xxhash64(...)`` over the measure
    columns): a bare column name that the query does not otherwise
    need would widen the scan's ReadSchema — paying an extra column
    of I/O and shuffle on the fattest table (guide §2.3/§6).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    splits = scan_split_count(df)
    if splits is None or splits * _MIN_FACTOR > target:
        return df
    if key is not None:
        return df.repartition(target, key)
    return df.repartition(target)
