"""Within-run scratch-parquet materialization (r17 verdict item 5).

``localCheckpoint`` is the right lineage-truncation tool for small,
cheaply-recomputable frames (banded ids, degree tables, centroids):
blocks live on executor-local storage, and losing an executor after
materialization fails the job instead of recomputing — acceptable when
the frame is id-sized. For CORPUS-SIZED intermediates (the PPJoin
group table, a graph's edge set) that trade is a reliability bug at
100 TB: one lost executor kills a multi-hour job. This module gives
those frames the same §3.3 materialize-once semantics on *storage*
instead: write to a within-run scratch directory, read back as an
ordinary parquet scan. Executor loss then re-reads (or re-fetches)
committed files; consumers additionally get per-consumer column
pruning on the scan, which checkpoint blocks (full rows) never had.

Scratch location: ``spark.cddp.scratchDir`` conf if set (on a real
cluster this must be shared storage — HDFS/object store scratch — so
every executor can read what any executor wrote), else the driver's
tempdir, which is correct only for a ``local*`` master: on any other
master an unset ``spark.cddp.scratchDir`` raises instead of writing
files executors cannot read back. Each process gets a unique
run directory, deleted at interpreter exit; nothing persists across
runs and nothing is keyed on the input fixture — every run writes its
own scratch from its own computation (this is a materialization
point, not a cache).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

_RUN_DIRS: dict[str, str] = {}


def _run_dir(base: str) -> str:
    """Process-unique scratch root under ``base``, created once and
    removed at interpreter exit."""
    root = _RUN_DIRS.get(base)
    if root is None:
        root = os.path.join(
            base, "cddp_scratch", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _RUN_DIRS[base] = root
    return root


def _master(spark: SparkSession) -> str:
    return spark.sparkContext.master


def scratch_parquet(df: DataFrame, tag: str) -> DataFrame:
    """Materialize ``df`` to within-run scratch parquet and return the
    read-back frame.

    Same eager semantics as ``df.localCheckpoint(eager=True)`` — one
    Spark job runs now, every consumer reads the materialized result —
    but the bytes sit in committed parquet files rather than
    non-replicated executor block storage, so the frame survives
    executor loss and spills to disk by construction. Values are
    bit-identical (parquet round-trips Spark's longs/doubles/strings/
    arrays/maps exactly); row order and partitioning are NOT promised,
    same as any shuffle boundary.
    """
    spark = df.sparkSession
    base = spark.conf.get("spark.cddp.scratchDir", None)
    if not base:
        master = _master(spark)
        if not master.startswith("local"):
            raise RuntimeError(
                f"scratch_parquet({tag!r}): master {master!r} is not local and "
                "spark.cddp.scratchDir is unset; set it to storage every "
                "executor can read (HDFS or object-store scratch)"
            )
        base = tempfile.gettempdir()
    path = os.path.join(_run_dir(base), f"{tag}-{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
