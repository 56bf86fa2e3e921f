"""The run-scoped scratch root: every file the engine writes for
itself lives under it.

Two kinds of file land here. ``scratch_parquet`` materializes
CORPUS-SIZED intermediates (the PPJoin group table, a graph's edge
set). ``localCheckpoint`` is the right lineage-truncation tool for
small, cheaply-recomputable frames (banded ids, degree tables,
centroids): blocks live on executor-local storage, and losing an
executor after materialization fails the job instead of recomputing
— acceptable when the frame is id-sized, a reliability bug at 100 TB
for a corpus-sized one. ``scratch_parquet`` gives those frames the
same §3.3 materialize-once semantics on *storage* instead: write to
the run directory, read back as an ordinary parquet scan. Executor
loss then re-reads committed files; consumers additionally get
per-consumer column pruning on the scan, which checkpoint blocks
(full rows) never had. ``run_path`` hands out paths for everything
else the engine stages (round-trip sinks, doubled streaming feeds,
binary-file dumps, checkpoints, YAML fragments).

Location: ``spark.cddp.scratchDir`` if set (on a real cluster this
must be shared storage — HDFS/object-store scratch — so every
executor can read what any executor wrote), else the driver's
tempdir, which is correct only for a ``local*`` master: on any other
master an unset ``spark.cddp.scratchDir`` raises instead of writing
files executors cannot read back. Each process gets its own run
directory under that base, deleted at interpreter exit (through
Hadoop's ``FileSystem`` for a URI base). Nothing written here is
shared between processes or outlives its process; reuse within a
session is ``session.session_memo``'s job, not a marker file's.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

#: scratch base -> this process's run directory under it
_RUN_DIRS: dict[str, str] = {}


def _master(spark: SparkSession) -> str:
    return spark.sparkContext.master


def _is_uri(path: str) -> bool:
    return bool(urlparse(path).scheme)


def run_dir(spark: SparkSession, what: str = "run_dir") -> str:
    """This process's run directory under the scratch base, created on
    first use and removed at interpreter exit. ``what`` names the
    caller in the error raised on a non-local master."""
    base = spark.conf.get("spark.cddp.scratchDir", None)
    if not base:
        master = _master(spark)
        if not master.startswith("local"):
            raise RuntimeError(
                f"{what}: master {master!r} is not local and "
                "spark.cddp.scratchDir is unset; set it to storage every "
                "executor can read (HDFS or object-store scratch)"
            )
        base = tempfile.gettempdir()
    root = _RUN_DIRS.get(base)
    if root is None:
        root = os.path.join(
            base, f"cddp_scratch-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        if _is_uri(base):
            sc = spark.sparkContext
            path = sc._jvm.org.apache.hadoop.fs.Path(root)
            fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
            fs.mkdirs(path)
            atexit.register(fs.delete, path, True)
        else:
            os.makedirs(root, exist_ok=True)
            atexit.register(shutil.rmtree, root, ignore_errors=True)
        _RUN_DIRS[base] = root
    return root


def run_path(spark: SparkSession, name: str, *, local: bool = False) -> str:
    """A fresh, not yet existing path ``<run dir>/<name>-<8 hex>``: no
    other caller, session or process gets it, and it goes away with
    the run directory.

    ``local=True`` is for stages written with Python file operations
    (``open``, symlinks, ``shutil``), which need a local directory: a
    URI run directory raises instead."""
    root = run_dir(spark, name)
    if local and _is_uri(root):
        raise RuntimeError(
            f"{name}: stages files with Python file operations, which need "
            f"a local directory; the run directory is {root!r}"
        )
    return os.path.join(root, f"{name}-{uuid.uuid4().hex[:8]}")


def scratch_parquet(df: DataFrame, tag: str) -> DataFrame:
    """Materialize ``df`` to run-directory parquet and return the
    read-back frame.

    Same eager semantics as ``df.localCheckpoint(eager=True)`` — one
    Spark job runs now, every consumer reads the materialized result —
    but the bytes sit in committed parquet files rather than
    non-replicated executor block storage, so the frame survives
    executor loss and spills to disk by construction. Values are
    bit-identical (parquet round-trips Spark's longs/doubles/strings/
    arrays/maps exactly); row order and partitioning are NOT promised,
    same as any shuffle boundary. The read-back takes the schema just
    written, so it starts no schema-inference job (file sources make
    every column nullable either way).
    """
    spark = df.sparkSession
    path = run_path(spark, tag)
    df.write.parquet(path)
    return spark.read.schema(df.schema).parquet(path)
