"""The run-scoped scratch root (configdrivendatapipeline_spark.scratch):
every file the engine stages lives in one per-process run directory,
which goes away when the process exits."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scratch_parquet_reads_back_without_inference_job(spark):
    """The read-back takes the schema just written: the write is the
    only Spark job, and the schema equals an inferring read's."""
    from configdrivendatapipeline_spark import scratch

    sc = spark.sparkContext
    group = "scratch-parquet-jobs"
    sc.setJobGroup(group, group)
    try:
        out = scratch.scratch_parquet(spark.range(100), "jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    path = os.path.dirname(out.inputFiles()[0].split(":", 1)[-1])
    assert out.schema == spark.read.parquet(path).schema
    assert out.count() == 100


def test_uri_scratch_dir_goes_through_hadoop_filesystem(spark, tmp_path, monkeypatch):
    """A URI spark.cddp.scratchDir (hdfs://…, here file://…) is created
    and deleted through Hadoop's FileSystem: no local ``scheme:/…``
    tree appears under the working directory, and the exit cleanup
    removes the real run directory. Stages written with Python file
    operations refuse a URI run directory."""
    from configdrivendatapipeline_spark import scratch

    cwd = tmp_path / "cwd"
    base = tmp_path / "base"
    cwd.mkdir()
    base.mkdir()
    monkeypatch.chdir(cwd)
    monkeypatch.setattr(scratch, "_RUN_DIRS", {})
    cleanups = []
    monkeypatch.setattr(
        scratch.atexit, "register", lambda fn, *a, **k: cleanups.append((fn, a, k))
    )
    spark.conf.set("spark.cddp.scratchDir", f"file://{base}")
    try:
        out = scratch.scratch_parquet(spark.range(5), "uri")
        assert out.count() == 5
        with pytest.raises(RuntimeError, match="need a local directory"):
            scratch.run_path(spark, "symlinks", local=True)
    finally:
        spark.conf.unset("spark.cddp.scratchDir")
    assert list(cwd.iterdir()) == []
    (run_dir,) = base.iterdir()
    assert run_dir.name.startswith("cddp_scratch-")
    assert all(f"{run_dir}/" in f for f in out.inputFiles())
    assert len(cleanups) == 1
    fn, args, kwargs = cleanups[0]
    fn(*args, **kwargs)
    assert list(base.iterdir()) == []


_STAGING_IDS = (
    "src_csv",
    "src_binaryfile",
    "stream_watermark",
    "stream_checkpoint_resume",
    "pipeline_include",
    "stream_tumbling",
    "join_bucketed",
)

_STAGING_SCRIPT = textwrap.dedent(
    """
    import json, os
    from configdrivendatapipeline_spark.queries import registry
    from configdrivendatapipeline_spark.session import get_spark

    spark = get_spark("run-scratch-test")
    reg = registry()
    for qid in {ids!r}:
        assert reg[qid].build(spark, {sf_dir!r}).count() > 0, qid
    tmp = os.environ["TMPDIR"]
    print(json.dumps(sorted(
        os.path.relpath(os.path.join(root, name), tmp)
        for root, dirs, files in os.walk(tmp)
        for name in dirs + files
    )))
    """
)


def test_staging_stays_in_the_run_directory(sf_dir, tmp_path):
    """Staging builders write only under the process's run directory,
    and nothing of theirs is left in the temp dir after the process
    exits. Catalog tables staged by a builder are path-backed, so no
    table directory lands in the working directory's warehouse."""
    tmp = tmp_path / "tmp"
    cwd = tmp_path / "cwd"
    tmp.mkdir()
    cwd.mkdir()
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(filter(None, (REPO, os.environ.get("PYTHONPATH")))),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    script = _STAGING_SCRIPT.format(ids=_STAGING_IDS, sf_dir=sf_dir)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    entries = json.loads(proc.stdout.strip().splitlines()[-1])
    run_dirs = [e for e in entries if os.sep not in e]
    assert len(run_dirs) == 1 and run_dirs[0].startswith("cddp_scratch-"), entries
    assert all(e.startswith(run_dirs[0]) for e in entries), entries
    assert list(tmp.iterdir()) == []
    warehouse = cwd / "spark-warehouse"
    assert not warehouse.exists() or list(warehouse.iterdir()) == []
