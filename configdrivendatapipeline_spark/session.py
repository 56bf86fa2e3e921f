"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design posture (SURVEY.md §4):
AQE on (runtime coalesce + skew-join split), broadcast threshold
explicit, Arrow enabled for the Pandas-UDF slow path, and shuffle
partitions sized from the environment rather than Spark's static 200.
On a real cluster the same factory is used with ``master=None`` so
spark-submit / the cluster manager supplies the master URL.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Shuffle partitions: on local[N] runs a small multiple of cores keeps
# every reducer busy without tiny-partition overhead; on a cluster this
# is overridden via conf (AQE coalesces downward at runtime anyway).
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _master_supplied(environ=None) -> bool:
    """True when a Spark master was supplied outside this factory.

    Must work BEFORE any SparkContext exists: at that point
    ``SparkConf()`` is an empty dict-backed shim (PySpark only
    mirrors JVM system properties once a JVM is attached), so
    ``SparkConf().contains("spark.master")`` is False even under
    ``spark-submit --master yarn`` — and forcing ``local[N]`` there
    would silently run the "cluster" job single-node on the driver.
    The reliable pre-JVM signals are the submit environment itself:
    spark-submit always exports ``PYSPARK_GATEWAY_PORT`` for the
    Python driver it launches, and a user-launched gateway carries
    the master in ``PYSPARK_SUBMIT_ARGS``. ``SparkConf()`` is kept
    as a belt-and-braces check for the already-attached-JVM case.
    """
    env = os.environ if environ is None else environ
    if "PYSPARK_GATEWAY_PORT" in env:
        return True
    # Token-anchored matching: a bare `"spark.master" in args`
    # substring test would false-positive on unrelated confs like
    # `--conf spark.master.rest.enabled=true` and skip the local[N]
    # fallback for a session that has no master at all.
    submit_args = env.get("PYSPARK_SUBMIT_ARGS", "")
    if re.search(
        r"(^|\s)--master(\s|=)|(^|\s)--conf(\s+|=)spark\.master=", submit_args
    ):
        return True
    from pyspark import SparkConf

    return SparkConf().contains("spark.master")


def get_spark(
    app_name: str = "configdrivendatapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Every conf here is a Spark conf, overridable via ``extra_conf``;
    the two codegen confs are internal (undocumented) SQL confs, stable
    since Spark 2.4. Pipeline YAML ``spark_conf`` reaches this factory
    only through ``cli run``, which passes it as ``extra_conf``. A
    static SQL conf (``spark.sql.codegen.cache.maxEntries``,
    ``spark.sql.warehouse.dir``, ...) takes effect only when the
    session is first built: ``getOrCreate`` on an existing session
    keeps the value it was built with.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    else:
        # Fall back to local[N] ONLY when no master was supplied any
        # other way (spark-submit / gateway env / JVM conf — see
        # _master_supplied for why env detection is required here).
        if not _master_supplied() and not os.environ.get("SPARK_MASTER"):
            builder = builder.master(f"local[{_DEFAULT_CPUS}]")

    n_shuffle = shuffle_partitions or _DEFAULT_CPUS
    conf: dict[str, str] = {
        # Runtime re-planning: coalesce small shuffle partitions,
        # split skewed join partitions (SURVEY.md §4 AQE rows).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(n_shuffle),
        # Broadcast small dims (region/nation/supplier class tables).
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Arrow transfer for the pandas-UDF slow path.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Read-side split sizing so a 100 TB scan yields sane tasks.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Deterministic session timezone for timestamp oracles.
        "spark.sql.session.timeZone": "UTC",
        # events.parquet carries TIMESTAMP(NANOS); Spark has no ns
        # type, so read as long and convert (queries.load truncates
        # to µs exactly as DuckDB's ns→µs cast does).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Local driver memory; ignored under spark-submit cluster mode.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # Generated-class cache (static; Spark's default is 100). One
        # fresh-corpus pass of the near-dup/CC/kNN family needs ~150
        # classes, so at 100 the LRU missed on nearly every lookup and
        # every CC round, PageRank iteration and new corpus re-ran
        # Janino plus the JIT on code it had already compiled. 1000
        # holds that working set several times over (CHANGES.md has
        # the compile counts and the metaspace cost).
        "spark.sql.codegen.cache.maxEntries": "1000",
        # The cache key is the generated source, and by default the
        # class name carries the codegen stage id. AQE re-plans as
        # stages finish and can number the same stage differently from
        # one run to the next, and a stage at another position in a
        # plan gets another id: both missed the cache. Only stack
        # traces lose the id; the plan keeps it.
        "spark.sql.codegen.useIdInClassName": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far; a
    codegen-cache hit does not count. The counter is JVM-wide (every
    session, driver and local executors), so read it as a delta
    around the work being measured."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
