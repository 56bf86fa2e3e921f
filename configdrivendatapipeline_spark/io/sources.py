"""Parameterized source readers (SURVEY.md §2.1).

``read_source(spark, cfg)`` is the single entry point the config
compiler calls for every ``source:`` block. Config shape::

    {format: parquet|csv|json|text|orc|xml|binaryFile|avro|jdbc|kafka,
     path|url+dbtable|bootstrap_servers+topic: ...,
     options: {...}, schema: "DDL string"?, streaming: bool?,
     incremental: {column: ts, since: "..."}?,
     drift: passthrough|drop|strict?}

``avro`` and ``kafka`` ride Spark's public packaged DataSources
(spark-avro / spark-sql-kafka); this sandbox ships neither package
(and has no broker), so those branches are exercised up to the
classpath boundary, where a precise --packages error replaces
Spark's generic lookup failure.

Scale notes: file sources split by ``spark.sql.files.maxPartitionBytes``
automatically; JDBC reads parallelize via partitionColumn/num_partitions
(each executor pulls one slice); incremental loads are a pushed-down
range filter — at 100 TB this is the difference between scanning a
day and scanning the lake.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: ``avro`` reads and writes like the bundled file formats; only its
#: DataSource ships separately (see ``_PACKAGED``).
_FILE_FORMATS = {"parquet", "csv", "json", "text", "orc", "xml", "binaryFile", "avro"}

#: Formats whose DataSource ships as a separate package a cluster
#: adds via --packages (public Spark surface; not bundled in this
#: sandbox). The config layer accepts them and surfaces a precise
#: classpath error instead of Spark's generic lookup failure.
_PACKAGED = {
    "avro": "org.apache.spark:spark-avro_2.13:<spark-version>",
    "kafka": "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>",
}


def packaged(call, side: str, fmt: str, *args):
    """``call(*args)`` — a reader's ``load`` or a writer's ``save`` —
    with a missing packaged DataSource (``fmt`` in ``_PACKAGED``)
    raised as the --packages remedy for this ``side`` (source|sink)."""
    try:
        return call(*args)
    except Exception as e:  # AnalysisException: Failed to find data source
        if fmt in _PACKAGED and (
            "Failed to find data source" in str(e) or "ClassNotFound" in str(e)
        ):
            raise RuntimeError(
                f"{side} format {fmt!r} needs its Spark package on the "
                f"cluster classpath: --packages {_PACKAGED[fmt]}"
            ) from e
        raise


def read_source(spark: SparkSession, cfg: dict[str, Any]) -> DataFrame:
    """Read one configured source into a (possibly streaming) DataFrame."""
    fmt = cfg.get("format", "parquet")
    options = dict(cfg.get("options") or {})
    schema_ddl = cfg.get("schema")
    streaming = bool(cfg.get("streaming"))

    if fmt in _FILE_FORMATS:
        # TIMESTAMP(NANOS) parquet columns otherwise error out; with
        # this conf they read as long nanos (convert via a derive
        # step) — strictly enabling, affects nothing else.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        path = cfg["path"]
        reader = spark.readStream if streaming else spark.read
        reader = reader.format(fmt).options(**options)
        if schema_ddl:
            reader = reader.schema(schema_ddl)
        elif streaming:
            # Streaming file sources require a schema: infer it from a
            # one-off batch read of the same path (footer-only for
            # parquet — cheap even on huge lakes).
            static = spark.read.format(fmt).options(**options)
            reader = reader.schema(packaged(static.load, "source", fmt, path).schema)
        if streaming:
            # Size the eventual stateful shuffle from the backlog
            # (see streaming.ops.note_stream_source).
            from configdrivendatapipeline_spark.streaming.ops import (
                note_stream_source,
            )

            note_stream_source(spark, path)
        if streaming and os.path.isfile(path):
            # FileStreamSource monitors directories; stage a bare
            # file behind a symlinked dir.
            from configdrivendatapipeline_spark.streaming.ops import file_stream_dir

            path = file_stream_dir(spark, path)
        df = packaged(reader.load, "source", fmt, path)
    elif fmt == "jdbc":
        reader = (
            spark.read.format("jdbc")
            .option("url", cfg["url"])
            .option("dbtable", cfg["dbtable"])
            .options(**options)
        )
        if "partition_column" in cfg:
            reader = (
                reader.option("partitionColumn", cfg["partition_column"])
                .option("lowerBound", str(cfg["lower_bound"]))
                .option("upperBound", str(cfg["upper_bound"]))
                .option("numPartitions", str(cfg.get("num_partitions", 8)))
            )
        df = reader.load()
    elif fmt == "kafka":
        # Message-bus source (the event-trigger replacement): value
        # bytes + topic/partition/offset/timestamp columns; decode
        # the payload with a downstream derive/sql step. Batch mode
        # reads offset ranges; streaming follows the log.
        reader = spark.readStream if streaming else spark.read
        reader = (
            reader.format("kafka")
            .option("kafka.bootstrap.servers", cfg["bootstrap_servers"])
            .option(cfg.get("subscribe_mode", "subscribe"), cfg["topic"])
            .options(**options)
        )
        df = packaged(reader.load, "source", fmt)
    else:
        raise ValueError(f"unknown source format: {fmt!r}")

    inc = cfg.get("incremental")
    if inc:
        # High-water-mark load (ADF incremental copy): pushed-down
        # range predicate on the watermark column.
        df = df.filter(F.col(inc["column"]) > F.lit(inc["since"]))

    declared = cfg.get("declared_schema")
    if declared:
        df = apply_schema_drift(df, T._parse_datatype_string(declared), cfg.get("drift", "passthrough"))
    return df


def apply_schema_drift(
    df: DataFrame, expected: T.StructType, mode: str = "passthrough"
) -> DataFrame:
    """ADF-style schema drift handling against a declared schema.

    - ``passthrough``: unknown columns kept, missing columns added as
      typed nulls;
    - ``drop``: unknown columns dropped, missing added as nulls —
      output shape always equals the declared schema;
    - ``strict``: raise on any difference.
    """
    actual = {f.name: f for f in df.schema.fields}
    missing = [f for f in expected.fields if f.name not in actual]
    unknown = [n for n in actual if n not in {f.name for f in expected.fields}]
    if mode == "strict":
        # Strict means the TYPES too: a same-named column whose type
        # regressed (ts TIMESTAMP -> STRING in a feed) must fail here,
        # not coerce wrongly in a downstream event-time step.
        retyped = [
            f"{f.name}: expected {f.dataType.simpleString()}, "
            f"got {actual[f.name].dataType.simpleString()}"
            for f in expected.fields
            if f.name in actual and actual[f.name].dataType != f.dataType
        ]
        if missing or unknown or retyped:
            raise ValueError(
                f"schema drift: missing={[f.name for f in missing]} "
                f"unknown={unknown} retyped={retyped}"
            )
    for f in missing:
        df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    if mode == "drop":
        df = df.select(*[f.name for f in expected.fields])
    return df
