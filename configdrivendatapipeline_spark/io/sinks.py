"""Parameterized sink writers (SURVEY.md §2.1).

Config shape::

    {format: parquet|csv|json|orc|avro|kafka, path: ...
     (bootstrap_servers+topic for kafka), mode: append|overwrite|
     overwrite_dynamic|error (default error; kafka: append only, its
     default — a topic cannot be overwritten), partition_by|cluster_by|
     sort_by: [col, ...], options: {...}}

``avro``/``kafka`` ride Spark's public packaged DataSources — same
classpath boundary as the source side (io/sources.py): absent the
package, the writer raises the precise --packages remedy.

Scale notes: ``partition_by`` keys should be low-cardinality and
query-aligned (date, region) so downstream reads get partition
pruning; ``overwrite_dynamic`` replaces only the partitions present
in the batch — the idempotent-reload pattern for daily loads at
lake scale.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from configdrivendatapipeline_spark.config.loader import column_list
from configdrivendatapipeline_spark.io.sources import packaged


def write_sink(df: DataFrame, cfg: dict[str, Any]) -> None:
    """Write a DataFrame to one configured sink (batch).

    Layout controls for scan-time pruning at scale: ``cluster_by``
    repartitions on the given columns (co-locates each key's rows in
    one output file set) and ``sort_by`` sorts WITHIN partitions
    before writing — together they tighten per-file min/max ranges so
    parquet row-group skipping prunes on those columns. Neither adds
    a driver-side step; sort-within-partitions never triggers a
    global range exchange.
    """
    cluster_by = column_list(cfg.get("cluster_by"), "sink cluster_by")
    if cluster_by:
        df = df.repartition(*cluster_by)
    sort_by = column_list(cfg.get("sort_by"), "sink sort_by")
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    fmt = cfg.get("format", "parquet")
    mode = cfg.get("mode", "append" if fmt == "kafka" else "error")
    writer = df.write.format(fmt).options(**dict(cfg.get("options") or {}))

    if fmt == "kafka":
        # Message-bus sink: rows must already carry a `value` column
        # (and optionally `key`); serialize upstream with a derive/
        # sql step (to_json / CAST AS BINARY). A topic is append-only,
        # so `mode` defaults to append and anything else is rejected
        # rather than silently dropped.
        if mode != "append":
            raise ValueError(
                f"sink format 'kafka' is append-only; mode: {mode!r} "
                "is not supported — remove the key or set mode: append"
            )
        writer = (
            writer.option("kafka.bootstrap.servers", cfg["bootstrap_servers"])
            .option("topic", cfg["topic"])
            .mode("append")
        )
        packaged(writer.save, "sink", fmt)
        return

    if mode == "overwrite_dynamic":
        # Replace only partitions present in this batch.
        writer = writer.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else:
        writer = writer.mode(mode)

    partition_by = column_list(cfg.get("partition_by"), "sink partition_by")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    packaged(writer.save, "sink", fmt, cfg["path"])
