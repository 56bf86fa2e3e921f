"""SURVEY.md §2.1 — source and sink operators.

Pattern: each query materializes the driver's parquet into the
target format under a fresh path in the run's scratch directory
(``scratch.run_path``), reads it back through the engine's
``read_source``/``write_sink`` layer, and the oracle simply selects
the same rows from the parquet view — a full round-trip equality
check, stronger than the "rows-only read-back" floor in SURVEY §2.1.

The JDBC source uses Spark's bundled embedded Derby (in-process;
fine on local[n]; a real cluster would point the same config at a
networked RDBMS — only the URL changes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from configdrivendatapipeline_spark.io import read_source, write_sink
from configdrivendatapipeline_spark.queries import declare, load
from configdrivendatapipeline_spark.scratch import run_path
from configdrivendatapipeline_spark.session import session_memo

_SEC = "2.1"


@declare(
    "src_parquet",
    "SELECT r_regionkey, r_name FROM region",
    _SEC,
    "Parquet scan through the configured source layer.",
)
def src_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_source(
        spark, {"format": "parquet", "path": f"{sf_dir}/region.parquet"}
    )
    return df.select("r_regionkey", "r_name")


@declare(
    "src_csv",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    _SEC,
    "CSV scan (header, explicit schema) after a lossless round-trip.",
)
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = run_path(spark, "nation_csv")
    nat = load(spark, sf_dir, "nation")
    write_sink(
        nat,
        {"format": "csv", "path": path, "mode": "overwrite", "options": {"header": "true"}},
    )
    return read_source(
        spark,
        {
            "format": "csv",
            "path": path,
            "options": {"header": "true"},
            "schema": "n_nationkey INT, n_name STRING, n_regionkey INT",
        },
    )


@declare(
    "src_json",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    _SEC,
    "JSON-lines scan (schema'd — inference would widen ints).",
)
def src_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = run_path(spark, "supplier_json")
    sup = load(spark, sf_dir, "supplier")
    write_sink(sup, {"format": "json", "path": path, "mode": "overwrite"})
    return read_source(
        spark,
        {
            "format": "json",
            "path": path,
            "schema": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
        },
    ).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


@declare(
    "src_text",
    "SELECT r_name AS value FROM region",
    _SEC,
    "Raw text-line source (one string column named value).",
)
def src_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = run_path(spark, "region_txt")
    load(spark, sf_dir, "region").select("r_name").coalesce(1).write.text(path)
    return read_source(spark, {"format": "text", "path": path})


@declare(
    "src_jdbc",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    _SEC,
    "JDBC pull with partitioned reads (4 range slices on the key).",
)
def src_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    url = "jdbc:derby:memory:cddp_src;create=true"
    nat = load(spark, sf_dir, "nation")
    (
        nat.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_jdbc")
        .mode("overwrite")
        .save()
    )
    return read_source(
        spark,
        {
            "format": "jdbc",
            "url": url,
            "dbtable": "nation_jdbc",
            "partition_column": "n_nationkey",
            "lower_bound": 0,
            "upper_bound": 25,
            "num_partitions": 4,
        },
    )


@declare(
    "src_incremental",
    """
    SELECT event_id, user_id, event_type
    FROM events
    WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
    """,
    _SEC,
    "High-water-mark incremental load (ADF incremental copy): pushed-"
    "down watermark predicate.",
)
def src_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    inc = ev.filter(F.col("ts") > F.lit("2024-01-20 00:00:00").cast("timestamp"))
    return inc.select("event_id", "user_id", "event_type")


@declare(
    "sink_parquet",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    _SEC,
    "Partitioned parquet sink, verified by read-back (partition "
    "column type survives directory-encoding round-trip).",
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = run_path(spark, "nation_part_parquet")
    nat = load(spark, sf_dir, "nation")
    write_sink(
        nat,
        {
            "format": "parquet",
            "path": path,
            "mode": "overwrite",
            "partition_by": ["n_regionkey"],
        },
    )
    back = read_source(spark, {"format": "parquet", "path": path})
    return back.select(
        "n_nationkey", "n_name", F.col("n_regionkey").cast("int").alias("n_regionkey")
    )


@declare(
    "sink_csv",
    "SELECT c_custkey, c_name, c_acctbal FROM customer",
    _SEC,
    "CSV sink verified by schema'd read-back.",
)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = run_path(spark, "customer_csv_sink")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    write_sink(
        cust,
        {"format": "csv", "path": path, "mode": "overwrite", "options": {"header": "true"}},
    )
    return read_source(
        spark,
        {
            "format": "csv",
            "path": path,
            "options": {"header": "true"},
            "schema": "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE",
        },
    )


@declare(
    "sink_json",
    "SELECT p_partkey, p_name, p_retailprice FROM part",
    _SEC,
    "JSON sink verified by schema'd read-back.",
)
def sink_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = run_path(spark, "part_json_sink")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_name", "p_retailprice")
    write_sink(p, {"format": "json", "path": path, "mode": "overwrite"})
    return read_source(
        spark,
        {
            "format": "json",
            "path": path,
            "schema": "p_partkey BIGINT, p_name STRING, p_retailprice DOUBLE",
        },
    )


@declare(
    "sink_overwrite_dynamic",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderstatus <> 'P'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice * 0 FROM orders
    WHERE o_orderstatus = 'P'
    """,
    _SEC,
    "Dynamic partition overwrite: re-loading one partition ('P') "
    "replaces only that partition, leaving the others intact.",
)
def sink_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = run_path(spark, "orders_dyn_overwrite")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # Initial full load partitioned by status.
    write_sink(
        o,
        {
            "format": "parquet",
            "path": path,
            "mode": "overwrite",
            "partition_by": ["o_orderstatus"],
        },
    )
    # Incremental reload of ONLY the 'P' partition with changed values.
    patch = o.filter(F.col("o_orderstatus") == "P").withColumn(
        "o_totalprice", F.col("o_totalprice") * 0
    )
    write_sink(
        patch,
        {
            "format": "parquet",
            "path": path,
            "mode": "overwrite_dynamic",
            "partition_by": ["o_orderstatus"],
        },
    )
    back = read_source(spark, {"format": "parquet", "path": path})
    return back.select(
        "o_orderkey", F.col("o_orderstatus").cast("string").alias("o_orderstatus"), "o_totalprice"
    )


@declare(
    "src_orc",
    "SELECT p_partkey, p_name, p_size FROM part",
    _SEC,
    "ORC round-trip through the same parameterized source/sink layer "
    "(columnar alternative to parquet).",
)
def src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = run_path(spark, "part_orc")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_name", "p_size")
    write_sink(p, {"format": "orc", "path": path, "mode": "overwrite"})
    return read_source(spark, {"format": "orc", "path": path})


# ---------------------------------------------------------------------------
# §2.1 extra: z-order write layout (multi-dimensional file skipping)
# ---------------------------------------------------------------------------

def _ointerleave(qx: str, qy: str, bits: int) -> str:
    """DuckDB twin of layout.interleave for two columns."""
    terms = []
    for i in range(bits):
        terms.append(f"((({qx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qy} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@declare(
    "layout_zorder",
    f"""
    WITH base AS (
      SELECT CAST(o_custkey AS BIGINT) AS ck,
             CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS day
      FROM orders),
    st AS (SELECT MIN(ck) AS xlo, MAX(ck) AS xhi,
                  MIN(day) AS ylo, MAX(day) AS yhi FROM base),
    q AS (SELECT ck, day,
                 ((ck - xlo) * 256) // (xhi - xlo + 1) AS qx,
                 ((day - ylo) * 256) // (yhi - ylo + 1) AS qy
          FROM base, st),
    z AS (SELECT ck, day, {_ointerleave('qx', 'qy', 8)} AS zval FROM q)
    SELECT zval // 256 AS cell,
           COUNT(*) AS n_rows,
           MIN(ck) AS ck_lo, MAX(ck) AS ck_hi,
           MIN(day) AS day_lo, MAX(day) AS day_hi
    FROM z GROUP BY zval // 256
    """,
    _SEC,
    "Z-order (Morton) write layout: orders quantized on the "
    "(custkey, order-day) plane, bits interleaved into one exact-"
    "integer z-value, rows clustered into 256 z-cells. The emitted "
    "per-cell min/max of BOTH dimensions is the point: each cell "
    "(= one output file under repartitionByRange(zval)) spans only "
    "~1/16 of the custkey range AND ~1/16 of the date range, so "
    "parquet min-max skipping prunes scans on EITHER predicate — a "
    "single-column sort buys pruning in one dimension only. The "
    "z-value itself is map-side (min/max come from catalog stats at "
    "lake scale); only the write pays one range shuffle.",
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark import layout

    base = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("day"),
    )
    z = layout.with_zorder(base, ["ck", "day"], bits=8)
    return z.groupBy(F.shiftright("zval", 8).alias("cell")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("day").alias("day_lo"),
        F.max("day").alias("day_hi"),
    )


@declare(
    "layout_compact",
    """
    SELECT o_orderpriority, COUNT(*) AS n_rows,
           (COUNT(*) + 999) // 1000 AS n_files
    FROM orders GROUP BY o_orderpriority
    """,
    _SEC,
    "Small-file compaction planner: per logical partition, the file "
    "count a target-size rewrite should produce (ceil(rows/target)). "
    "Counts-only aggregation — the plan costs one partial-combine "
    "pass regardless of table size; compact_write executes it with "
    "ONE shuffle on (partition, md5 bucket), so retried tasks "
    "reproduce identical files (round-robin repartition would not). "
    "At 100 TB the small-file problem is scan-open cost — this is "
    "the maintenance op that keeps file counts proportional to data.",
)
def layout_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark import layout

    return layout.compaction_plan(
        load(spark, sf_dir, "orders"), ["o_orderpriority"], target_rows=1000
    )


def _orders_by_priority(spark: SparkSession, sf_dir: str) -> str:
    """orders partitioned by priority, staged once per session and
    fixture for the two pruning proofs."""

    def stage() -> str:
        path = run_path(spark, "orders_by_priority")
        (
            load(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority")
            .write.partitionBy("o_orderpriority")
            .parquet(path)
        )
        return path

    return session_memo(spark, "orders_by_priority", sf_dir, stage)


@declare(
    "src_partition_pruning",
    """
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
    _SEC,
    "Hive-partitioned read WITH PRUNING PROVEN: the staged table is "
    "partitioned by priority, the read filters one partition, and "
    "the builder inspects the physical plan's partition count — it "
    "FAILS unless the scan touches exactly one of five directories. "
    "At 100 TB partition pruning is the difference between reading "
    "20 TB and 100 TB; asserting it in-plan keeps a regression from "
    "shipping silently.",
)
def src_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io as _io
    from contextlib import redirect_stdout

    path = _orders_by_priority(spark, sf_dir)
    df = (
        spark.read.parquet(path)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    buf = _io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    if "PartitionFilters: []" in plan or "o_orderpriority" not in plan:
        raise AssertionError(f"partition filter not pushed:\n{plan}")
    return df


@declare(
    "src_csv_corrupt",
    """
    SELECT doc_id, lang, TRUE AS parsed_ok FROM documents
    WHERE doc_id % 10 <> 3
    UNION ALL
    SELECT doc_id, NULL AS lang, FALSE AS parsed_ok FROM documents
    WHERE doc_id % 10 = 3
    """,
    _SEC,
    "Malformed-input tolerance on the CSV read path: the staged file "
    "deliberately corrupts every doc_id%10==3 row (wrong arity), and "
    "the PERMISSIVE reader must land exactly those rows in the "
    "corrupt-record column while parsing the rest — at 100 TB you "
    "quarantine bad lines and keep the scan moving; FAILFAST would "
    "lose the job to one truncated upload. The oracle states the "
    "EXPECTED good/bad split analytically, so a reader that "
    "mis-parses either way fails the hash, not just a count.",
)
def src_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stage() -> str:
        path = run_path(spark, "docs_corrupt_csv")
        docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
        # good rows: "id,lang"; corrupted rows: missing the delimiter
        # (wrong arity) so the int cast of field 0 fails
        line = F.when(
            F.col("doc_id") % 10 == 3,
            F.concat(F.lit("BAD"), F.col("doc_id").cast("string"), F.lit("BAD")),
        ).otherwise(
            F.concat(F.col("doc_id").cast("string"), F.lit(","), F.col("lang"))
        )
        docs.select(line.alias("value")).coalesce(1).write.text(path)
        return path

    path = session_memo(spark, "docs_corrupt_csv", sf_dir, stage)
    schema = "doc_id BIGINT, lang STRING, _corrupt STRING"
    read = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return read.select(
        F.coalesce(
            "doc_id",
            F.regexp_extract("_corrupt", r"BAD(\d+)BAD", 1).cast("bigint"),
        ).alias("doc_id"),
        F.when(F.col("_corrupt").isNull(), F.col("lang")).alias("lang"),
        F.col("_corrupt").isNull().alias("parsed_ok"),
    )


@declare(
    "src_schema_evolution",
    """
    SELECT doc_id, lang, NULL AS quality_tier FROM documents
    WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, lang,
           CASE WHEN len(string_split(text, ' ')) >= 40 THEN 'long'
                ELSE 'short' END AS quality_tier
    FROM documents WHERE doc_id % 2 = 1
    """,
    _SEC,
    "Schema evolution across file batches: an early batch written "
    "WITHOUT quality_tier and a later batch WITH it are read through "
    "mergeSchema — old rows surface NULL for the added column, new "
    "rows keep their values, nothing is dropped or failed. This is "
    "how a year of accreted lake files actually looks; the oracle "
    "states the per-batch expectation exactly.",
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stage() -> str:
        path = run_path(spark, "docs_schema_evolved")
        docs = load(spark, sf_dir, "documents")
        docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.parquet(path)
        (
            docs.filter(F.col("doc_id") % 2 == 1)
            .select(
                "doc_id",
                "lang",
                F.when(
                    F.size(F.split("text", " ")) >= 40, "long"
                ).otherwise("short").alias("quality_tier"),
            )
            .write.mode("append")
            .parquet(path)
        )
        return path

    path = session_memo(spark, "docs_schema_evolved", sf_dir, stage)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("doc_id", "lang", "quality_tier")
    )


@declare(
    "join_dpp",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    JOIN (SELECT DISTINCT o_orderpriority AS pri FROM orders
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) d
      ON o.o_orderpriority = d.pri
    GROUP BY o.o_orderpriority
    """,
    _SEC,
    "DYNAMIC partition pruning, asserted in-plan: the fact table is "
    "partitioned on priority, the dim filter is only known at RUN "
    "time (it comes from another query), and Spark must inject a "
    "dynamic pruning subquery into the fact scan so only matching "
    "partitions are read — the optimization that turns star-schema "
    "scans from full-table to selected-partition at 100 TB. The "
    "builder fails unless the scan carries a dynamicpruning "
    "expression.",
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io as _io
    from contextlib import redirect_stdout

    path = _orders_by_priority(spark, sf_dir)
    fact = spark.read.parquet(path)
    dim = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(F.col("o_orderpriority").alias("pri"))
        .distinct()
    )
    joined = (
        fact.join(dim.hint("merge"), fact.o_orderpriority == dim.pri)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    buf = _io.StringIO()
    with redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue().lower()
    if "dynamicpruning" not in plan:
        raise AssertionError(
            f"expected a dynamic pruning subquery on the fact scan:\n{plan[:4000]}"
        )
    return joined


@declare(
    "src_text_wholefile",
    """
    SELECT doc_id, text AS content,
           CAST(len(text) AS BIGINT) AS n_chars
    FROM documents WHERE doc_id % 50 = 0
    """,
    _SEC,
    "Whole-file text ingestion (file-per-document corpus layout): "
    "each staged .txt becomes ONE row via wholetext mode — newlines "
    "preserved, no line splitting — with the doc id recovered from "
    "the file name. This is how scraped corpora actually arrive "
    "before parquet-ification; at scale the same read runs over "
    "millions of objects with Spark's file-listing parallelism. "
    "Oracle states the exact expected contents per file.",
)
def src_text_wholefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stage() -> str:
        # Fixture staging reads the parquet via pyarrow directly —
        # no Spark driver materialization in the engine package.
        import pyarrow.parquet as pq

        path = run_path(spark, "docs_wholefile", local=True)
        t = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        )
        os.makedirs(path)
        for doc_id, text in zip(
            t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        ):
            if doc_id % 50 == 0:
                with open(os.path.join(path, f"{doc_id}.txt"), "w") as f:
                    f.write(text)
        return path

    path = session_memo(spark, "docs_wholefile", sf_dir, stage)
    read = (
        spark.read.option("wholetext", "true")
        .text(path)
        .withColumn("fname", F.element_at(F.split(F.input_file_name(), "/"), -1))
    )
    return read.select(
        F.regexp_extract("fname", r"(\d+)\.txt", 1).cast("bigint").alias("doc_id"),
        F.col("value").alias("content"),
        F.length("value").cast("long").alias("n_chars"),
    )


@declare(
    "src_xml",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    _SEC,
    "XML round-trip through the configured source/sink layer "
    "(Spark 4's built-in XML data source): suppliers written with a "
    "row tag, read back with an explicit schema (inference would "
    "widen ints and reorder attributes) — the B2B/legacy-feed "
    "ingestion path. Same lossless-round-trip proof shape as the "
    "CSV/JSON/ORC sources.",
)
def src_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = run_path(spark, "supplier_xml")
    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    write_sink(
        sup,
        {
            "format": "xml",
            "path": path,
            "mode": "overwrite",
            "options": {"rowTag": "supplier"},
        },
    )
    return read_source(
        spark,
        {
            "format": "xml",
            "path": path,
            "schema": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
            "options": {"rowTag": "supplier"},
        },
    ).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


@declare(
    "sink_orc",
    "SELECT s_suppkey, s_name, s_acctbal, s_nationkey FROM supplier",
    _SEC,
    "ORC sink + source round-trip through the configured io layer — "
    "the second columnar format a lake actually mixes (Hive-era "
    "tables are ORC; Spark's reader/writer are native and "
    "vectorized, with the same predicate-pushdown/column-pruning "
    "surface as parquet). Partitioned by nation so the read-back "
    "exercises directory-encoded partition values; the partition "
    "column type survives the round trip via explicit cast.",
)
def sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = run_path(spark, "supplier_orc_sink")
    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    write_sink(
        sup,
        {
            "format": "orc",
            "path": path,
            "mode": "overwrite",
            "partition_by": ["s_nationkey"],
        },
    )
    back = read_source(spark, {"format": "orc", "path": path})
    return back.select(
        "s_suppkey",
        "s_name",
        "s_acctbal",
        F.col("s_nationkey").cast("int").alias("s_nationkey"),
    )
