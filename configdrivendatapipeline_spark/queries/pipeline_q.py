"""SURVEY.md §3.1 — the YAML config surface, oracle-verified.

Every query here goes through the REAL product path — YAML text →
``load_pipeline_str`` → ``compile_pipeline`` — not the Python API,
so the config loader, op registry dispatch and step wiring are what
the driver hash-checks, one pipeline per compiler-op family. The
whole pipeline compiles to ONE Catalyst plan (ops only declare), so
pushdown/pruning work across step boundaries exactly as they must at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from configdrivendatapipeline_spark.compiler import compile_pipeline, observed_metrics
from configdrivendatapipeline_spark.config.loader import load_pipeline_str
from configdrivendatapipeline_spark.queries import (
    VU,
    declare,
    ensure_session_confs,
    ts_normalize_expr,
)
from configdrivendatapipeline_spark.scratch import run_path

_SEC = "3.1"


def _run(spark: SparkSession, yaml_text: str, out_step: str) -> DataFrame:
    ensure_session_confs(spark)
    frames = compile_pipeline(spark, load_pipeline_str(yaml_text))
    return frames[out_step]


@declare(
    "pipeline_project",
    """
    SELECT l_orderkey,
           CAST(l_quantity AS BIGINT) AS qty,
           l_extendedprice AS price,
           l_discount AS disc,
           l_shipdate,
           CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(19,6))
                      * CAST(1 - l_discount AS DECIMAL(19,6)) * 100) AS BIGINT)
               AS net_cents
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01' AND l_discount > 0.02
    """,
    _SEC,
    "YAML pipeline: select → rename → derive → cast → filter "
    "(projection family ops through the config compiler).",
)
def pipeline_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: project_family
sources:
  lineitem:
    format: parquet
    path: {sf_dir}/lineitem.parquet
steps:
  - id: picked
    input: lineitem
    op: select
    params:
      columns: [l_orderkey, l_quantity, l_extendedprice, l_discount, l_shipdate]
  - id: renamed
    input: picked
    op: rename
    params:
      mapping:
        l_extendedprice: price
        l_discount: disc
  - id: derived
    input: renamed
    op: derive
    params:
      columns:
        net_cents: "CAST(FLOOR(CAST(price AS DECIMAL(18,6)) * CAST(1 - disc AS DECIMAL(18,6)) * 100) AS BIGINT)"
  - id: casted
    input: derived
    op: cast
    params:
      columns:
        l_quantity: bigint
  - id: shipped
    input: casted
    op: filter
    params:
      predicate: "l_shipdate >= DATE'1995-01-01' AND disc > 0.02"
  - id: named
    input: shipped
    op: rename
    params:
      mapping:
        l_quantity: qty
"""
    return _run(spark, yml, "named").select(
        "l_orderkey", "qty", "price", "disc", "l_shipdate", "net_cents"
    )


@declare(
    "pipeline_join_agg",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000) AS BIGINT)
               AS revenue_micro
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 10
    ORDER BY o_orderpriority
    LIMIT 10
    """,
    _SEC,
    "YAML pipeline: join → aggregate(having) → sort → limit; the "
    "whole DAG is one Catalyst plan so the orders filter/pruning "
    "cross step boundaries.",
)
def pipeline_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: join_agg_family
sources:
  lineitem:
    format: parquet
    path: {sf_dir}/lineitem.parquet
  orders:
    format: parquet
    path: {sf_dir}/orders.parquet
steps:
  - id: joined
    inputs: [lineitem, orders]
    op: join
    params:
      condition: "l_orderkey = o_orderkey"
      how: inner
  - id: by_priority
    input: joined
    op: aggregate
    params:
      group_by: [o_orderpriority]
      aggs:
        n_items: "COUNT(*)"
        sum_qty: "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)"
        revenue_micro: "CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000) AS BIGINT)"
      having: "n_items > 10"
  - id: ranked
    input: by_priority
    op: sort
    params:
      by: [o_orderpriority]
  - id: top
    input: ranked
    op: limit
    params:
      n: 10
"""
    return _run(spark, yml, "top")


@declare(
    "pipeline_union_distinct",
    """
    SELECT DISTINCT c_custkey, c_mktsegment
    FROM (
      SELECT * FROM customer WHERE c_acctbal > 5000
      UNION ALL
      SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
    _SEC,
    "YAML pipeline: two filtered branches → union → distinct "
    "(set-op family through the config compiler).",
)
def pipeline_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: union_family
sources:
  customer:
    format: parquet
    path: {sf_dir}/customer.parquet
steps:
  - id: rich
    input: customer
    op: filter
    params:
      predicate: "c_acctbal > 5000"
  - id: building
    input: customer
    op: filter
    params:
      predicate: "c_mktsegment = 'BUILDING'"
  - id: unioned
    inputs: [rich, building]
    op: union
    params: {{}}
  - id: uniq
    input: unioned
    op: distinct
    params:
      columns: [c_custkey, c_mktsegment]
"""
    return _run(spark, yml, "uniq")


@declare(
    "pipeline_window_dedup",
    """
    WITH w AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), f AS (SELECT * FROM w WHERE rn <= 3),
    d AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rn2
      FROM f)
    SELECT user_id, event_id, value, rn FROM d WHERE rn2 = 1
    """,
    _SEC,
    "YAML pipeline: window(row_number) → filter → dedup-latest → "
    "select. events.ts is only ORDERED BY, never emitted — every "
    "physical encoding (long nanos / NTZ / timestamp) orders "
    "identically in both engines.",
)
def pipeline_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: window_family
sources:
  events:
    format: parquet
    path: {sf_dir}/events.parquet
steps:
  - id: numbered
    input: events
    op: window
    params:
      partition_by: [user_id]
      order_by: [ts, event_id]
      columns:
        rn: "row_number()"
  - id: first3
    input: numbered
    op: filter
    params:
      predicate: "rn <= 3"
  - id: latest
    input: first3
    op: dedup
    params:
      keys: [user_id]
      order_by: ["ts DESC", "event_id DESC"]
  - id: shaped
    input: latest
    op: select
    params:
      columns: [user_id, event_id, value, rn]
  - id: typed
    input: shaped
    op: cast
    params:
      columns:
        rn: bigint
"""
    return _run(spark, yml, "typed")


@declare(
    "pipeline_pivot_unpivot",
    """
    SELECT o_orderpriority, o_orderstatus AS status, COUNT(*) AS n
    FROM orders
    WHERE o_orderstatus IN ('O', 'F', 'P')
    GROUP BY o_orderpriority, o_orderstatus
    """,
    _SEC,
    "YAML pipeline: pivot(status → columns) then unpivot back to "
    "rows + drop-null filter — round-trips to the plain group-by "
    "the oracle states.",
)
def pipeline_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: pivot_family
sources:
  orders:
    format: parquet
    path: {sf_dir}/orders.parquet
steps:
  - id: wide
    input: orders
    op: pivot
    params:
      group_by: [o_orderpriority]
      pivot_column: o_orderstatus
      values: [O, F, P]
      agg: "COUNT(*)"
  - id: tall
    input: wide
    op: unpivot
    params:
      ids: [o_orderpriority]
      values: [O, F, P]
      var_name: status
      value_name: n
  - id: present
    input: tall
    op: filter
    params:
      predicate: "n IS NOT NULL"
"""
    return _run(spark, yml, "present")


@declare(
    "pipeline_validate",
    """
    SELECT 'key_present' AS rule_name, COUNT(*) AS n_checked,
           CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_failed,
           COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'price_band', COUNT(*),
           CAST(COALESCE(SUM(CASE WHEN NOT (o_totalprice >= 0 AND o_totalprice <= 400000) THEN 1 ELSE 0 END), 0) AS BIGINT),
           COALESCE(SUM(CASE WHEN NOT (o_totalprice >= 0 AND o_totalprice <= 400000) THEN 1 ELSE 0 END), 0) = 0
    FROM orders
    UNION ALL
    SELECT 'status_domain', COUNT(*),
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END), 0) AS BIGINT),
           COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END), 0) = 0
    FROM orders
    """,
    _SEC,
    "YAML pipeline: declarative rule list → one metrics DataFrame "
    "(the validate op; all rules share one scan).",
)
def pipeline_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: validate_family
sources:
  orders:
    format: parquet
    path: {sf_dir}/orders.parquet
steps:
  - id: metrics
    input: orders
    op: validate
    params:
      output: metrics
      rules:
        - rule: not_null
          name: key_present
          column: o_custkey
        - rule: range
          name: price_band
          column: o_totalprice
          min: 0
          max: 400000
        - rule: set
          name: status_domain
          column: o_orderstatus
          allowed: [F, O, P]
"""
    return _run(spark, yml, "metrics")


@declare(
    "pipeline_enrich",
    r"""
    SELECT c_custkey,
           COALESCE(n_name, 'UNKNOWN') AS nation_name,
           NULLIF(UPPER(regexp_replace(TRIM(c_mktsegment), '\s+', ' ', 'g')), '')
               AS c_mktsegment,
           CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bal_band,
           'L42' AS _load_id,
           'crm' AS _source
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
    _SEC,
    "YAML pipeline: lookup(default-on-miss, broadcast dim) → "
    "standardize → bucketize → audit → select (enrichment family).",
)
def pipeline_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: enrich_family
sources:
  customer:
    format: parquet
    path: {sf_dir}/customer.parquet
  nation:
    format: parquet
    path: {sf_dir}/nation.parquet
steps:
  - id: named_nation
    inputs: [customer, nation]
    op: lookup
    params:
      keys:
        c_nationkey: n_nationkey
      take:
        nation_name: n_name
      defaults:
        nation_name: UNKNOWN
  - id: tidy
    input: named_nation
    op: standardize
    params:
      columns: [c_mktsegment]
  - id: banded
    input: tidy
    op: bucketize
    params:
      column: c_acctbal
      bounds: [0.0, 5000.0]
      labels: [negative, low, high]
      out: bal_band
  - id: audited
    input: banded
    op: audit
    params:
      load_id: L42
      source_name: crm
  - id: shaped
    input: audited
    op: select
    params:
      columns: [c_custkey, nation_name, c_mktsegment, bal_band, _load_id, _source]
"""
    return _run(spark, yml, "shaped")


@declare(
    "pipeline_corpus",
    r"""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id, text,
             len(toks) AS n_tokens,
             len(list_filter(toks, t -> list_contains(['the','a','of','and','is'], t)))
                 AS n_stopwords,
             len(list_distinct(toks)) AS n_distinct
      FROM d),
    gated AS (
      SELECT doc_id, text FROM q
      WHERE (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 40 ELSE 0 END
             + CASE WHEN n_stopwords * 100 >= n_tokens * 2
                     AND n_stopwords * 100 <= n_tokens * 40 THEN 30 ELSE 0 END
             + CASE WHEN n_distinct * 100 >= n_tokens * 30 THEN 30 ELSE 0 END) >= 70),
    scrubbed AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(text,
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
                 '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '[PHONE]', 'g'),
                 '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS text
      FROM gated),
    uniq AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM scrubbed) WHERE rn = 1),
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM uniq),
    c AS (
      SELECT doc_id, toks,
             1 + CAST(CEIL(GREATEST(len(toks) - 64, 0) / 48.0) AS INT) AS n_chunks
      FROM t)
    SELECT doc_id,
           CAST(unnest(range(n_chunks)) AS INT) AS chunk_idx,
           list_aggregate(toks[unnest(range(n_chunks)) * 48 + 1 :
                               unnest(range(n_chunks)) * 48 + 64], 'string_agg', ' ')
               AS chunk_text,
           CAST(len(toks[unnest(range(n_chunks)) * 48 + 1 :
                         unnest(range(n_chunks)) * 48 + 64]) AS BIGINT) AS chunk_tokens
    FROM c
    """,
    _SEC,
    "YAML pipeline: the LLM corpus-prep DAG (examples/corpus_prep."
    "yaml) — quality gate → PII scrub → exact dedup → chunk — "
    "config-declared end-to-end and hash-checked against a composed "
    "SQL twin.",
)
def pipeline_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: corpus_family
sources:
  documents:
    format: parquet
    path: {sf_dir}/documents.parquet
steps:
  - id: quality_gated
    input: documents
    op: text_quality
    params:
      min_quality: 70
      keep_text: true
  - id: scrubbed
    input: quality_gated
    op: redact
    params:
      text_column: text
  - id: slim
    input: scrubbed
    op: select
    params:
      columns: [doc_id, text]
  - id: unique_docs
    input: slim
    op: dedup_exact
    params:
      text_column: text
      id_column: doc_id
  - id: chunks
    input: unique_docs
    op: chunk
    params:
      chunk_tokens: 64
      overlap: 16
"""
    return _run(spark, yml, "chunks")


@declare(
    "pipeline_salted",
    """
    SELECT s_nationkey,
           COUNT(l_orderkey) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    ORDER BY s_nationkey
    """,
    _SEC,
    "YAML pipeline: salted_join (hot-key splitting) → salted_agg "
    "(two-phase partial merge) — results identical to the plain "
    "join+group-by the oracle states; only the shuffle shape "
    "changes.",
)
def pipeline_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: skew_family
sources:
  lineitem:
    format: parquet
    path: {sf_dir}/lineitem.parquet
  supplier:
    format: parquet
    path: {sf_dir}/supplier.parquet
steps:
  - id: keyed_supplier
    input: supplier
    op: rename
    params:
      mapping:
        s_suppkey: l_suppkey
  - id: joined
    inputs: [lineitem, keyed_supplier]
    op: salted_join
    params:
      key: l_suppkey
      salt: 8
      how: inner
  - id: by_nation
    input: joined
    op: salted_agg
    params:
      group_by: [s_nationkey]
      aggs:
        n_items: [count, l_orderkey]
        sum_qty: [sum, l_quantity]
      salt: 8
  - id: typed
    input: by_nation
    op: derive
    params:
      columns:
        sum_qty: "CAST(sum_qty AS BIGINT)"
  - id: ranked
    input: typed
    op: sort
    params:
      by: [s_nationkey]
"""
    return _run(spark, yml, "ranked")


def _run_stream(
    spark: SparkSession, yaml_text: str, out_step: str, mode: str
) -> DataFrame:
    """``_run``, then drain ``out_step`` through AvailableNow in
    ``mode``, after checking the YAML really declared a stream."""
    from configdrivendatapipeline_spark.streaming import run_available_now

    out = _run(spark, yaml_text, out_step)
    assert out.isStreaming
    return run_available_now(out, mode)


def _events_ts_expr(spark: SparkSession, sf_dir: str) -> str:
    """The derive-step expression that turns ``events.ts`` into a
    TIMESTAMP. It depends on how the parquet ships event time (long
    nanos / TIMESTAMP_NTZ / TIMESTAMP), so it is resolved from a
    footer-only batch read, exactly what a config generator would
    template in."""
    ensure_session_confs(spark)
    raw_t = dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes).get("ts")
    return ts_normalize_expr(raw_t)


@declare(
    "pipeline_stream",
    f"""
    SELECT date_trunc('hour', ts) AS win_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM({VU}) AS DOUBLE) / 1000000 AS total_value
    FROM events
    WHERE event_type <> 'error'
    GROUP BY 1, 2
    """,
    _SEC,
    "YAML pipeline over a STREAMING source: config declares "
    "streaming:true on the parquet source, the same derive/filter/"
    "sql step ops run unchanged on the unbounded frame, and the "
    "result drains through AvailableNow — proving the compiler's "
    "batch/stream unification (one op surface, trigger swapped in "
    "production, never the pipeline). Exact integer micro-unit sums "
    "so streaming partial-agg order can't flip hashes.",
)
def pipeline_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ts_expr = _events_ts_expr(spark, sf_dir)
    yml = f"""
pipeline:
  name: stream_family
sources:
  events:
    format: parquet
    path: {sf_dir}/events.parquet
    streaming: true
steps:
  - id: typed
    input: events
    op: derive
    params:
      columns:
        ts: "{ts_expr}"
        vu: "{VU}"
  - id: kept
    input: typed
    op: filter
    params:
      predicate: "event_type <> 'error'"
  - id: hourly
    input: kept
    op: sql
    params:
      views: [ev]
      query: |
        SELECT window(ts, '1 hour').start AS win_start, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(vu) AS DOUBLE) / 1000000 AS total_value
        FROM ev GROUP BY window(ts, '1 hour'), event_type
"""
    return _run_stream(spark, yml, "hourly", "complete")


def _knn_oracle() -> str:
    # The deterministic hyperplane LSH (integer arithmetic planes)
    # lets DuckDB replay the IDENTICAL candidate set — same helpers
    # as llm_knn_join's oracle, here without the group column and k=2.
    from configdrivendatapipeline_spark.queries.llm_q import _obanded, _ocos

    return f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    cb AS ({_obanded(6, 4)}),
    cand AS (
      SELECT DISTINCT a.vec_id AS left_id, b.vec_id AS right_id
      FROM cb a JOIN cb b ON a.table_id = b.table_id AND a.bucket = b.bucket
      WHERE a.vec_id <> b.vec_id),
    scored AS (
      SELECT c.left_id, c.right_id,
             {_ocos('va.embedding', 'vb.embedding')} AS cos_sim
      FROM cand c JOIN v va ON va.vec_id = c.left_id
                  JOIN v vb ON vb.vec_id = c.right_id)
    SELECT left_id, right_id, cos_sim, rn AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
               ORDER BY cos_sim DESC, right_id ASC) AS rn FROM scored)
    WHERE rn <= 2
    """


@declare(
    "pipeline_knn",
    _knn_oracle(),
    _SEC,
    "YAML pipeline: approximate k-NN self-join through the config "
    "surface — knn_join op (deterministic hyperplane LSH candidates "
    "→ cosine verify → per-vector top-2); bucket-bounded equi-join, "
    "identical plan to llm_knn_join but declared in YAML.",
)
def pipeline_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: knn_family
sources:
  embeddings:
    format: parquet
    path: {sf_dir}/embeddings.parquet
steps:
  - id: neighbors
    input: embeddings
    op: knn_join
    params:
      k: 2
      n_tables: 6
      planes_per_table: 4
"""
    return _run(spark, yml, "neighbors")


def _check_observed(
    spark: SparkSession, watched: DataFrame, name: str, path: str
) -> None:
    """Drive the observed frame once so its ``name`` metrics
    materialize, then check their ``rows`` against an independent
    count of ``path``: the declared query thereby proves the observe
    plumbing, not just the aggregation."""
    ensure_session_confs(spark)
    watched.write.format("noop").mode("overwrite").save()
    m = observed_metrics()[name]
    expected = spark.read.parquet(path).count()
    if m.get("rows") != expected:
        raise AssertionError(f"observe metrics wrong: {m} vs rows={expected}")


@declare(
    "pipeline_observe",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
    _SEC,
    "YAML pipeline with an observe step: telemetry metrics (row "
    "count, key max) are computed DURING the frame's own action — "
    "no second scan — and the builder cross-checks the observed "
    "row count against an independent count before returning, so a "
    "broken metrics path fails the driver gate, not just a log line.",
)
def pipeline_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: observe_family
sources:
  orders:
    format: parquet
    path: {sf_dir}/orders.parquet
steps:
  - id: watched
    input: orders
    op: observe
    params:
      name: order_stats
      metrics:
        rows: "count(1)"
        max_key: "max(o_orderkey)"
  - id: by_status
    input: watched
    op: aggregate
    params:
      group_by: [o_orderstatus]
      aggs:
        n_orders: "COUNT(*)"
"""
    frames = compile_pipeline(spark, load_pipeline_str(yml))
    _check_observed(spark, frames["watched"], "order_stats", f"{sf_dir}/orders.parquet")
    return frames["by_status"]


@declare(
    "pipeline_curation_stats",
    """
    WITH c AS (
      SELECT source, lang, COUNT(*) AS n_docs FROM documents
      WHERE n_chars >= 10
      GROUP BY source, lang
    ), m AS (SELECT MAX(n_docs) AS mx FROM c)
    SELECT source, lang, n_docs,
           CAST((mx * 2000000 + n_docs) // (2 * n_docs) AS BIGINT)
             AS upsample_micro
    FROM c, m
    """,
    _SEC,
    "YAML pipeline: observe(telemetry) → filter → source_weights — "
    "the data-driven mixture-weight step reachable from the config "
    "surface, with an anomaly (zscore) validate branch in the same "
    "pipeline proving the statistical rule compiles from YAML too. "
    "The observe metrics piggyback on the frame's own action (no "
    "second scan) and are cross-checked before returning.",
)
def pipeline_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: curation_stats
sources:
  documents:
    format: parquet
    path: {sf_dir}/documents.parquet
steps:
  - id: watched
    input: documents
    op: observe
    params:
      name: doc_stats
      metrics:
        rows: "count(1)"
        max_id: "max(doc_id)"
  - id: sized
    input: watched
    op: filter
    params:
      predicate: "n_chars >= 10"
  - id: weights
    input: sized
    op: source_weights
    params:
      group_by: [source, lang]
  - id: length_anomaly
    input: documents
    op: validate
    params:
      output: metrics
      rules:
        - {{rule: zscore, name: length_outliers, column: n_chars, max_z: 1.5}}
"""
    frames = compile_pipeline(spark, load_pipeline_str(yml))
    _check_observed(
        spark, frames["watched"], "doc_stats", f"{sf_dir}/documents.parquet"
    )
    # Drive the zscore branch too: an empty/broken anomaly plan must
    # fail the gate here, not silently return only the weights frame.
    if frames["length_anomaly"].count() != 1:
        raise AssertionError("zscore validate branch produced no metrics row")
    return frames["weights"]


@declare(
    "pipeline_stream_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS c_user,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_sec
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    _SEC,
    "YAML pipeline: stream-stream interval join declared entirely in "
    "config — two streaming sources, per-side watermark steps (the "
    "new watermark op bounds join state at scale), and a free-form "
    "join condition carrying the attribution time bound. Proves the "
    "config surface can express bounded-state streaming topologies, "
    "not just single-stream aggregations.",
)
def pipeline_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ts_expr = _events_ts_expr(spark, sf_dir)
    yml = f"""
pipeline:
  name: stream_join_family
sources:
  clicks:
    format: parquet
    path: {sf_dir}/events.parquet
    streaming: true
  purchases:
    format: parquet
    path: {sf_dir}/events.parquet
    streaming: true
steps:
  - id: c_typed
    input: clicks
    op: derive
    params:
      columns:
        c_ts: "{ts_expr}"
  - id: c_side
    input: c_typed
    op: filter
    params:
      predicate: "event_type = 'click'"
  - id: c_shaped
    input: c_side
    op: derive
    params:
      columns:
        click_id: "event_id"
        c_user: "user_id"
  - id: c_cols
    input: c_shaped
    op: select
    params:
      columns: [click_id, c_user, c_ts]
  - id: c_wm
    input: c_cols
    op: watermark
    params:
      column: c_ts
      delay: "1 hour"
  - id: p_typed
    input: purchases
    op: derive
    params:
      columns:
        p_ts: "{ts_expr}"
  - id: p_side
    input: p_typed
    op: filter
    params:
      predicate: "event_type = 'purchase'"
  - id: p_shaped
    input: p_side
    op: derive
    params:
      columns:
        purchase_id: "event_id"
        p_user: "user_id"
  - id: p_cols
    input: p_shaped
    op: select
    params:
      columns: [purchase_id, p_user, p_ts]
  - id: p_wm
    input: p_cols
    op: watermark
    params:
      column: p_ts
      delay: "1 hour"
  - id: attributed
    inputs: [c_wm, p_wm]
    op: join
    params:
      condition: >
        c_user = p_user AND p_ts >= c_ts
        AND p_ts <= c_ts + INTERVAL 30 MINUTES
      how: inner
  - id: shaped
    input: attributed
    op: derive
    params:
      columns:
        delay_sec: "unix_timestamp(p_ts) - unix_timestamp(c_ts)"
  - id: result
    input: shaped
    op: select
    params:
      columns: [click_id, purchase_id, c_user, delay_sec]
"""
    return _run_stream(spark, yml, "result", "append")


@declare(
    "pipeline_bloom",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    _SEC,
    "YAML pipeline: bloom_prefilter (broadcast bitmap, map-side fact "
    "filter) → residual exact join → aggregate. The bloom layer is "
    "semantically transparent — false positives are removed by the "
    "residual join, so the oracle is the plain semi-join aggregate — "
    "but at 100 TB the fact stream sheds ~all non-matching rows "
    "before the join shuffle.",
)
def pipeline_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: bloom_family
sources:
  orders:
    format: parquet
    path: {sf_dir}/orders.parquet
  customer:
    format: parquet
    path: {sf_dir}/customer.parquet
steps:
  - id: building
    input: customer
    op: filter
    params:
      predicate: "c_mktsegment = 'BUILDING'"
  - id: keys
    input: building
    op: select
    params:
      columns: [c_custkey]
  - id: prefiltered
    inputs: [orders, keys]
    op: bloom_prefilter
    params:
      key: c_custkey
      fact_key: o_custkey
  - id: joined
    inputs: [prefiltered, keys]
    op: join
    params:
      condition: "o_custkey = c_custkey"
      how: inner
      broadcast: true
  - id: by_priority
    input: joined
    op: aggregate
    params:
      group_by: [o_orderpriority]
      aggs:
        n_orders: "count(o_orderkey)"
  - id: ranked
    input: by_priority
    op: sort
    params:
      by: [o_orderpriority]
"""
    return _run(spark, yml, "ranked")


@declare(
    "pipeline_lm_curation",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
    freq AS (SELECT token, (CAST(cnt AS HUGEINT) * 1000000) // total AS freq_micro
             FROM vocab, tot),
    sc AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(freq_micro) AS BIGINT) // COUNT(*) AS lm_micro
      FROM tok JOIN freq USING (token) GROUP BY doc_id)
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(s.n_tokens) AS BIGINT) AS total_tokens
    FROM documents d JOIN sc s USING (doc_id)
    WHERE s.lm_micro >= 33100 AND s.n_tokens >= 20
    GROUP BY d.source
    ORDER BY d.source
    """,
    _SEC,
    "YAML pipeline: lm_score (self-trained unigram quality) → "
    "threshold gate → per-source corpus accounting — the quality-"
    "filtered token budget table a data-mixture planner starts "
    "from, reachable entirely from config.",
)
def pipeline_lm_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: lm_curation
sources:
  documents:
    format: parquet
    path: {sf_dir}/documents.parquet
steps:
  - id: scored
    input: documents
    op: lm_score
    params: {{}}
  - id: gated
    input: scored
    op: filter
    params:
      predicate: "lm_micro >= 33100 AND n_tokens >= 20"
  - id: by_source
    input: gated
    op: aggregate
    params:
      group_by: [source]
      aggs:
        n_docs: "count(doc_id)"
        total_tokens: "sum(n_tokens)"
  - id: typed
    input: by_source
    op: derive
    params:
      columns:
        total_tokens: "CAST(total_tokens AS BIGINT)"
  - id: ranked
    input: typed
    op: sort
    params:
      by: [source]
"""
    return _run(spark, yml, "ranked")


@declare(
    "pipeline_params",
    """
    SELECT o_orderstatus AS status, COUNT(*) AS n_orders
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      AND o_orderstatus IN ('O', 'F')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    _SEC,
    "YAML control flow: a parameterized segment (${seg} substitution) "
    "gates the customer filter, foreach stamps one branch per order "
    "status at COMPILE time (the expanded DAG is still one static "
    "Catalyst plan — ADF's ForEach without runtime orchestration), "
    "and a when:-gated debug branch drops out under the default "
    "parameters. The oracle is the equivalent single query.",
)
def pipeline_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
parameters:
  seg: BUILDING
  mode: fast
pipeline:
  name: control_flow
sources:
  orders:
    format: parquet
    path: {sf_dir}/orders.parquet
  customer:
    format: parquet
    path: {sf_dir}/customer.parquet
steps:
  - id: seg_keys
    input: customer
    op: filter
    params:
      predicate: "c_mktsegment = '${{seg}}'"
  - id: keys
    input: seg_keys
    op: select
    params:
      columns: [c_custkey]
  - id: seg_orders
    inputs: [orders, keys]
    op: join
    params:
      condition: "o_custkey = c_custkey"
      how: left_semi
      broadcast: true
  - id: branch
    input: seg_orders
    op: filter
    params:
      predicate: "o_orderstatus = '${{st}}'"
    foreach: {{var: st, values: [O, F]}}
  - id: debug_all
    input: seg_orders
    op: distinct
    params: {{}}
    when: "${{mode}} == full"
  - id: merged
    inputs: [branch_O, branch_F]
    op: union
    params: {{}}
  - id: counted
    input: merged
    op: aggregate
    params:
      group_by: [o_orderstatus]
      aggs:
        n_orders: "count(o_orderkey)"
  - id: shaped
    input: counted
    op: rename
    params:
      mapping:
        o_orderstatus: status
  - id: ranked
    input: shaped
    op: sort
    params:
      by: [status]
"""
    return _run(spark, yml, "ranked")


@declare(
    "pipeline_include",
    """
    SELECT c_mktsegment, COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 0
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    _SEC,
    "YAML pipeline COMPOSITION (ADF ExecutePipeline): a reusable "
    "cleaning fragment — its own parameters, sources and steps — is "
    "include:d under a namespace prefix and the parent pipeline "
    "builds on its output; the merged DAG still compiles to one "
    "static Catalyst plan. The oracle is the equivalent single "
    "query.",
)
def pipeline_include(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    frag_dir = run_path(spark, "fragments", local=True)
    os.makedirs(frag_dir)
    frag = os.path.join(frag_dir, "solvent_customers.yaml")
    with open(frag, "w") as f:
        f.write(
            f"""
parameters:
  min_bal: "0"
sources:
  customer:
    format: parquet
    path: {sf_dir}/customer.parquet
steps:
  - id: solvent
    input: customer
    op: filter
    params:
      predicate: "c_acctbal > ${{min_bal}}"
  - id: keyed
    input: solvent
    op: select
    params:
      columns: [c_custkey, c_mktsegment]
"""
        )
    yml = f"""
include:
  - path: solvent_customers.yaml
    prefix: clean
pipeline:
  name: composed
sources:
  orders:
    format: parquet
    path: {sf_dir}/orders.parquet
steps:
  - id: joined
    inputs: [orders, clean_keyed]
    op: join
    params:
      condition: "o_custkey = c_custkey"
      how: inner
      broadcast: true
  - id: counted
    input: joined
    op: aggregate
    params:
      group_by: [c_mktsegment]
      aggs:
        n_orders: "count(o_orderkey)"
  - id: ranked
    input: counted
    op: sort
    params:
      by: [c_mktsegment]
"""
    from configdrivendatapipeline_spark.compiler import compile_pipeline
    from configdrivendatapipeline_spark.config.loader import load_pipeline_str

    ensure_session_confs(spark)
    frames = compile_pipeline(
        spark, load_pipeline_str(yml, base_dir=frag_dir)
    )
    return frames["ranked"]


@declare(
    "pipeline_lineage",
    """
    SELECT * FROM (VALUES
      ('seg',     'filter',       'customer', 'source'),
      ('keys',    'select',       'seg',      'step'),
      ('joined',  'join',         'orders',   'source'),
      ('joined',  'join',         'keys',     'step'),
      ('counted', 'aggregate',    'joined',   'step'),
      ('sink[0]', 'sink:parquet', 'counted',  'step')
    ) AS t(node, op, input, input_kind)
    """,
    _SEC,
    "Pipeline lineage as data: the compiled DAG's (node, op, input) "
    "edges emitted as a DataFrame so governance tooling can answer "
    "'what feeds this sink?' with the same engine that runs the "
    "pipeline. Config-sized by definition; the oracle states the "
    "exact expected edge set for the declared document.",
)
def pipeline_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.compiler import lineage_frame
    from configdrivendatapipeline_spark.config.loader import load_pipeline_str

    yml = f"""
pipeline:
  name: lineage_demo
sources:
  orders:
    format: parquet
    path: {sf_dir}/orders.parquet
  customer:
    format: parquet
    path: {sf_dir}/customer.parquet
steps:
  - id: seg
    input: customer
    op: filter
    params:
      predicate: "c_mktsegment = 'BUILDING'"
  - id: keys
    input: seg
    op: select
    params:
      columns: [c_custkey]
  - id: joined
    inputs: [orders, keys]
    op: join
    params:
      condition: "o_custkey = c_custkey"
      how: left_semi
  - id: counted
    input: joined
    op: aggregate
    params:
      group_by: [o_orderpriority]
      aggs:
        n: "count(o_orderkey)"
sinks:
  - input: counted
    format: parquet
    path: /tmp/cddp_out/lineage_demo
    mode: overwrite
"""
    ensure_session_confs(spark)
    return lineage_frame(spark, load_pipeline_str(yml))


_OQ = (
    "(CASE WHEN len(toks) BETWEEN 20 AND 2000 THEN 40 ELSE 0 END "
    " + CASE WHEN len(list_filter(toks, t -> "
    "list_contains(['the','a','of','and','is'], t))) * 100 >= len(toks) * 2 "
    " AND len(list_filter(toks, t -> "
    "list_contains(['the','a','of','and','is'], t))) * 100 <= len(toks) * 40 "
    "THEN 30 ELSE 0 END "
    " + CASE WHEN len(list_distinct(toks)) * 100 >= len(toks) * 30 "
    "THEN 30 ELSE 0 END)"
)


@declare(
    "pipeline_e2e_curation",
    f"""
    WITH d AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS toks
      FROM documents),
    gated AS (
      SELECT doc_id, source, text FROM d WHERE {_OQ} >= 70),
    deduped AS (
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                 PARTITION BY text
                 ORDER BY doc_id) AS rn
        FROM gated) WHERE rn = 1),
    sampled AS (
      SELECT doc_id, source FROM deduped
      WHERE {{bucket}} < 5000)
    SELECT source, COUNT(*) AS n_docs
    FROM sampled GROUP BY source ORDER BY source
    """.format(
        bucket=(
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(string_split(substr(md5("
            "CAST(doc_id AS VARCHAR) || ':sample:v1'), 1, 8), ''), "
            "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))), "
            "(a, b) -> a * 16 + b) % 10000"
        )
    ),
    _SEC,
    "END-TO-END curation pipeline from ONE config document: quality "
    "gate → exact content dedup → deterministic 50% sample → "
    "per-source accounting — four curation stages composed through "
    "the compiler into a single Catalyst plan, hash-verified against "
    "one SQL replay of the whole chain. This is the corpus-refresh "
    "job the engine exists to run.",
)
def pipeline_e2e_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: e2e_curation
sources:
  documents:
    format: parquet
    path: {sf_dir}/documents.parquet
steps:
  - id: gated
    input: documents
    op: text_quality
    params:
      min_quality: 70
      keep_text: true
  - id: deduped
    input: gated
    op: dedup_exact
    params:
      text_column: text
      id_column: doc_id
  - id: sampled
    input: deduped
    op: hash_sample
    params:
      fraction: 0.5
      id_column: doc_id
  - id: src_cols
    input: documents
    op: select
    params:
      columns: [doc_id, source]
  - id: with_src
    inputs: [sampled, src_cols]
    op: join
    params:
      "on": [doc_id]
      how: inner
  - id: by_source
    input: with_src
    op: aggregate
    params:
      group_by: [source]
      aggs:
        n_docs: "count(doc_id)"
  - id: ranked
    input: by_source
    op: sort
    params:
      by: [source]
"""
    return _run(spark, yml, "ranked")


from configdrivendatapipeline_spark.queries import omd5bucket as _ob  # noqa: E402


@declare(
    "pipeline_training_layout",
    f"""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang),
    mn AS (SELECT MIN(n_docs) AS mn FROM c),
    cuts AS (
      SELECT lang, (100000000 * mn) // n_docs AS x FROM c CROSS JOIN mn),
    s AS (
      SELECT lang, x,
             CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS BIGINT) AS s0
      FROM cuts),
    k2 AS (
      SELECT lang,
             s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN 1 ELSE 0 END)
                - (CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END) AS keep_cut
      FROM s),
    kept AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN k2 USING (lang)
      WHERE {_ob('d.doc_id', 'temp:v1', 10000)} < k2.keep_cut),
    d2 AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_ob('doc_id', 'pack:v1', 8)} AS shard
      FROM kept),
    o AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tok_offset
      FROM d2),
    x AS (
      SELECT shard, n_tokens, tok_offset,
             UNNEST(generate_series(tok_offset // 512,
                    (tok_offset + n_tokens - 1) // 512)) AS pack_no
      FROM o),
    m AS (
      SELECT shard, pack_no,
             CAST(LEAST(n_tokens, (pack_no + 1) * 512 - tok_offset)
                  - GREATEST(0, pack_no * 512 - tok_offset) AS BIGINT)
               AS slice_len
      FROM x)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_fragments,
           CAST(COUNT(DISTINCT pack_no) AS BIGINT) AS n_packs,
           CAST(SUM(slice_len) AS BIGINT) AS tokens_total,
           CAST(MAX(pack_no) AS BIGINT) AS max_pack
    FROM m GROUP BY shard
    """,
    _SEC,
    "YAML pipeline: the training-data layout DAG (examples/"
    "training_layout.yaml) — temperature_sample (alpha=1/2 language "
    "rebalance) → semi-join back to payloads → pack_manifest "
    "(512-token context windows) → per-shard accounting — the whole "
    "tokenize-and-lay-out tail of a pretraining data pipeline, "
    "config-declared end-to-end and hash-checked against a composed "
    "SQL twin.",
)
def pipeline_training_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: training_layout
sources:
  documents:
    format: parquet
    path: {sf_dir}/documents.parquet
steps:
  - id: sampled
    input: documents
    op: temperature_sample
    params: {{group_by: lang, salt: "temp:v1"}}
  - id: sampled_ids
    input: sampled
    op: select
    params: {{columns: [doc_id]}}
  - id: kept_docs
    inputs: [documents, sampled_ids]
    op: join
    params: {{"on": [doc_id], how: left_semi}}
  - id: manifest
    input: kept_docs
    op: pack_manifest
    params: {{budget: 512}}
  - id: shard_stats
    input: manifest
    op: aggregate
    params:
      group_by: [shard]
      aggs:
        n_fragments: "count(1)"
        n_packs: "count(distinct pack_no)"
        tokens_total: "sum(slice_len)"
        max_pack: "max(pack_no)"
"""
    return _run(spark, yml, "shard_stats")


@declare(
    "pipeline_mm_ingest",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 29 = 0 THEN 'unknown'
                  WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality
      FROM documents WHERE doc_id < 60)
    SELECT modality, CAST(COUNT(*) AS BIGINT) AS n_files
    FROM d GROUP BY modality
    """,
    _SEC,
    "YAML pipeline: the raw-media ingest front door — a binaryFile "
    "source over a file-per-object directory, ids parsed from "
    "filenames with a derive step, magic-byte modality routing, and "
    "per-modality accounting — declared entirely in config and "
    "hash-checked against the analytic payload oracle. The same "
    "staged files src_binaryfile proves the content of; this proves "
    "the CONFIG surface reaches them.",
)
def pipeline_mm_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reuse src_binaryfile's staged directory (stages on first use).
    from configdrivendatapipeline_spark.queries.llm_q import binary_file_stage

    stage = binary_file_stage(spark, sf_dir)
    yml = f"""
pipeline:
  name: mm_ingest
sources:
  media:
    format: binaryFile
    path: {stage}
steps:
  - id: with_id
    input: media
    op: derive
    params:
      columns:
        doc_id: "CAST(regexp_extract(path, 'doc_(\\\\d+)\\\\.bin', 1) AS BIGINT)"
        payload: "content"
  - id: slim
    input: with_id
    op: select
    params: {{columns: [doc_id, payload]}}
  - id: routed
    input: slim
    op: route_modality
    params: {{}}
  - id: by_modality
    input: routed
    op: aggregate
    params:
      group_by: [modality]
      aggs:
        n_files: "count(1)"
"""
    return _run(spark, yml, "by_modality")


@declare(
    "pipeline_release_gate",
    """
    WITH k AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    krow AS (
      SELECT 'k_anonymity_5' AS rule_name,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(COALESCE(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_violating_groups,
             CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n ELSE 0 END), 0)
                  AS BIGINT) AS n_exposed_rows,
             CAST(MIN(n) AS BIGINT) AS worst,
             MIN(n) >= 5 AS passed
      FROM k),
    l AS (
      SELECT c_nationkey,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS nd,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY c_nationkey),
    lrow AS (
      SELECT 'l_diversity_3' AS rule_name,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(COALESCE(SUM(CASE WHEN nd < 3 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_violating_groups,
             CAST(COALESCE(SUM(CASE WHEN nd < 3 THEN n ELSE 0 END), 0)
                  AS BIGINT) AS n_exposed_rows,
             CAST(MIN(nd) AS BIGINT) AS worst,
             MIN(nd) >= 3 AS passed
      FROM l)
    SELECT * FROM krow UNION ALL SELECT * FROM lrow
    """,
    _SEC,
    "YAML pipeline: the dataset-release privacy gate — k-anonymity "
    "and l-diversity metric rows computed from config and unioned "
    "into one gate table a release job can assert on — declared "
    "end-to-end and hash-checked against the composed SQL twin. The "
    "gate rows carry counts only, never the identifying "
    "combinations.",
)
def pipeline_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: release_gate
sources:
  customer:
    format: parquet
    path: {sf_dir}/customer.parquet
steps:
  - id: kanon
    input: customer
    op: kanonymity
    params: {{quasi_identifiers: [c_nationkey, c_mktsegment], k: 5}}
  - id: ldiv
    input: customer
    op: ldiversity
    params: {{quasi_identifiers: [c_nationkey], sensitive: c_mktsegment, l: 3}}
  - id: gate
    inputs: [kanon, ldiv]
    op: union
    params: {{}}
"""
    return _run(spark, yml, "gate")


from configdrivendatapipeline_spark.queries.llm_q import (  # noqa: E402
    _obanded as _obanded_p,
    _ocos as _ocos_p,
    _ocos_raw as _ocos_raw_p,
)


@declare(
    "pipeline_contrastive",
    f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    cb AS ({_obanded_p(6, 4)}),
    lab AS (SELECT vec_id, label FROM embeddings),
    pcand AS (
      SELECT DISTINCT a.vec_id AS left_id, b.vec_id AS right_id
      FROM cb a JOIN cb b ON a.table_id = b.table_id AND a.bucket = b.bucket
           JOIN lab la ON la.vec_id = a.vec_id
           JOIN lab lb ON lb.vec_id = b.vec_id
      WHERE la.label = lb.label AND a.vec_id <> b.vec_id),
    pos AS (
      SELECT left_id AS anchor_id, right_id AS pos_id, cos_sim AS pos_cos
      FROM (
        SELECT c.left_id, c.right_id,
               {_ocos_p('va.embedding', 'vb.embedding')} AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY c.left_id
                 ORDER BY {_ocos_p('va.embedding', 'vb.embedding')} DESC,
                          c.right_id) AS rn
        FROM pcand c JOIN v va ON va.vec_id = c.left_id
                     JOIN v vb ON vb.vec_id = c.right_id)
      WHERE rn = 1),
    ncand AS (
      SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS neg_id
      FROM cb a JOIN cb b ON a.table_id = b.table_id AND a.bucket = b.bucket
           JOIN lab la ON la.vec_id = a.vec_id
           JOIN lab lb ON lb.vec_id = b.vec_id
      WHERE la.label <> lb.label),
    neg AS (
      SELECT anchor_id, neg_id, cos_sim AS neg_cos FROM (
        SELECT c.anchor_id, c.neg_id,
               {_ocos_p('va.embedding', 'vb.embedding')} AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY c.anchor_id
                 ORDER BY {_ocos_raw_p('va.embedding', 'vb.embedding')} DESC,
                          c.neg_id) AS rn
        FROM ncand c JOIN v va ON va.vec_id = c.anchor_id
                     JOIN v vb ON vb.vec_id = c.neg_id)
      WHERE rn = 1)
    SELECT p.anchor_id, p.pos_id, n.neg_id, p.pos_cos, n.neg_cos,
           p.pos_cos - n.neg_cos + 0.0 AS margin
    FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
    """,
    _SEC,
    "YAML pipeline: contrastive training-data prep declared in "
    "config — knn_join mines the hardest same-label positive, "
    "hard_negatives the hardest cross-label negative, a join and a "
    "derive stitch the (anchor, positive, negative, margin) triplet "
    "table — hash-checked against the composed SQL twin, proving the "
    "embedding-training prep is reachable from the product surface.",
)
def pipeline_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: contrastive_prep
sources:
  embeddings:
    format: parquet
    path: {sf_dir}/embeddings.parquet
steps:
  - id: pos_raw
    input: embeddings
    op: knn_join
    params: {{k: 1, group_column: label}}
  - id: pos
    input: pos_raw
    op: derive
    params:
      columns: {{anchor_id: "left_id", pos_id: "right_id", pos_cos: "cos_sim"}}
  - id: pos_slim
    input: pos
    op: select
    params: {{columns: [anchor_id, pos_id, pos_cos]}}
  - id: neg_raw
    input: embeddings
    op: hard_negatives
    params: {{}}
  - id: neg
    input: neg_raw
    op: derive
    params:
      columns: {{neg_cos: "cos_sim"}}
  - id: neg_slim
    input: neg
    op: select
    params: {{columns: [anchor_id, neg_id, neg_cos]}}
  - id: triplets
    inputs: [pos_slim, neg_slim]
    op: join
    params: {{"on": [anchor_id], how: inner}}
  - id: with_margin
    input: triplets
    op: derive
    params:
      columns: {{margin: "pos_cos - neg_cos + 0.0"}}
  - id: out
    input: with_margin
    op: select
    params: {{columns: [anchor_id, pos_id, neg_id, pos_cos, neg_cos, margin]}}
"""
    return _run(spark, yml, "out")


from configdrivendatapipeline_spark.queries.llm_q import _obpe_ctes as _obpe_p  # noqa: E402

_OBUDGET_Q = """
    d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(CASE WHEN len(toks) BETWEEN 20 AND 2000 THEN 40 ELSE 0 END
              + CASE WHEN len(list_filter(toks, t ->
                       list_contains(['the','a','of','and','is'], t))) * 100
                       >= len(toks) * 2
                     AND len(list_filter(toks, t ->
                       list_contains(['the','a','of','and','is'], t))) * 100
                       <= len(toks) * 40 THEN 30 ELSE 0 END
              + CASE WHEN len(list_distinct(toks)) * 100 >= len(toks) * 30
                     THEN 30 ELSE 0 END AS BIGINT) AS quality
      FROM d),
    bands AS (
      SELECT quality, CAST(SUM(n_tokens) AS BIGINT) AS band_tokens
      FROM q GROUP BY quality),
    cb AS (
      SELECT quality, band_tokens,
             CAST(COALESCE(SUM(band_tokens) OVER (
               ORDER BY quality DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM bands),
    tot AS (SELECT CAST(SUM(band_tokens) AS BIGINT) // 2 AS budget FROM bands),
    j AS (
      SELECT q.doc_id, q.quality, q.n_tokens,
             cb.band_tokens, cb.cum_before, t.budget,
             CAST(COALESCE(SUM(q.n_tokens) OVER (
               PARTITION BY q.quality
               ORDER BY md5(CAST(q.doc_id AS VARCHAR) || ':budget:v1'), q.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS doc_cum
      FROM q JOIN cb USING (quality) CROSS JOIN tot t),
    sel AS (
      SELECT doc_id, n_tokens,
             CASE WHEN cum_before + band_tokens <= budget THEN 'full_band'
                  ELSE 'partial_band' END AS keep_tier
      FROM j
      WHERE cum_before + band_tokens <= budget
         OR (cum_before < budget
             AND cum_before + doc_cum + n_tokens <= budget))
"""


@declare(
    "pipeline_budget",
    "WITH "
    + ",\n".join(_obpe_p(20))
    + ","
    + _OBUDGET_Q
    + """,
    dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents),
    enc AS (
      SELECT dw.doc_id,
             CAST(SUM(len(string_split(trim(v.sym), ' '))) AS BIGINT)
               AS n_bpe_tokens
      FROM dw JOIN v20 v ON v.word = dw.word
      GROUP BY dw.doc_id)
    SELECT s.keep_tier,
           COUNT(*) AS n_docs,
           CAST(SUM(s.n_tokens) AS BIGINT) AS ws_tokens,
           CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS bpe_tokens
    FROM sel s JOIN enc e USING (doc_id)
    GROUP BY s.keep_tier
    ORDER BY s.keep_tier
    """,
    _SEC,
    "YAML pipeline for the training-prep flagship: bpe_train (mode: "
    "local — bit-identical to the distributed trainer up to its 1M-"
    "word collected-vocab cap, pinned by test_bpe_local_mode_is_bit_"
    "identical_to_distributed; above the cap the capped local vocab "
    "diverges by design, and the distributed mode remains the "
    "declared llm_bpe_train path) emits "
    "the 20-merge tokenizer artifact, bpe_encode consumes it as a "
    "SECOND INPUT (train once, feed every encoder — the production "
    "shape), budget_select keeps the best docs until half the "
    "corpus's tokens are spent, and the tiers roll up to whitespace "
    "vs BPE token budgets — the sizing card a compute-bounded run "
    "plans against, reachable entirely from config.",
)
def pipeline_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: budget_curation
sources:
  documents:
    format: parquet
    path: {sf_dir}/documents.parquet
steps:
  - id: merges
    input: documents
    op: bpe_train
    params:
      n_merges: 20
      mode: local
  - id: encoded
    inputs: [documents, merges]
    op: bpe_encode
    params: {{}}
  - id: selected
    input: documents
    op: budget_select
    params: {{}}
  - id: joined
    inputs: [selected, encoded]
    op: join
    params: {{"on": [doc_id], how: inner}}
  - id: by_tier
    input: joined
    op: aggregate
    params:
      group_by: [keep_tier]
      aggs:
        n_docs: "COUNT(*)"
        ws_tokens: "CAST(SUM(n_tokens) AS BIGINT)"
        bpe_tokens: "CAST(SUM(n_bpe_tokens) AS BIGINT)"
  - id: ranked
    input: by_tier
    op: sort
    params:
      by: [keep_tier]
"""
    return _run(spark, yml, "ranked")


@declare(
    "pipeline_retrieval",
    """
    WITH q(qid, token) AS (
      VALUES (0, 'the'), (0, 'data'), (1, 'stream'), (1, 'window')),
    tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents),
    hits AS (
      SELECT q.qid, tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched
      FROM q JOIN tok USING (token)
      GROUP BY q.qid, tok.doc_id),
    ranked AS (
      SELECT qid, doc_id, n_matched,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY n_matched DESC, doc_id) AS rn
      FROM hits)
    SELECT r.qid, r.doc_id, r.n_matched, CAST(r.rn AS INT) AS rank,
           d.source
    FROM ranked r JOIN documents d USING (doc_id)
    WHERE r.rn <= 5
    ORDER BY r.qid, r.rn
    """,
    _SEC,
    "YAML pipeline for the retrieval surface: keyword_search over "
    "the corpus (broadcast query terms probing the token key), "
    "joined back to document metadata and ranked — keyword serving "
    "declared entirely in config, beside the embedding-kNN config "
    "path pipeline_knn proves. The oracle replays the probe, rank, "
    "and enrich chain as one SQL statement.",
)
def pipeline_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: keyword_serving
sources:
  documents:
    format: parquet
    path: {sf_dir}/documents.parquet
steps:
  - id: hits
    input: documents
    op: keyword_search
    params:
      k: 5
      queries:
        0: [the, data]
        1: [stream, window]
  - id: meta
    input: documents
    op: select
    params: {{columns: [doc_id, source]}}
  - id: enriched
    inputs: [hits, meta]
    op: join
    params: {{"on": [doc_id], how: inner}}
  - id: shaped
    input: enriched
    op: select
    params: {{columns: [qid, doc_id, n_matched, rank, source]}}
  - id: ranked
    input: shaped
    op: sort
    params:
      by: [qid, rank]
"""
    return _run(spark, yml, "ranked")


@declare(
    "pipeline_spatial",
    """
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST((c_custkey * 7919) % 180000001 - 90000000 AS BIGINT)
               AS lat_u,
             CAST((c_custkey * 104729) % 360000001 - 180000000 AS BIGINT)
               AS lon_u
      FROM customer),
    cells AS (
      SELECT id, lat_u, lon_u,
             CAST(FLOOR(lat_u / 1000000.0) AS BIGINT) AS gy,
             CAST(FLOOR(lon_u / 1000000.0) AS BIGINT) AS gx
      FROM pts),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
             + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) AS dist_sq_u
      FROM cells a
      JOIN cells b
        ON b.gy BETWEEN a.gy - 1 AND a.gy + 1
       AND b.gx BETWEEN a.gx - 1 AND a.gx + 1
       AND a.id < b.id
      WHERE (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
            + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u)
            <= CAST(1000000 AS BIGINT) * 1000000),
    sym AS (
      SELECT id_a AS id, dist_sq_u FROM pairs
      UNION ALL
      SELECT id_b AS id, dist_sq_u FROM pairs)
    SELECT id,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(MIN(dist_sq_u) AS BIGINT) AS nearest_sq_u
    FROM sym GROUP BY id
    """,
    _SEC,
    "YAML pipeline for the spatial surface: derive closed-form "
    "micro-degree coordinates, pair within-1° points through the "
    "spatial_grid op (grid-cell EQUI-join — the density-bounded "
    "distributed spatial shape join_spatial_grid proves), then roll "
    "the symmetric pair list up to per-point neighbor counts + "
    "nearest squared distance — the density readout a geo dedup or "
    "store-siting pipeline consumes, reachable entirely from "
    "config.",
)
def pipeline_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: spatial_density
sources:
  customer:
    format: parquet
    path: {sf_dir}/customer.parquet
steps:
  - id: points
    input: customer
    op: derive
    params:
      columns:
        id: "c_custkey"
        lat_u: "CAST((CAST(c_custkey AS BIGINT) * 7919) % 180000001 - 90000000 AS BIGINT)"
        lon_u: "CAST((CAST(c_custkey AS BIGINT) * 104729) % 360000001 - 180000000 AS BIGINT)"
  - id: pairs
    input: points
    op: spatial_grid
    params:
      radius_u: 1000000
  - id: sym
    input: pairs
    op: sql
    params:
      views: [p]
      query: >
        SELECT id_a AS id, dist_sq_u FROM p
        UNION ALL
        SELECT id_b AS id, dist_sq_u FROM p
  - id: density
    input: sym
    op: aggregate
    params:
      group_by: [id]
      aggs:
        n_neighbors: "CAST(COUNT(*) AS BIGINT)"
        nearest_sq_u: "CAST(MIN(dist_sq_u) AS BIGINT)"
"""
    return _run(spark, yml, "density")


@declare(
    "pipeline_pareto",
    """
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    wk AS (SELECT * FROM o WHERE dayofweek(d) IN (0, 6)),
    per AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS tot_cents
      FROM wk GROUP BY o_custkey)
    SELECT p.o_custkey, p.n_orders, p.tot_cents
    FROM per p
    WHERE NOT EXISTS (
      SELECT 1 FROM per q
      WHERE q.n_orders >= p.n_orders AND q.tot_cents >= p.tot_cents
        AND (q.n_orders > p.n_orders OR q.tot_cents > p.tot_cents))
    """,
    _SEC,
    "YAML pipeline chaining BOTH round-7 analytics ops: date_dim "
    "builds the conformed calendar from the fact table's own "
    "bounds, the weekend slice broadcast-joins back to orders "
    "(calendar-sized build side at any fact volume), and skyline "
    "shortlists the customers not dominated in (weekend order "
    "count, weekend revenue) — the multi-criteria account "
    "shortlist, declared entirely in config. The oracle replays "
    "the weekend filter and the naive NOT EXISTS dominance check.",
)
def pipeline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    yml = f"""
pipeline:
  name: weekend_pareto
sources:
  orders:
    format: parquet
    path: {sf_dir}/orders.parquet
steps:
  - id: cal
    input: orders
    op: date_dim
    params:
      date_column: o_orderdate
  - id: weekend
    input: cal
    op: filter
    params:
      predicate: "is_weekend"
  - id: tagged
    inputs: [orders, weekend]
    op: join
    params:
      condition: "o_orderdate = date_key"
      how: inner
      broadcast: true
  - id: per_cust
    input: tagged
    op: aggregate
    params:
      group_by: [o_custkey]
      aggs:
        n_orders: "CAST(COUNT(*) AS BIGINT)"
        tot_cents: "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
  - id: frontier
    input: per_cust
    op: skyline
    params:
      x_column: n_orders
      y_column: tot_cents
      keep_columns: [o_custkey]
"""
    return _run(spark, yml, "frontier")


# PageRank-iteration CTE shared with llm_dedup_canonical's oracle —
# both replay the same integer-exact rank over the same edge CTEs.
from configdrivendatapipeline_spark.queries.llm_q import _opagerank_iter  # noqa: E402


@declare(
    "pipeline_dedup_reuse",
    f"""
    WITH tok AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), sizes AS (SELECT id, COUNT(*) AS n_tok FROM tok GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING COUNT(*) / (ANY_VALUE((SELECT n_tok FROM sizes WHERE id = a.id))
             + ANY_VALUE((SELECT n_tok FROM sizes WHERE id = b.id)) - COUNT(*)) >= 0.95
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), deg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
    ), walk AS (
      WITH RECURSIVE w(id, anc) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.anc FROM w JOIN edges e ON e.src = w.id
      ) SELECT * FROM w
    ), comp AS (
      SELECT id, MIN(anc) AS component FROM walk GROUP BY id
    ), n AS (SELECT doc_id AS id FROM documents),
    r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
    {_opagerank_iter('r0', 'i1')},
    {_opagerank_iter('i1', 'i2')},
    {_opagerank_iter('i2', 'i3')},
    canon AS (
      SELECT c.id, c.component,
             CAST(COALESCE(dg.d, 0) AS BIGINT) AS n_neighbors,
             i3.r AS rank_micro,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY i3.r DESC, c.id) AS rn
      FROM comp c JOIN i3 ON i3.id = c.id LEFT JOIN deg dg ON dg.src = c.id
    ), cs AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component
    ), hist AS (
      SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
      FROM cs GROUP BY cluster_size
    ), tot AS (
      SELECT CAST(SUM(cluster_size * n_clusters) AS BIGINT) AS n_docs FROM hist)
    SELECT 'cluster' AS section, CAST(id AS BIGINT) AS k1,
           CAST(component AS BIGINT) AS k2, CAST(NULL AS BIGINT) AS v1,
           CAST(NULL AS BIGINT) AS v2, CAST(NULL AS BIGINT) AS v3
    FROM comp
    UNION ALL
    SELECT 'size_hist', h.cluster_size, h.n_clusters,
           CAST(h.cluster_size * h.n_clusters AS BIGINT),
           CAST((CAST(h.cluster_size - 1 AS HUGEINT) * h.n_clusters
                 * 1000000) // t.n_docs AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM hist h CROSS JOIN tot t
    UNION ALL
    SELECT 'canonical', CAST(id AS BIGINT), CAST(component AS BIGINT),
           n_neighbors, rank_micro,
           CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT)
    FROM canon
    """,
    _SEC,
    "Materialize-once dedup pipeline — the round-9 timing census's "
    "top-3 fix: llm_dup_clusters / llm_cluster_sizes / "
    "llm_dedup_canonical each independently rebuild the same "
    "exact-Jaccard edge graph (~88 s of the ~300 s combined at "
    "sf0.1). Here the PPJoin pair build runs ONCE through the new "
    "materialize op (write the pair table, hand every consumer a "
    "columnar scan of it), then connected components, integer-exact "
    "PageRank, the canonical-survivor window, and the cluster-size "
    "histogram all read the SAME materialized edges — 1x edge-build "
    "cost instead of 3x, declared entirely in YAML. Output is the "
    "three reports stacked in one tall frame (section = cluster | "
    "size_hist | canonical); the oracle replays the whole DAG from "
    "one CTE chain, hash-exact.",
)
def pipeline_dedup_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = run_path(spark, "dedup_reuse_pairs")
    yml = f"""
pipeline:
  name: dedup_reuse
sources:
  documents:
    format: parquet
    path: {sf_dir}/documents.parquet
steps:
  - id: pairs_all
    input: documents
    op: jaccard_pairs
    params:
      threshold: 0.95
  - id: pairs_slim
    input: pairs_all
    op: select
    params: {{columns: [id_a, id_b]}}
  - id: pairs
    input: pairs_slim
    op: materialize
    params:
      path: {stage}
  - id: nodes
    input: documents
    op: select
    params: {{columns: [doc_id]}}
  - id: clusters
    inputs: [pairs, nodes]
    op: components
    params: {{id_column: doc_id}}
  - id: ranks
    inputs: [pairs, nodes]
    op: graph_rank
    params: {{id_column: doc_id}}
  - id: ranked_members
    inputs: [clusters, ranks]
    op: join
    params: {{"on": [doc_id], how: inner}}
  - id: flagged
    input: ranked_members
    op: window
    params:
      partition_by: [component]
      order_by: ["rank_micro desc", "doc_id"]
      columns: {{rn: "row_number()"}}
  - id: canon_shaped
    input: flagged
    op: sql
    params:
      views: [canon]
      query: >
        SELECT 'canonical' AS section, CAST(doc_id AS BIGINT) AS k1,
               CAST(component AS BIGINT) AS k2,
               CAST(n_neighbors AS BIGINT) AS v1,
               CAST(rank_micro AS BIGINT) AS v2,
               CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS v3
        FROM canon
  - id: clusters_shaped
    input: clusters
    op: sql
    params:
      views: [comp]
      query: >
        SELECT 'cluster' AS section, CAST(doc_id AS BIGINT) AS k1,
               CAST(component AS BIGINT) AS k2, CAST(NULL AS BIGINT) AS v1,
               CAST(NULL AS BIGINT) AS v2, CAST(NULL AS BIGINT) AS v3
        FROM comp
  - id: comp_sizes
    input: clusters
    op: aggregate
    params:
      group_by: [component]
      aggs:
        cluster_size: "CAST(COUNT(*) AS BIGINT)"
  - id: size_hist
    input: comp_sizes
    op: aggregate
    params:
      group_by: [cluster_size]
      aggs:
        n_clusters: "CAST(COUNT(*) AS BIGINT)"
  - id: sizes_shaped
    input: size_hist
    op: sql
    params:
      views: [hist]
      query: >
        WITH tot AS (SELECT CAST(SUM(cluster_size * n_clusters) AS BIGINT)
                       AS n_docs FROM hist)
        SELECT 'size_hist' AS section, CAST(cluster_size AS BIGINT) AS k1,
               CAST(n_clusters AS BIGINT) AS k2,
               CAST(cluster_size * n_clusters AS BIGINT) AS v1,
               CAST((CAST(cluster_size - 1 AS DECIMAL(38,0)) * n_clusters
                     * 1000000) div n_docs AS BIGINT) AS v2,
               CAST(NULL AS BIGINT) AS v3
        FROM hist CROSS JOIN tot
  - id: combined
    inputs: [clusters_shaped, sizes_shaped, canon_shaped]
    op: union
    params: {{}}
  - id: report
    input: combined
    op: sort
    params:
      by: [section, k1, k2]
"""
    return _run(spark, yml, "report")
