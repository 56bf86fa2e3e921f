"""SURVEY.md §2.9 — enrichment operators, routed through the engine
(:mod:`configdrivendatapipeline_spark.enrichment`)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from configdrivendatapipeline_spark import enrichment
from configdrivendatapipeline_spark.queries import VU, declare, load

_SEC = "2.9"


@declare(
    "enr_lookup",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
           COALESCE(p.p_name, 'unknown') AS part_name
    FROM lineitem l
    LEFT JOIN (SELECT p_partkey, p_name FROM part WHERE p_size > 10) p
      ON l.l_partkey = p.p_partkey
    """,
    _SEC,
    "Broadcast dim lookup with default-on-miss (ADF 'Lookup'); the "
    "dim is filtered so misses really occur.",
)
def enr_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    part = load(spark, sf_dir, "part").filter(F.col("p_size") > 10)
    return enrichment.lookup(
        li,
        part,
        on={"l_partkey": "p_partkey"},
        take={"part_name": "p_name"},
        defaults={"part_name": "unknown"},
    )


@declare(
    "enr_derived",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           l_quantity > 40 AS bulk
    FROM lineitem
    """,
    _SEC,
    "Computed business columns (withColumns over SQL expressions).",
)
def enr_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.withColumns(
        {
            "net_price": F.expr("l_extendedprice * (1 - l_discount)"),
            "charge": F.expr("l_extendedprice * (1 - l_discount) * (1 + l_tax)"),
            "bulk": F.expr("l_quantity > 40"),
        }
    ).select("l_orderkey", "l_linenumber", "net_price", "charge", "bulk")


@declare(
    "enr_standardize",
    r"""
    SELECT c_custkey,
           NULLIF(UPPER(regexp_replace(TRIM(CONCAT('  ', c_mktsegment, '   ')),
                                       '\s+', ' ', 'g')), '') AS segment
    FROM customer
    """,
    _SEC,
    "Standardize: trim / collapse whitespace / uppercase / blank→null "
    "(messy input manufactured by padding).",
)
def enr_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.concat(F.lit("  "), "c_mktsegment", F.lit("   ")).alias("segment")
    )
    return enrichment.standardize(c, ["segment"])


@declare(
    "enr_bucketize",
    """
    SELECT c_custkey, c_acctbal,
           CASE WHEN c_acctbal IS NULL THEN NULL
                WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 3000 THEN 'low'
                WHEN c_acctbal < 7000 THEN 'mid'
                ELSE 'high' END AS bal_tier
    FROM customer
    """,
    _SEC,
    "Value→band bucketing (acctbal tiers).",
)
def enr_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return enrichment.bucketize(
        c, "c_acctbal", [0, 3000, 7000], ["debt", "low", "mid", "high"], "bal_tier"
    )


@declare(
    "enr_surrogate_key",
    """
    SELECT c_custkey, c_nationkey,
           ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS sk
    FROM customer
    """,
    _SEC,
    "Stable surrogate key: per-partition row_number over a "
    "deterministic order (never monotonically_increasing_id).",
)
def enr_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return enrichment.surrogate_key(
        c, order_by=["c_custkey"], out="sk", partition_by=["c_nationkey"]
    )


@declare(
    "enr_audit_cols",
    """
    SELECT r_regionkey, r_name,
           'L2024_001' AS _load_id, 'region_parquet' AS _source
    FROM region
    """,
    _SEC,
    "Lineage/audit columns from orchestration constants (fixed, not "
    "current_timestamp, so re-runs are reproducible).",
)
def enr_audit_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    return enrichment.audit_columns(r, "L2024_001", "region_parquet")


@declare(
    "enr_scd2",
    """
    SELECT user_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
    FROM events
    """,
    _SEC,
    "SCD type 2 from a change log: one window pass derives "
    "valid_from / valid_to / is_current (no MERGE dependency).",
)
def enr_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return enrichment.scd2(ev, key=["user_id"], ts="ts", attrs=["event_type"]).select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


@declare(
    "enr_union_harmonize",
    """
    SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal FROM customer
    UNION ALL
    SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, c_acctbal FROM customer
    """,
    _SEC,
    "Schema-align heterogeneous sources: unionByName with missing "
    "columns null-filled.",
)
def enr_union_harmonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    a = c.select("c_custkey", "c_name")
    b = c.select("c_custkey", "c_acctbal")
    return enrichment.union_harmonize([a, b])


@declare(
    "enr_merge_upsert",
    """
    WITH updates AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, 42.0 FROM orders WHERE o_orderkey < 5
    )
    SELECT COALESCE(t.o_orderkey, u.o_orderkey) AS o_orderkey,
           COALESCE(u.o_totalprice, t.o_totalprice) AS o_totalprice,
           t.o_orderstatus
    FROM orders t FULL JOIN updates u ON t.o_orderkey = u.o_orderkey
    """,
    _SEC,
    "MERGE INTO / upsert as a full-outer-join rewrite (no Delta "
    "dependency): matched rows updated, new keys inserted, the rest "
    "pass through — SCD1 / ADF Copy-upsert semantics.",
)
def enr_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice"))
        .unionByName(
            o.filter(F.col("o_orderkey") < 5).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit(42.0).alias("o_totalprice"),
            )
        )
    )
    return enrichment.merge_upsert(o, updates, key=["o_orderkey"])


@declare(
    "enr_cdc_apply",
    """
    WITH ranked AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS value_micro,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id, event_type, value_micro
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
    _SEC,
    "CDC change-log apply, latest-wins: per user keep only the newest "
    "event; a tombstone ('error') as the newest change deletes the "
    "key — the read-side of a Debezium-style CDC sink. One window "
    "shuffled on the key (the same shuffle the MERGE it replaces "
    "would pay), event-time order with an explicit event_id tie-break "
    "so same-instant changes resolve identically on every engine and "
    "retry.",
)
def enr_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.enrichment import cdc_apply

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr(VU).alias("value_micro"),
        "ts",
    )
    return cdc_apply(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        op_col="event_type",
        delete_op="error",
        tiebreak_cols=["event_id"],
    ).select("user_id", "event_id", "event_type", "value_micro")


@declare(
    "enr_incremental_mv",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS sum_keys,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_price_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    _SEC,
    "Incremental materialized-view maintenance: the per-priority "
    "aggregate state computed over history (orders before the cut) "
    "is merged with the aggregate of ONLY the new rows — full-outer "
    "join on the group key + coalesced addition, one shuffle sized "
    "by |state|+|delta|, history never rescanned. The oracle is the "
    "FULL recomputation, so the hash proves incremental == "
    "from-scratch, the invariant every incremental ETL pipeline "
    "must hold. Sums in exact integer cents.",
)
def enr_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.enrichment import merge_agg_state

    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderdate",
        F.col("o_orderkey").cast("long").alias("okey"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    cut = "1997-01-01 00:00:00"

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("okey").alias("sum_keys"),
            F.sum("cents").alias("sum_price_cents"),
        )

    state = agg(o.filter(F.col("o_orderdate") < cut))
    delta_agg = agg(o.filter(F.col("o_orderdate") >= cut))
    return merge_agg_state(
        state,
        delta_agg,
        ["o_orderpriority"],
        ["sum_keys", "sum_price_cents"],
    )


@declare(
    "enr_winsorize",
    """
    WITH lim AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           CAST(ROUND(GREATEST(lim.lo, LEAST(lim.hi, l.l_extendedprice)), 2)
                AS DOUBLE) AS price_w,
           (l.l_extendedprice < lim.lo OR l.l_extendedprice > lim.hi)
             AS clipped
    FROM lineitem l JOIN lim USING (l_returnflag)
    """,
    _SEC,
    "Winsorization: clip each group's price tails at its own exact "
    "P5/P95 — the robust-statistics prep that keeps one fat-finger "
    "row from wrecking a mean or a model feature. Limits come from "
    "ONE aggregate (tiny frame, broadcast back); the clip itself is "
    "map-side greatest/least, and the clipped flag makes the "
    "mutation auditable.",
)
def enr_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    lim = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.05).alias("lo"),
        F.percentile("l_extendedprice", 0.95).alias("hi"),
    )
    return li.join(F.broadcast(lim), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(
            F.greatest("lo", F.least("hi", F.col("l_extendedprice"))), 2
        ).cast("double").alias("price_w"),
        (
            (F.col("l_extendedprice") < F.col("lo"))
            | (F.col("l_extendedprice") > F.col("hi"))
        ).alias("clipped"),
    )


@declare(
    "enr_scd3",
    """
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    cur AS (SELECT user_id, event_type AS current_type FROM ranked WHERE rn = 1),
    prev AS (SELECT user_id, event_type AS previous_type FROM ranked WHERE rn = 2)
    SELECT c.user_id, c.current_type, p.previous_type
    FROM cur c LEFT JOIN prev p ON p.user_id = c.user_id
    """,
    _SEC,
    "SCD type 3 — current value plus ONE previous value as columns, "
    "the footprint-bounded alternative to SCD2's full history (one "
    "row per key forever, no validity ranges): latest and "
    "second-latest change per key from one ordered window with "
    "explicit tie-breaks. The 'what changed since last quarter' "
    "shape BI asks for without paying history storage.",
)
def enr_scd3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select("user_id", "event_type", "ts", "event_id").withColumn(
        "rn", F.row_number().over(w)
    )
    cur = ranked.filter(F.col("rn") == 1).select(
        "user_id", F.col("event_type").alias("current_type")
    )
    prev = ranked.filter(F.col("rn") == 2).select(
        "user_id", F.col("event_type").alias("previous_type")
    )
    return cur.join(prev, "user_id", "left").select(
        "user_id", "current_type", "previous_type"
    )


@declare(
    "enr_json_flatten",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 7 <> 0 THEN source END AS src,
           CASE WHEN doc_id % 7 <> 0 THEN lang END AS lang_out,
           CASE WHEN doc_id % 7 <> 0
                THEN CAST(len(string_split(text, ' ')) AS BIGINT) END
             AS n_tokens,
           (doc_id % 7 = 0) AS was_corrupt
    FROM documents
    """,
    _SEC,
    "JSON flatten with explicit schema + corrupt tolerance: payloads "
    "are manufactured as JSON (every 7th deliberately truncated), "
    "from_json with a PINNED schema parses the good ones to typed "
    "columns and NULLs the bad ones instead of failing the stage — "
    "schema-on-read the way an event firehose actually lands. The "
    "oracle states the expected typed values and the exact corrupt "
    "set analytically.",
)
def enr_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit('{"src":"'),
        F.col("source"),
        F.lit('","lang":"'),
        F.col("lang"),
        F.lit('","n_tokens":'),
        F.size(F.split("text", " ")).cast("string"),
        F.lit("}"),
    )
    # every 7th row: truncate the JSON mid-object (unparseable)
    raw = F.when(
        F.col("doc_id") % 7 == 0, F.substring(payload, 1, 10)
    ).otherwise(payload)
    schema = "src STRING, lang STRING, n_tokens BIGINT"
    parsed = docs.select(
        "doc_id", F.from_json(raw, schema).alias("j")
    )
    return parsed.select(
        "doc_id",
        F.col("j.src").alias("src"),
        F.col("j.lang").alias("lang_out"),
        F.col("j.n_tokens").alias("n_tokens"),
        # PERMISSIVE from_json yields an all-NULL struct (not a NULL
        # struct) on corrupt input — flag via a never-null field
        F.col("j.src").isNull().alias("was_corrupt"),
    )


@declare(
    "enr_survivorship",
    """
    WITH variants AS (
      SELECT c_custkey, 1 AS prio,
             CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_name END AS name,
             c_acctbal AS bal, c_mktsegment AS seg
      FROM customer
      UNION ALL
      SELECT c_custkey, 2, NULL, c_acctbal + 100.50, NULL FROM customer
      UNION ALL
      SELECT c_custkey, 3, c_name || '*', c_acctbal - 50.25, 'WEB'
      FROM customer),
    nn AS (
      SELECT c_custkey, name,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY prio, name) AS rn
      FROM variants WHERE name IS NOT NULL),
    sg AS (
      SELECT c_custkey, seg,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY prio, seg) AS rn
      FROM variants WHERE seg IS NOT NULL),
    mx AS (SELECT c_custkey, MAX(bal) AS best_bal FROM variants
           GROUP BY c_custkey)
    SELECT m.c_custkey, n.name AS golden_name, m.best_bal,
           s.seg AS golden_segment
    FROM mx m
    JOIN nn n ON n.c_custkey = m.c_custkey AND n.rn = 1
    JOIN sg s ON s.c_custkey = m.c_custkey AND s.rn = 1
    """,
    _SEC,
    "Master-data survivorship: three conflicting source variants per "
    "customer (trust-ordered, with manufactured nulls) collapse to "
    "one golden record with PER-FIELD rules — name and segment from "
    "the most-trusted non-null source, balance by extremum — the "
    "record-mastering step after entity resolution. One aggregation "
    "on the entity key; first-non-null composes from sorted "
    "per-entity variant lists (bounded by duplicate-group size), "
    "deterministic where first()/min_by tie-breaks are not.",
)
def enr_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        F.lit(1).alias("prio"),
        F.when(F.col("c_custkey") % 10 == 0, None)
        .otherwise(F.col("c_name"))
        .alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    web = c.select(
        "c_custkey",
        F.lit(2).alias("prio"),
        F.lit(None).cast("string").alias("name"),
        (F.col("c_acctbal") + 100.50).alias("bal"),
        F.lit(None).cast("string").alias("seg"),
    )
    batch = c.select(
        "c_custkey",
        F.lit(3).alias("prio"),
        F.concat(F.col("c_name"), F.lit("*")).alias("name"),
        (F.col("c_acctbal") - 50.25).alias("bal"),
        F.lit("WEB").alias("seg"),
    )
    variants = base.unionByName(web).unionByName(batch)
    return enrichment.survivorship(
        variants,
        key_cols=["c_custkey"],
        priority_col="prio",
        rules={
            "golden_name": ("first_non_null", "name"),
            "best_bal": ("max", "bal"),
            "golden_segment": ("first_non_null", "seg"),
        },
    )


@declare(
    "enr_range_merge",
    """
    WITH v AS (
      SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
             o_orderstatus AS attr,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS seq
      FROM orders),
    flagged AS (
      SELECT k, d, attr, seq,
             CASE WHEN LAG(attr) OVER (PARTITION BY k ORDER BY seq)
                       IS DISTINCT FROM attr THEN 1 ELSE 0 END AS chg
      FROM v),
    grp AS (
      SELECT k, d, attr,
             SUM(chg) OVER (PARTITION BY k ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM flagged)
    SELECT k AS o_custkey, attr AS status,
           MIN(d) AS valid_from, MAX(d) AS valid_to,
           CAST(COUNT(*) AS BIGINT) AS n_merged
    FROM grp GROUP BY k, attr, g
    """,
    _SEC,
    "Validity-range merge (temporal coalescing): consecutive "
    "same-attribute rows of a history collapse into one "
    "[valid_from, valid_to] range — the compaction an SCD table "
    "needs after ingesting change events that didn't actually change "
    "anything (the islands half of gaps-and-islands, applied to "
    "history maintenance). Change flags via LAG's null-safe "
    "IS DISTINCT FROM, island ids via a running sum, one group-by — "
    "all on the per-key shuffle key.",
)
def enr_range_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    v = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderstatus").alias("attr"),
        F.row_number().over(w).alias("seq"),
    )
    ws = Window.partitionBy("k").orderBy("seq")
    flagged = v.withColumn(
        "chg",
        F.when(
            ~F.lag("attr").over(ws).eqNullSafe(F.col("attr")), 1
        ).otherwise(0),
    )
    wg = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grp = flagged.withColumn("g", F.sum("chg").over(wg))
    return grp.groupBy("k", "attr", "g").agg(
        F.min("d").alias("valid_from"),
        F.max("d").alias("valid_to"),
        F.count(F.lit(1)).alias("n_merged"),
    ).select(
        F.col("k").alias("o_custkey"),
        F.col("attr").alias("status"),
        "valid_from",
        "valid_to",
        "n_merged",
    )


@declare(
    "enr_date_dim",
    """
    WITH bounds AS (
      SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
      FROM bounds)
    SELECT d AS date_key,
           CAST(EXTRACT(year FROM d) AS INT) AS year,
           CAST(EXTRACT(quarter FROM d) AS INT) AS quarter,
           CAST(EXTRACT(month FROM d) AS INT) AS month,
           CAST(EXTRACT(day FROM d) AS INT) AS day_of_month,
           CAST((dayofweek(d) + 6) % 7 + 1 AS INT) AS iso_dow,
           dayofweek(d) IN (0, 6) AS is_weekend,
           CAST(strftime(d, '%Y-%m') AS VARCHAR) AS month_key,
           d = last_day(d) AS is_month_end
    FROM spine
    """,
    _SEC,
    "Conformed calendar dimension generated from the fact table's "
    "own date bounds — the star-schema staple every BI layer "
    "conforms on: ISO weekday (explicitly normalized — Spark's "
    "dayofweek is 1=Sunday, DuckDB's is 0=Sunday, and silent "
    "disagreement here corrupts every weekly rollup downstream), "
    "weekend and month-end flags, year/quarter/month keys. "
    "Calendar-bounded output (rows = days in span) at any fact "
    "volume; in production this materializes once and broadcast-"
    "joins everywhere.",
)
def enr_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared engine op (analytics.date_dim) — also the YAML
    # `date_dim` surface.
    from configdrivendatapipeline_spark.analytics import date_dim

    return date_dim(load(spark, sf_dir, "orders"), "o_orderdate")


@declare(
    "enr_allocation",
    """
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS q
      FROM lineitem),
    o AS (
      SELECT o_orderkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
      FROM orders),
    j AS (
      SELECT li.l_orderkey, li.l_linenumber, li.q, o.total_cents,
             CAST(SUM(li.q) OVER (PARTITION BY li.l_orderkey) AS BIGINT) AS qq
      FROM li JOIN o ON o.o_orderkey = li.l_orderkey),
    base AS (
      SELECT l_orderkey, l_linenumber, q, total_cents, qq,
             (total_cents * q) // qq AS alloc0,
             (total_cents * q) % qq AS frac
      FROM j),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
               ORDER BY frac DESC, l_linenumber) AS fr,
             CAST(total_cents - SUM(alloc0) OVER (PARTITION BY l_orderkey)
                  AS BIGINT) AS leftover
      FROM base)
    SELECT l_orderkey, l_linenumber, q,
           alloc0 + CASE WHEN fr <= leftover THEN 1 ELSE 0 END AS alloc_cents
    FROM ranked
    """,
    _SEC,
    "Exact-conservation allocation by the LARGEST-REMAINDER method: "
    "order revenue spreads across its lines proportional to "
    "quantity, floor-divided, and the leftover cents go to the "
    "largest fractional remainders (line-number tie-break) — so "
    "per-order allocations sum EXACTLY to the parent total, the "
    "invariant naive proportional rounding silently breaks and "
    "finance reconciliation then chases forever (pinned by test). "
    "All windows are per-order (≤7 lines); exact integers end to "
    "end.",
)
def enr_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("q"),
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "total_cents"
        ),
    )
    wq = Window.partitionBy("l_orderkey")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).withColumn(
        "qq", F.sum("q").over(wq)
    )
    base = j.select(
        "l_orderkey",
        "l_linenumber",
        "q",
        "total_cents",
        "qq",
        F.expr("(total_cents * q) div qq").alias("alloc0"),
        F.expr("(total_cents * q) % qq").alias("frac"),
    )
    wr = Window.partitionBy("l_orderkey").orderBy(
        F.col("frac").desc(), F.col("l_linenumber")
    )
    ranked = base.withColumn("fr", F.row_number().over(wr)).withColumn(
        "leftover", F.col("total_cents") - F.sum("alloc0").over(wq)
    )
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        "q",
        (
            F.col("alloc0")
            + F.when(F.col("fr") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc_cents"),
    )
