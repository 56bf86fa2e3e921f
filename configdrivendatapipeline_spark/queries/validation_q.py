"""SURVEY.md §2.8 — validation operators.

Every query routes through the real engine
(:mod:`configdrivendatapipeline_spark.validation`), not ad-hoc
DataFrame code: the declared query builds Rule configs exactly as the
YAML surface would, runs the one-pass rule engine, and the oracle
recomputes the metrics row(s) in plain SQL.

The testdata is null-free, so null/violation cases are manufactured
with NULLIF / filtered dims to keep every check non-vacuous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from configdrivendatapipeline_spark.queries import declare, load
from configdrivendatapipeline_spark.validation import Rule, check_schema, run_rules

_SEC = "2.8"


def _metric_oracle(name: str, table: str, fail_cond: str, where: str = "") -> str:
    return f"""
    SELECT '{name}' AS rule_name,
           COUNT(*) AS n_checked,
           CAST(COALESCE(SUM(CASE WHEN {fail_cond} THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_failed,
           COALESCE(SUM(CASE WHEN {fail_cond} THEN 1 ELSE 0 END), 0) = 0 AS passed
    FROM {table} {where}
    """


@declare(
    "val_not_null",
    _metric_oracle("seg_not_null", "customer", "NULLIF(c_mktsegment, 'BUILDING') IS NULL"),
    _SEC,
    "Null check (nulls manufactured via NULLIF on one segment).",
)
def val_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").withColumn(
        "seg", F.nullif("c_mktsegment", F.lit("BUILDING"))
    )
    return run_rules(c, [Rule("seg_not_null", "not_null", {"column": "seg"})]).metrics


@declare(
    "val_unique",
    """
    WITH g AS (SELECT l_orderkey, l_linenumber, COUNT(*) AS cnt
               FROM lineitem GROUP BY l_orderkey, l_linenumber)
    SELECT 'pk_unique' AS rule_name,
           (SELECT COUNT(*) FROM lineitem) AS n_checked,
           CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0) AS BIGINT) AS n_failed,
           COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0) = 0 AS passed
    FROM g
    """,
    _SEC,
    "Uniqueness check: rows participating in duplicate key groups "
    "(the synthetic lineitem really has duplicate (orderkey, lineno)).",
)
def val_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return run_rules(
        li, [Rule("pk_unique", "unique", {"columns": ["l_orderkey", "l_linenumber"]})]
    ).metrics


@declare(
    "val_range",
    _metric_oracle(
        "price_band",
        "orders",
        "NOT (o_totalprice >= 0 AND o_totalprice <= 400000)",
    ),
    _SEC,
    "Numeric bounds check.",
)
def val_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return run_rules(
        o, [Rule("price_band", "range", {"column": "o_totalprice", "min": 0, "max": 400000})]
    ).metrics


@declare(
    "val_set",
    _metric_oracle(
        "type_domain", "events", "event_type NOT IN ('click', 'view', 'purchase')"
    ),
    _SEC,
    "Domain membership check.",
)
def val_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return run_rules(
        ev,
        [Rule("type_domain", "set", {"column": "event_type", "allowed": ["click", "view", "purchase"]})],
    ).metrics


@declare(
    "val_regex",
    _metric_oracle(
        "name_format", "part", "NOT regexp_matches(p_name, '^(red|blue|small) [a-z]+$')"
    ),
    _SEC,
    "Format (regex) check.",
)
def val_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return run_rules(
        p,
        [Rule("name_format", "regex", {"column": "p_name", "pattern": r"^(red|blue|small) [a-z]+$"})],
    ).metrics


@declare(
    "val_ref_integrity",
    """
    WITH dim AS (SELECT DISTINCT s_suppkey FROM supplier WHERE s_acctbal > 2000)
    SELECT 'supplier_exists' AS rule_name,
           (SELECT COUNT(*) FROM lineitem) AS n_checked,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM dim d
                                   WHERE d.s_suppkey = l.l_suppkey)) AS BIGINT)
               AS n_failed,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM dim d
                              WHERE d.s_suppkey = l.l_suppkey)) = 0 AS passed
    """,
    _SEC,
    "Referential integrity (orphan detection) via anti-join; the dim "
    "is filtered so orphans actually exist.",
)
def val_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 2000)
    return run_rules(
        li,
        [
            Rule(
                "supplier_exists",
                "ref_integrity",
                {"column": "l_suppkey", "ref_table": "supplier", "ref_column": "s_suppkey"},
            )
        ],
        dims={"supplier": sup},
    ).metrics


@declare(
    "val_row_count",
    """
    SELECT 'volume' AS rule_name,
           COUNT(*) AS n_checked,
           CAST(CASE WHEN COUNT(*) >= 100000 THEN 0 ELSE 1 END AS BIGINT) AS n_failed,
           COUNT(*) >= 100000 AS passed
    FROM orders
    """,
    _SEC,
    "Volume threshold (intentionally failing below sf1 to prove the "
    "rule can fail).",
)
def val_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return run_rules(o, [Rule("volume", "row_count", {"min": 100000})]).metrics


@declare(
    "val_freshness",
    """
    SELECT 'recent_enough' AS rule_name,
           COUNT(*) AS n_checked,
           CAST(CASE WHEN MAX(ts) >= TIMESTAMP '2024-01-15 00:00:00'
                THEN 0 ELSE 1 END AS BIGINT) AS n_failed,
           MAX(ts) >= TIMESTAMP '2024-01-15 00:00:00' AS passed
    FROM events
    """,
    _SEC,
    "Freshness: max(ts) recency vs cutoff.",
)
def val_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return run_rules(
        ev, [Rule("recent_enough", "freshness", {"column": "ts", "min_ts": "2024-01-15 00:00:00"})]
    ).metrics


@declare(
    "val_expression",
    _metric_oracle(
        "rates_sane", "lineitem", "NOT (l_discount <= 0.1 AND l_tax >= 0.0)"
    ),
    _SEC,
    "Arbitrary SQL predicate rule — the config escape hatch.",
)
def val_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return run_rules(
        li,
        [Rule("rates_sane", "expression", {"sql": "l_discount <= 0.1 AND l_tax >= 0.0"})],
    ).metrics


@declare(
    "val_schema",
    """
    SELECT TRUE AS ok, 0 AS n_diffs
    """,
    _SEC,
    "Declared-vs-actual schema diff (driver-side StructType check; "
    "the oracle pins the expected outcome for the known fixture).",
)
def val_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load(spark, sf_dir, "nation")
    ok, diffs = check_schema(nat, "n_nationkey INT, n_name STRING, n_regionkey INT")
    return nat.sparkSession.createDataFrame(
        [(ok, len(diffs))], "ok BOOLEAN, n_diffs INT"
    )


@declare(
    "val_quarantine_split",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE NOT (o_totalprice >= 0 AND o_totalprice <= 450000)
    """,
    _SEC,
    "Quarantine routing: the invalid side of a rule split (valid side "
    "is the complement — verified by val_summary counts).",
)
def val_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    res = run_rules(
        o,
        [
            Rule(
                "price_band",
                "range",
                {"column": "o_totalprice", "min": 0, "max": 450000},
                on_fail="quarantine",
            )
        ],
        split=True,
    )
    return res.invalid.select("o_orderkey", "o_totalprice")


@declare(
    "val_summary",
    _metric_oracle("key_present", "orders", "o_orderkey IS NULL")
    + " UNION ALL "
    + _metric_oracle(
        "price_band", "orders", "NOT (o_totalprice >= 0 AND o_totalprice <= 400000)"
    )
    + " UNION ALL "
    + _metric_oracle("status_domain", "orders", "o_orderstatus NOT IN ('F','O','P')")
    + " UNION ALL "
    + _metric_oracle(
        "priority_format", "orders", "NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')"
    )
    + " UNION ALL "
    + """
    SELECT 'volume' AS rule_name, COUNT(*) AS n_checked,
           CAST(CASE WHEN COUNT(*) >= 100 THEN 0 ELSE 1 END AS BIGINT) AS n_failed,
           COUNT(*) >= 100 AS passed
    FROM orders
    """,
    _SEC,
    "All configured rules → one metrics DataFrame in a single engine "
    "run (row rules share one scan).",
)
def val_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    rules = [
        Rule("key_present", "not_null", {"column": "o_orderkey"}),
        Rule("price_band", "range", {"column": "o_totalprice", "min": 0, "max": 400000}),
        Rule("status_domain", "set", {"column": "o_orderstatus", "allowed": ["F", "O", "P"]}),
        Rule("priority_format", "regex", {"column": "o_orderpriority", "pattern": r"^[1-5]-[A-Z ]+$"}),
        Rule("volume", "row_count", {"min": 100}),
    ]
    return run_rules(o, rules).metrics


@declare(
    "val_profile",
    """
    SELECT 'o_totalprice' AS column_name,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
           COUNT(DISTINCT o_totalprice) AS n_distinct,
           CAST(MIN(o_totalprice) AS VARCHAR) AS min_val,
           CAST(MAX(o_totalprice) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    """,
    _SEC,
    "Column profiling (ADF data-profile): null rate / distinct / "
    "min / max for every requested column in ONE scan (single wide "
    "aggregate, unpivoted in-plan to one row per column).",
)
def val_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.validation import profile_columns

    o = load(spark, sf_dir, "orders")
    return profile_columns(o, ["o_totalprice", "o_orderstatus", "o_custkey"])


@declare(
    "val_anomaly",
    """
    WITH s AS (
      SELECT COUNT(l_extendedprice) AS n_checked,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS s,
             -- DECIMAL(19,4): int128 storage so the square cannot
             -- overflow DuckDB's int64 path; Spark's side squares
             -- (18,4) into (37,8) — both EXACT, so the sums agree.
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS ss
      FROM lineitem
    ), st AS (
      SELECT n_checked,
             s / n_checked AS mu,
             sqrt(ss / n_checked - (s / n_checked) * (s / n_checked)) AS sigma
      FROM s
    )
    SELECT 'price_outliers' AS rule_name,
           st.n_checked,
           (SELECT COUNT(*) FROM lineitem, st
            WHERE abs(l_extendedprice - mu) > 1.5 * sigma) AS n_failed,
           (SELECT COUNT(*) FROM lineitem, st
            WHERE abs(l_extendedprice - mu) > 1.5 * sigma) = 0 AS passed
    FROM st
    """,
    _SEC,
    "Statistical anomaly rule: rows beyond k·σ of the column mean. "
    "μ/σ come from decimal-exact sums cast to double once, so both "
    "engines compute the identical threshold and the outlier count "
    "is deterministic (a float-sum mean would depend on partition "
    "order). k=1.5 so the near-uniform price fixture genuinely "
    "flags tail rows rather than vacuously passing.",
)
def val_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return run_rules(
        li,
        [Rule("price_outliers", "zscore", {"column": "l_extendedprice", "max_z": 1.5})],
    ).metrics


@declare(
    "val_drift",
    """
    WITH b AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'ref'
                  ELSE 'cur' END AS side,
             CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bin
      FROM orders
    ), c AS (
      SELECT bin,
             SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM b GROUP BY bin
    ), t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM c)
    SELECT bin,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(abs((n_ref * 2000000 + t_ref) // (2 * t_ref)
                  - (n_cur * 2000000 + t_cur) // (2 * t_cur))
             AS BIGINT) AS prop_diff_micro
    FROM c, t
    """,
    _SEC,
    "Distribution-drift check between two corpus snapshots (the "
    "data-quality gate a training pipeline runs before swapping in a "
    "new crawl): histogram both sides on a fixed integer binning, "
    "then per-bin |proportion delta| in half-up integer micro-units "
    "— two aggregations plus one broadcast scalar join, no floats "
    "anywhere, so the drift report is bit-identical on every engine. "
    "Flag when any bin moves more than the tolerance.",
)
def val_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    b = o.select(
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "ref"
        )
        .otherwise("cur")
        .alias("side"),
        F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bin"),
    )
    c = b.groupBy("bin").agg(
        F.sum(F.when(F.col("side") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("side") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    # Totals via a global window over the BIN frame (≤ #bins rows —
    # bounded at any data size), not a second aggregate branch: a
    # crossJoin(agg(c)) recomputes c's subtree and scans the fact
    # table twice; this plan scans it once.
    from pyspark.sql import Window

    wt = Window.partitionBy()
    t = c.select(
        "bin",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(wt).alias("t_ref"),
        F.sum("n_cur").over(wt).alias("t_cur"),
    )
    return t.select(
        "bin",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.abs(
            F.expr("(n_ref * 2000000 + t_ref) div (2 * t_ref)")
            - F.expr("(n_cur * 2000000 + t_cur) div (2 * t_cur)")
        )
        .cast("long")
        .alias("prop_diff_micro"),
    )


@declare(
    "val_skew",
    """
    WITH counts AS (
      SELECT l_suppkey AS key, COUNT(*) AS n_rows
      FROM lineitem GROUP BY l_suppkey),
    t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
                 COUNT(*) AS n_keys FROM counts),
    hot AS (SELECT key, n_rows FROM counts
            ORDER BY n_rows DESC, key LIMIT 10)
    SELECT ROW_NUMBER() OVER (ORDER BY n_rows DESC, key) AS rank,
           CAST(key AS VARCHAR) AS key, n_rows,
           (n_rows * 1000000) // total_rows AS share_micro,
           CAST((CAST(n_rows AS HUGEINT) * n_keys * 1000000)
                // total_rows AS BIGINT) AS skew_ratio_micro
    FROM hot, t
    """,
    _SEC,
    "Key-skew diagnostic — the measurement you run BEFORE choosing "
    "salting/AQE for a join or agg key: top-10 hottest lineitem "
    "supplier keys with corpus share and hot-key-to-mean ratio in "
    "exact micro-units (1e6 = uniform). One partial-combine "
    "aggregation + partition-parallel TakeOrdered; the ranking "
    "window only ever sees the 10 surviving rows, so no global "
    "single-partition pass exists at any scale.",
)
def val_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.skew import skew_stats

    return skew_stats(load(spark, sf_dir, "lineitem"), "l_suppkey", top_k=10)


@declare(
    "val_checksum",
    f"""
    SELECT o_orderpriority, COUNT(*) AS n_rows,
           CAST(SUM({{h}}) AS BIGINT) AS content_sum
    FROM orders
    GROUP BY o_orderpriority
    """.format(
        h="list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(substr(md5("
        "CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' || "
        "CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)"
        "), 1, 12), ''), "
        "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))), "
        "(a, b) -> a * 16 + b)"
    ),
    _SEC,
    "Order-independent content checksum per partition: SUM of a "
    "48-bit md5 fold over each row's canonical string — the "
    "replica-reconciliation primitive that compares a 100 TB table "
    "against its copy by exchanging ONE row per partition instead of "
    "the data. Addition commutes, so partition order, retries and "
    "engine never change the sum; any single-row divergence shifts "
    "it. Map-side fold + one partial-combine aggregation.",
)
def val_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.expr("CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING)"),
    )
    h12 = F.substring(F.md5(canon), 1, 12)
    rowhash = F.conv(h12, 16, 10).cast("long")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(rowhash).alias("content_sum"),
    )


@declare(
    "val_monotonic",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts,
             LAG(event_id) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_id
      FROM events)
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(*) FILTER (WHERE prev_id IS NOT NULL AND event_id < prev_id)
             AS n_violations,
           bool_and(prev_id IS NULL OR event_id >= prev_id) AS is_monotonic
    FROM seq GROUP BY user_id
    """,
    _SEC,
    "Sequence-monotonicity validation: per user, do event ids "
    "increase along event time? — the ordering sanity check every "
    "CDC/event ingest needs (a violation means reordered or replayed "
    "delivery). One keyed window + aggregation; emits violation "
    "COUNTS, not just a flag, so triage knows how bad it is.",
)
def val_monotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_id", "ts").withColumn(
        "prev_id", F.lag("event_id").over(w)
    )
    viol = F.col("prev_id").isNotNull() & (F.col("event_id") < F.col("prev_id"))
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(viol, 1)).alias("n_violations"),
        F.bool_and(~viol).alias("is_monotonic"),
    )


@declare(
    "val_outlier_mad",
    """
    WITH v AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem),
    med AS (
      SELECT l_returnflag, quantile_cont(cents, 0.5) AS med_cents
      FROM v GROUP BY l_returnflag),
    dev AS (
      SELECT v.l_returnflag, v.cents,
             abs(v.cents - m.med_cents) AS adev
      FROM v JOIN med m USING (l_returnflag)),
    mad AS (
      SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad_cents
      FROM dev GROUP BY l_returnflag)
    SELECT d.l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE d.adev > 10 * m.mad_cents) AS n_outliers
    FROM dev d JOIN mad m USING (l_returnflag)
    GROUP BY d.l_returnflag
    """,
    _SEC,
    "Robust outlier detection via Median Absolute Deviation: flag "
    "rows beyond 10 MADs of the group median — unlike the z-score "
    "rule (val_anomaly), the THRESHOLD itself cannot be dragged by "
    "the outliers it hunts, which is what makes MAD the fat-tail "
    "default. Two exact-percentile aggregations + broadcast scalar "
    "joins; everything on integer cents.",
)
def val_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    v = li.select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    med = v.groupBy("l_returnflag").agg(
        F.percentile("cents", 0.5).alias("med_cents")
    )
    dev = v.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag", F.abs(F.col("cents") - F.col("med_cents")).alias("adev")
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.percentile("adev", 0.5).alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(
                F.when(F.col("adev") > 10 * F.col("mad_cents"), 1)
            ).alias("n_outliers"),
        )
    )


_OBENFORD_CASE = (
    "CAST(CASE first_digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 "
    "WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 "
    "WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 "
    "WHEN 9 THEN 45757 END AS BIGINT)"
)


@declare(
    "val_benford",
    f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR), 1, 1) AS BIGINT) AS first_digit
      FROM orders WHERE o_totalprice >= 0.01),
    c AS (SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM d GROUP BY first_digit),
    t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM c)
    SELECT first_digit, n_rows,
           (n_rows * 1000000) // total AS share_micro,
           {_OBENFORD_CASE} AS benford_micro,
           ABS((n_rows * 1000000) // total - {_OBENFORD_CASE})
             AS benford_dev_micro
    FROM c CROSS JOIN t
    """,
    _SEC,
    "Benford's-law leading-digit profile of order totals — the "
    "fabricated-data / unit-rescale tripwire for financial columns: "
    "per digit, observed share vs the fixed Benford expectation in "
    "exact integer micro-units. The digit comes from the INTEGER "
    "cents string (leading digits are scale-10-invariant), never a "
    "double's engine-specific rendering; the expectations are fixed "
    "constants because runtime log10 is not cross-engine bit-stable. "
    "Map-side digit extraction, one 9-group aggregation, broadcast "
    "total.",
)
def val_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.validation import benford_profile

    return benford_profile(load(spark, sf_dir, "orders"), "o_totalprice")


@declare(
    "val_kanonymity",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(COALESCE(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_violating_groups,
             CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n ELSE 0 END), 0)
                  AS BIGINT) AS n_exposed_rows,
             CAST(MIN(n) AS BIGINT) AS min_group_size
      FROM g)
    SELECT 'k_anonymity_5' AS rule_name, n_groups, n_violating_groups,
           n_exposed_rows, min_group_size,
           min_group_size >= 5 AS passed
    FROM s
    """,
    _SEC,
    "k-anonymity audit (k=5) over the (nation, segment) quasi-"
    "identifier pair: how many identifier combinations exist, how "
    "many expose fewer than k individuals, and the worst group size "
    "— the re-identification-risk gate a dataset release runs before "
    "publishing joins of demographic columns. One aggregation over "
    "the quasi-identifier key plus a scalar rollup; the released "
    "metric row never carries the identifying combos themselves.",
)
def val_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.validation import kanonymity_metrics

    c = load(spark, sf_dir, "customer")
    return kanonymity_metrics(
        c, ["c_nationkey", "c_mktsegment"], k=5
    ).withColumnRenamed("worst", "min_group_size")


@declare(
    "val_reconciliation",
    """
    WITH li AS (
      SELECT l_orderkey,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 100)
                  AS BIGINT) AS line_cents
      FROM lineitem GROUP BY l_orderkey),
    j AS (
      SELECT o.o_orderkey,
             CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)
               AS header_cents,
             COALESCE(li.line_cents, 0) AS line_cents
      FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey)
    SELECT 'order_lineitem_reconciliation' AS rule_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CASE WHEN ABS(header_cents - line_cents) > 100
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_mismatched,
           CAST(MAX(ABS(header_cents - line_cents)) AS BIGINT)
             AS max_abs_diff_cents,
           COALESCE(SUM(CASE WHEN ABS(header_cents - line_cents) > 100
                             THEN 1 ELSE 0 END), 0) = 0 AS passed
    FROM j
    """,
    _SEC,
    "Cross-table financial reconciliation: every order header total "
    "against the exact decimal sum of its line items (headerless "
    "lines and lineless headers count as mismatches via the "
    "null-extending join), with a 1.00-unit tolerance — the "
    "books-balance check a warehouse runs between fact grains. One "
    "aggregation per table + one key join; sums are decimal-exact "
    "cents so the verdict can't drift with partition order.",
)
def val_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.expr(
                "CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 100)"
                " AS BIGINT)"
            ).alias("line_cents")
        )
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT)"
        ).alias("header_cents"),
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        "header_cents",
        F.coalesce("line_cents", F.lit(0).cast("long")).alias("line_cents"),
    )
    diff = F.abs(F.col("header_cents") - F.col("line_cents"))
    s = j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.coalesce(F.sum(F.when(diff > 100, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_mismatched"),
        F.max(diff).alias("max_abs_diff_cents"),
    )
    return s.select(
        F.lit("order_lineitem_reconciliation").alias("rule_name"),
        "n_orders",
        "n_mismatched",
        "max_abs_diff_cents",
        (F.col("n_mismatched") == 0).alias("passed"),
    )


@declare(
    "val_ldiversity",
    """
    WITH g AS (
      SELECT c_nationkey,
             CASE WHEN c_acctbal < 0 THEN 'debt'
                  WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS band,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM customer GROUP BY 1, 2)
    SELECT 'l_diversity_3' AS rule_name,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COALESCE(SUM(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_violating_groups,
           CAST(COALESCE(SUM(CASE WHEN n_sensitive < 3 THEN n_rows ELSE 0 END),
                0) AS BIGINT) AS n_exposed_rows,
           CAST(MIN(n_sensitive) AS BIGINT) AS min_diversity,
           MIN(n_sensitive) >= 3 AS passed
    FROM g
    """,
    _SEC,
    "l-diversity audit (l=3) — k-anonymity's complement: a group can "
    "be large yet still leak if everyone in it shares the same "
    "SENSITIVE value, so each (nation, balance-band) quasi-identifier "
    "group must contain at least l distinct market segments. Emits "
    "group counts, exposed rows, and the worst diversity; same "
    "one-aggregation + scalar-rollup shape as val_kanonymity, and "
    "the metric row never carries the identifying combos.",
)
def val_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.validation import ldiversity_metrics

    c = load(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return ldiversity_metrics(
        c.withColumn("band", band), ["c_nationkey", "band"], "c_mktsegment", l=3
    ).withColumnRenamed("worst", "min_diversity")


@declare(
    "val_split_leakage",
    """
    WITH doubled AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 4 = 0),
    assigned AS (
      SELECT doc_id, text,
             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(substr(md5(CAST(doc_id AS VARCHAR) || ':split:v1'), 1, 8), ''), c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))), (a, b) -> a * 16 + b) % 100 < 90
                  THEN 'train' ELSE 'test' END AS split
      FROM doubled),
    train AS (SELECT DISTINCT sha256(text) AS h FROM assigned
              WHERE split = 'train'),
    test AS (SELECT doc_id, sha256(text) AS h FROM assigned
             WHERE split = 'test'),
    leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked
      FROM test JOIN train ON train.h = test.h),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test FROM test)
    SELECT 'split_content_leakage' AS rule_name,
           t.n_test, l.n_leaked,
           (l.n_leaked * 1000000) // GREATEST(t.n_test, 1)
             AS leak_share_micro,
           l.n_leaked = 0 AS passed
    FROM tot t CROSS JOIN leak l
    """,
    _SEC,
    "Train/test content-leakage audit: after deterministic hash "
    "splitting, how many TEST documents share exact content with any "
    "TRAIN document — the eval-hygiene check that catches duplicated "
    "payloads straddling the split boundary (the doubled re-keyed "
    "fixture plants exactly that). One semi-join on the 256-bit "
    "content hash; pair with llm_decontaminate for the n-gram "
    "near-match version.",
)
def val_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.queries.llm_q import split_assigned

    assigned = split_assigned(spark, sf_dir)
    train = (
        assigned.filter(F.col("split") == "train")
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
    )
    test = assigned.filter(F.col("split") == "test").select(
        "doc_id", F.sha2("text", 256).alias("h")
    )
    leak = test.join(train, "h", "left_semi").agg(
        F.count(F.lit(1)).alias("n_leaked")
    )
    tot = test.agg(F.count(F.lit(1)).alias("n_test"))
    return tot.crossJoin(F.broadcast(leak)).select(
        F.lit("split_content_leakage").alias("rule_name"),
        "n_test",
        "n_leaked",
        F.expr("(n_leaked * 1000000) div greatest(n_test, 1)").alias(
            "leak_share_micro"
        ),
        (F.col("n_leaked") == 0).alias("passed"),
    )


@declare(
    "val_interval_integrity",
    """
    WITH h AS (
      SELECT user_id,
             ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_from,
             ts + INTERVAL '30 minutes' AS valid_to
      FROM events WHERE event_type = 'signup'),
    checked AS (
      SELECT user_id,
             CASE WHEN next_from IS NULL THEN 'open'
                  WHEN next_from < valid_to THEN 'overlap'
                  WHEN next_from > valid_to THEN 'gap'
                  ELSE 'contiguous' END AS kind
      FROM h)
    SELECT 'interval_integrity' AS rule_name,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(COALESCE(SUM(CASE WHEN kind = 'overlap' THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_overlaps,
           CAST(COALESCE(SUM(CASE WHEN kind = 'gap' THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_gaps,
           CAST(COALESCE(SUM(CASE WHEN kind = 'contiguous' THEN 1 ELSE 0 END),
                0) AS BIGINT) AS n_contiguous,
           COALESCE(SUM(CASE WHEN kind = 'overlap' THEN 1 ELSE 0 END), 0) = 0
             AS passed
    FROM checked
    """,
    _SEC,
    "Temporal interval integrity: each key's validity history checked "
    "for OVERLAPS (two versions current at once — the corruption that "
    "silently double-counts temporal joins) and GAPS (moments with no "
    "current version), by comparing each interval's end against the "
    "next interval's start via one LEAD window — the invariant check "
    "an SCD2/temporal table runs after every merge. The manufactured "
    "history (fixed-width intervals from event times) genuinely "
    "contains overlaps and gaps (exact contiguity needs timestamps "
    "landing precisely on the interval edge, which the fixture's "
    "continuous times essentially never do).",
)
def val_interval_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    h = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("next_from"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("valid_to"),
    )
    kind = (
        F.when(F.col("next_from").isNull(), "open")
        .when(F.col("next_from") < F.col("valid_to"), "overlap")
        .when(F.col("next_from") > F.col("valid_to"), "gap")
        .otherwise("contiguous")
    )
    c = h.select(kind.alias("kind"))
    s = c.agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.coalesce(
            F.sum(F.when(F.col("kind") == "overlap", 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_overlaps"),
        F.coalesce(
            F.sum(F.when(F.col("kind") == "gap", 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_gaps"),
        F.coalesce(
            F.sum(F.when(F.col("kind") == "contiguous", 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("n_contiguous"),
    )
    return s.select(
        F.lit("interval_integrity").alias("rule_name"),
        "n_intervals",
        "n_overlaps",
        "n_gaps",
        "n_contiguous",
        (F.col("n_overlaps") == 0).alias("passed"),
    )


@declare(
    "val_volume_anomaly",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY CAST(ts AS DATE)),
    m AS (
      SELECT CASE WHEN COUNT(*) % 2 = 1
                  THEN list_sort(list(n))[(COUNT(*) + 1) // 2] * 2
                  ELSE list_sort(list(n))[COUNT(*) // 2]
                       + list_sort(list(n))[COUNT(*) // 2 + 1] END AS med2
      FROM d),
    dev AS (
      SELECT d.day, d.n, m.med2, ABS(2 * d.n - m.med2) AS dv
      FROM d CROSS JOIN m),
    md AS (
      SELECT CASE WHEN COUNT(*) % 2 = 1
                  THEN list_sort(list(dv))[(COUNT(*) + 1) // 2] * 2
                  ELSE list_sort(list(dv))[COUNT(*) // 2]
                       + list_sort(list(dv))[COUNT(*) // 2 + 1] END AS mad4
      FROM dev)
    SELECT dev.day, dev.n,
           CAST(dev.med2 AS BIGINT) AS med2,
           CAST(md.mad4 AS BIGINT) AS mad4,
           2 * dev.dv > 3 * md.mad4 AS is_anomalous
    FROM dev CROSS JOIN md
    """,
    _SEC,
    "Ingest-volume anomaly detection: each day's event count flagged "
    "against the corpus-wide median ± 3 MAD — the dropped-feed / "
    "double-load tripwire every ingestion pipeline monitors. Same "
    "doubled-integer median/MAD discipline as win_hampel (no halves, "
    "no division); the list aggregations run over the DAY domain "
    "(bounded by the calendar, not the corpus), so the 1-row "
    "median/MAD frames broadcast at any scale.",
)
def val_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )

    def med2_of(col):
        arr = F.sort_array(F.collect_list(col))
        cnt = F.size(arr)
        return F.when(
            cnt % 2 == 1, F.element_at(arr, ((cnt + 1) / 2).cast("int")) * 2
        ).otherwise(
            F.element_at(arr, (cnt / 2).cast("int"))
            + F.element_at(arr, (cnt / 2).cast("int") + 1)
        )

    m = d.agg(med2_of(F.col("n")).alias("med2"))
    dev = d.crossJoin(F.broadcast(m)).withColumn(
        "dv", F.abs(2 * F.col("n") - F.col("med2"))
    )
    md = dev.agg(med2_of(F.col("dv")).alias("mad4"))
    return dev.crossJoin(F.broadcast(md)).select(
        "day",
        "n",
        F.col("med2").cast("long").alias("med2"),
        F.col("mad4").cast("long").alias("mad4"),
        (2 * F.col("dv") > 3 * F.col("mad4")).alias("is_anomalous"),
    )


@declare(
    "val_outage_windows",
    """
    WITH f AS (
      SELECT ts FROM events
      WHERE (CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600) % 11
            NOT IN (3, 4, 5)),
    b AS (SELECT DISTINCT date_trunc('hour', ts) AS h FROM f),
    spine AS (
      SELECT unnest(generate_series(
        (SELECT MIN(h) FROM b), (SELECT MAX(h) FROM b),
        INTERVAL 1 HOUR)) AS h),
    missing AS (
      SELECT h FROM spine WHERE h NOT IN (SELECT h FROM b)),
    isl AS (
      SELECT h,
             CAST(epoch(h) AS BIGINT) // 3600
               - ROW_NUMBER() OVER (ORDER BY h) AS grp
      FROM missing)
    SELECT MIN(h) AS outage_start, MAX(h) AS outage_end,
           CAST(COUNT(*) AS BIGINT) AS n_hours
    FROM isl GROUP BY grp
    """,
    _SEC,
    "Feed-outage detection: the hourly calendar spine anti-joins "
    "the hours that actually have events, and consecutive missing "
    "hours coalesce into outage windows — the monitoring table an "
    "ingest SLA alerts from (a feed that silently drops three hours "
    "passes every row-level validation; only the spine sees it). "
    "The fixture plants 3-hour outages on every 11th hour-slot "
    "triad, so the green hash proves exact recovery of the planted "
    "windows. The island window is CALENDAR-bounded (hours in the "
    "corpus span — 8.8k rows/year at any data scale), the one "
    "frame a global window is safe over.",
)
def val_outage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    slot = "(unix_timestamp(date_trunc('hour', ts)) div 3600) % 11"
    f = ev.filter(~F.expr(slot).isin(3, 4, 5)).select(
        F.date_trunc("hour", "ts").alias("h")
    )
    b = f.distinct()
    bounds = b.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h")
    )
    missing = spine.join(b, "h", "left_anti")
    w = Window.orderBy("h")
    isl = missing.withColumn(
        "grp",
        F.expr("unix_timestamp(h) div 3600") - F.row_number().over(w),
    )
    return isl.groupBy("grp").agg(
        F.min("h").alias("outage_start"),
        F.max("h").alias("outage_end"),
        F.count(F.lit(1)).alias("n_hours"),
    ).drop("grp")


@declare(
    "val_fd_profile",
    """
    WITH checks AS (
      SELECT 'nation: n_nationkey -> n_name' AS fd,
             (SELECT COUNT(*) FROM (
                SELECT n_nationkey FROM nation
                GROUP BY n_nationkey
                HAVING COUNT(DISTINCT n_name) > 1)) AS n_violating_keys,
             (SELECT COUNT(DISTINCT n_nationkey) FROM nation) AS n_keys
      UNION ALL
      SELECT 'customer: c_custkey -> c_mktsegment',
             (SELECT COUNT(*) FROM (
                SELECT c_custkey FROM customer
                GROUP BY c_custkey
                HAVING COUNT(DISTINCT c_mktsegment) > 1)),
             (SELECT COUNT(DISTINCT c_custkey) FROM customer)
      UNION ALL
      SELECT 'events: user_id -> event_type',
             (SELECT COUNT(*) FROM (
                SELECT user_id FROM events
                GROUP BY user_id
                HAVING COUNT(DISTINCT event_type) > 1)),
             (SELECT COUNT(DISTINCT user_id) FROM events))
    SELECT fd, CAST(n_violating_keys AS BIGINT) AS n_violating_keys,
           CAST(n_keys AS BIGINT) AS n_keys,
           n_violating_keys = 0 AS holds
    FROM checks
    """,
    _SEC,
    "Functional-dependency profiling (the Metanome/Deequ discovery "
    "surface): for each declared candidate FD A→B, count the A-keys "
    "mapping to >1 distinct B — zero means the dependency HOLDS and "
    "is safe to normalize on, dedupe by, or enforce as a contract; "
    "the planted third check (user_id → event_type) is expected to "
    "FAIL, proving the profiler reports violations rather than "
    "rubber-stamping. Each check is one grouped distinct-count — "
    "map-side combinable, one shuffle per FD.",
)
def val_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def check(fd: str, df: DataFrame, a: str, b: str) -> DataFrame:
        g = df.groupBy(a).agg(F.count_distinct(b).alias("nb"))
        return g.agg(
            F.lit(fd).alias("fd"),
            F.sum(F.when(F.col("nb") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_keys"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
        )
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    ev = load(spark, sf_dir, "events")
    out = (
        check("nation: n_nationkey -> n_name", nation, "n_nationkey", "n_name")
        .unionByName(
            check(
                "customer: c_custkey -> c_mktsegment",
                cust,
                "c_custkey",
                "c_mktsegment",
            )
        )
        .unionByName(
            check("events: user_id -> event_type", ev, "user_id", "event_type")
        )
    )
    return out.select(
        "fd",
        "n_violating_keys",
        "n_keys",
        (F.col("n_violating_keys") == 0).alias("holds"),
    )


@declare(
    "val_relationship_profile",
    """
    WITH oc AS (
      SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY o_custkey),
    lo AS (
      SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey),
    rels AS (
      SELECT 'customer 1:N orders' AS rel,
             (SELECT CAST(MAX(n) AS BIGINT) FROM oc) AS max_children,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM oc) AS n_parents,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
              WHERE c_custkey NOT IN (SELECT k FROM oc)) AS n_childless
      UNION ALL
      SELECT 'orders 1:N lineitem',
             (SELECT CAST(MAX(n) AS BIGINT) FROM lo),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lo),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
              WHERE o_orderkey NOT IN (SELECT k FROM lo)))
    SELECT rel, max_children, n_parents, n_childless,
           CASE WHEN max_children <= 1 THEN '1:1' ELSE '1:N' END AS kind
    FROM rels
    """,
    _SEC,
    "Relationship-cardinality profiling: per declared FK edge, the "
    "max fan-out, participating parent count, and childless-parent "
    "count classify the edge (1:1 vs 1:N) — the schema-inference "
    "audit that catches a 'dimension' silently becoming a fact (a "
    "lookup keyed 1:N double-counts every join through it). Each "
    "edge is one grouped count + an anti-join count; ref-integrity "
    "orphans are the separate val_ref_integrity check.",
)
def val_relationship_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cust = load(spark, sf_dir, "customer")

    def profile(rel, parents, pk, children, fk):
        per = children.groupBy(F.col(fk).alias("k")).agg(
            F.count(F.lit(1)).alias("n")
        )
        stats = per.agg(
            F.max("n").cast("long").alias("max_children"),
            F.count(F.lit(1)).cast("long").alias("n_parents"),
        )
        childless = (
            parents.join(per, parents[pk] == per["k"], "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_childless"))
        )
        return stats.crossJoin(childless).select(
            F.lit(rel).alias("rel"),
            "max_children",
            "n_parents",
            "n_childless",
            F.when(F.col("max_children") <= 1, "1:1")
            .otherwise("1:N")
            .alias("kind"),
        )

    return profile(
        "customer 1:N orders", cust, "c_custkey", orders, "o_custkey"
    ).unionByName(
        profile("orders 1:N lineitem", orders, "o_orderkey", li, "l_orderkey")
    )


@declare(
    "val_hash_chain",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_id,
             md5(CAST(event_id AS VARCHAR) || '|' || event_type || '|' ||
                 CAST(user_id AS VARCHAR)) AS digest
      FROM events),
    g AS (
      SELECT day, list(digest ORDER BY event_id) AS ds,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM d GROUP BY day)
    SELECT day, n,
           list_reduce(list_prepend('GENESIS', ds),
                       (acc, x) -> md5(acc || x)) AS chain_hash
    FROM g
    """,
    _SEC,
    "Tamper-evident hash chain per day: each row's digest folds into "
    "a running md5 (h ← md5(h ‖ digest)) in strict event_id order — "
    "the audit-ledger integrity check where a plain per-day checksum "
    "(val_checksum) detects CHANGES but not reordering or "
    "splice-and-rebalance edits; any mutation anywhere in a day "
    "flips that day's head hash. Chaining is inherently sequential "
    "— that is the tamper-evidence — so the fold is scoped per "
    "PARTITION (day): days chain independently and in parallel, the "
    "fold runs over one day's collected digests in-plan (arrays "
    "never leave the JVM), and md5 is the shared hash family so the "
    "oracle replays every link. Operating bound: one day's digests "
    "are held as a single in-memory array (~32 B/event — 3.2 GB at "
    "100M events/day); beyond that, chain at a finer key (hour) and "
    "fold the per-bucket heads in a second level.",
)
def val_hash_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_id",
        F.md5(
            F.concat_ws(
                "|",
                F.col("event_id").cast("string"),
                F.col("event_type"),
                F.col("user_id").cast("string"),
            )
        ).alias("digest"),
    )
    g = d.groupBy("day").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("event_id", "digest"))),
            lambda s: s.getField("digest"),
        ).alias("ds"),
        F.count(F.lit(1)).alias("n"),
    )
    return g.select(
        "day",
        "n",
        F.aggregate(
            "ds",
            F.lit("GENESIS"),
            lambda acc, x: F.md5(F.concat(acc, x)),
        ).alias("chain_hash"),
    )


@declare(
    "val_luhn",
    """
    WITH a AS (
      SELECT c_custkey,
             lpad(CAST((c_custkey * 7919) % 10000000000 AS VARCHAR), 10, '0')
               || CAST(c_custkey % 10 AS VARCHAR) AS acct
      FROM customer),
    e AS (
      SELECT c_custkey, acct, t.i,
             CAST(instr('0123456789', acct[t.i]) - 1 AS BIGINT) AS d,
             len(acct) AS n
      FROM a, unnest(range(1, len(acct) + 1)) AS t(i)),
    g AS (
      SELECT c_custkey, acct,
             SUM(CASE WHEN (n - i) % 2 = 1
                      THEN (2 * d) // 10 + (2 * d) % 10
                      ELSE d END) AS s
      FROM e GROUP BY c_custkey, acct)
    SELECT c_custkey, acct, s % 10 = 0 AS luhn_ok
    FROM g
    """,
    _SEC,
    "Luhn checksum validation of identifier columns (card/IMEI/"
    "account formats) via Spark 4's JVM-native luhn_check — the "
    "transposition-and-typo tripwire a PII-bearing intake runs "
    "before trusting identifiers downstream. The fixture "
    "synthesizes 11-digit accounts whose last digit is arbitrary, "
    "so ~10% validate — and the oracle re-implements Luhn from "
    "first principles (double every second digit from the right, "
    "carry-fold, mod 10), proving the builtin's semantics rather "
    "than assuming them.",
)
def val_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    acct = F.concat(
        F.lpad(((F.col("c_custkey") * 7919) % 10000000000).cast("string"), 10, "0"),
        (F.col("c_custkey") % 10).cast("string"),
    )
    return cust.select(
        "c_custkey",
        acct.alias("acct"),
        F.expr("luhn_check(acct)").alias("luhn_ok"),
    ).select("c_custkey", "acct", "luhn_ok")


@declare(
    "val_key_discovery",
    """
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM part),
    cols AS (
      SELECT 'p_partkey' AS col,
             CAST(COUNT(DISTINCT p_partkey) AS BIGINT) AS n_distinct,
             CAST(COUNT(p_partkey) AS BIGINT) AS n_nonnull FROM part
      UNION ALL
      SELECT 'p_name', COUNT(DISTINCT p_name), COUNT(p_name) FROM part
      UNION ALL
      SELECT 'p_brand', COUNT(DISTINCT p_brand), COUNT(p_brand) FROM part
      UNION ALL
      SELECT 'p_type', COUNT(DISTINCT p_type), COUNT(p_type) FROM part
      UNION ALL
      SELECT 'p_size', COUNT(DISTINCT p_size), COUNT(p_size) FROM part
      UNION ALL
      SELECT 'p_retailprice', COUNT(DISTINCT p_retailprice),
             COUNT(p_retailprice) FROM part)
    SELECT c.col, c.n_distinct, n.n_rows,
           c.n_distinct = n.n_rows AND c.n_nonnull = n.n_rows AS is_key
    FROM cols c CROSS JOIN n
    """,
    _SEC,
    "Candidate-key discovery over a table's columns: per column, "
    "distinct count vs row count (null-free uniqueness ⇒ key) — "
    "the profiling pass schema inference and dedup-key selection "
    "start from, where val_unique verifies a DECLARED key and "
    "val_fd_profile checks declared dependencies. One scan with "
    "grouped distinct aggregates — Spark rewrites the multi-distinct "
    "into expand+partial aggregation, still a single pass over the "
    "data.",
)
def val_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    cols = ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]
    stats = part.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count_distinct(c).alias(f"d_{c}") for c in cols],
        *[F.count(c).alias(f"c_{c}") for c in cols],
    )
    rows = None
    for c in cols:
        r = stats.select(
            F.lit(c).alias("col"),
            F.col(f"d_{c}").alias("n_distinct"),
            F.col("n_rows"),
            (
                (F.col(f"d_{c}") == F.col("n_rows"))
                & (F.col(f"c_{c}") == F.col("n_rows"))
            ).alias("is_key"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows
