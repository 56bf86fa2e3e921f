"""SURVEY.md §2.5 — window functions.

Determinism: every ORDER BY inside a window ends in a unique key
(ts is unique in events; c_custkey/o_orderkey elsewhere), so ranks,
offsets, and frame edges are reproducible. Running/moving sums go
through integer micro-units (``floor(v*1e6 + 0.5)`` — exact for the
2-dp fixture values) because windowed double summation is
tree-order-dependent and DuckDB's segment-tree order differs from
Spark's running accumulation.

Scale notes: each window shuffles once on its partition key; no
window here is partition-less over an unbounded table (the only
global-order windows run over LIMITed subsets, see sorts_sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from configdrivendatapipeline_spark.queries import VU, declare, load

_SEC = "2.5"


@declare(
    "win_row_number",
    """
    SELECT event_id, user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
    FROM events
    """,
    _SEC,
    "Unique sequence per partition over a deterministic (unique ts) order.",
)
def win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return ev.select(
        "event_id", "user_id", F.row_number().over(w).cast("long").alias("rn")
    )


@declare(
    "win_rank",
    """
    SELECT c_custkey, c_nationkey,
           RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk,
           DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS drnk
    FROM customer
    """,
    _SEC,
    "Ranking with (rank) and without (dense_rank) gaps; tied balances "
    "get tied ranks deterministically.",
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return c.select(
        "c_custkey",
        "c_nationkey",
        # long, not the int32 Spark ranks natively emit: DuckDB window
        # ranks are BIGINT, and matching widths keeps the oracle
        # bit-comparable under any hash bridge.
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@declare(
    "win_ntile",
    """
    SELECT o_orderkey,
           NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
    FROM orders
    """,
    _SEC,
    "N buckets over a unique total order.",
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global NTILE without the single-partition global window.

    ``Window.orderBy(...)`` with no partition moves the WHOLE table
    into one task (WindowExec warns precisely about this) — fatal at
    100 TB. Instead: range-repartition on the sort key, rank locally,
    then add per-partition offsets (an exclusive prefix sum over the
    per-partition counts — bounded by #partitions, not #rows) and
    derive the NTILE bucket arithmetically from the global rank.
    Bucket values depend only on the global rank over a UNIQUE total
    order, so nondeterministic range boundaries cannot change the
    output.
    """
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    parts = o.sparkSession.sparkContext.defaultParallelism
    d = o.repartitionByRange(parts, "o_totalprice", "o_orderkey").withColumn(
        "__pid", F.spark_partition_id()
    )
    wl = Window.partitionBy("__pid").orderBy("o_totalprice", "o_orderkey")
    d = d.withColumn("__lrn", F.row_number().over(wl))
    # Pin (__pid, __lrn): spark_partition_id() is nondeterministic and
    # range boundaries are re-sampled per-exchange, so the counts
    # branch and the join branch below must see the SAME partition
    # assignment. Default exchange reuse dedups the identical subtree,
    # but that's an optimizer choice (spark.sql.exchange.reuse), not a
    # guarantee — localCheckpoint materializes one assignment so a
    # recomputed branch can't disagree. Bounded cost: one pass over
    # data already shuffled by the repartitionByRange above.
    d = d.localCheckpoint(eager=True)
    counts = d.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    # global window over ≤ #partitions rows — bounded at any data size
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(wo), F.lit(0)).alias("__off"),
        F.sum("__cnt").over(Window.partitionBy()).alias("__n"),
    )
    r = F.col("__off") + F.col("__lrn")
    n = F.col("__n")
    base = F.floor(n / 4).cast("long")
    extra = (n % 4).cast("long")
    # NTILE(4): first (n mod 4) buckets hold ⌈n/4⌉ rows, rest ⌊n/4⌋
    quartile = F.when(
        r <= (base + 1) * extra, F.floor((r - 1) / (base + 1)) + 1
    ).otherwise(
        extra + F.floor((r - 1 - (base + 1) * extra) / F.greatest(base, F.lit(1))) + 1
    )
    return d.join(F.broadcast(offsets), "__pid").select(
        "o_orderkey", quartile.cast("long").alias("quartile")
    )


@declare(
    "win_percent_rank",
    """
    WITH r AS (
      SELECT c_custkey, c_nationkey,
             RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS rnk,
             COUNT(*) OVER (PARTITION BY c_nationkey) AS n,
             COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM customer)
    SELECT c_custkey, c_nationkey,
           CAST(CASE WHEN n > 1
                THEN FLOOR(((rnk - 1) * 2000000 + (n - 1)) / ((n - 1) * 2))
                ELSE 0 END AS DOUBLE) / 1000000 AS pct_rnk,
           CAST(FLOOR((c * 2000000 + n) / (n * 2)) AS DOUBLE) / 1000000 AS cdist
    FROM r
    """,
    _SEC,
    "Relative rank / empirical CDF, emitted as half-up-rounded "
    "micro-units computed in integer arithmetic — (rank−1)/(n−1) can "
    "land exactly on a 6-dp rounding tie (observed at sf0.1: "
    "41/640·10⁶ = 64062.5) where Spark's and DuckDB's double ROUND "
    "disagree; integer floor-division before one exact /10⁶ cannot.",
)
def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    wp = Window.partitionBy("c_nationkey")
    wr = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    r = c.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).alias("rnk"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.count(F.lit(1)).over(wr).alias("c"),
    )
    n, rnk, cnt = F.col("n"), F.col("rnk"), F.col("c")
    pct = F.when(
        n > 1, F.floor(((rnk - 1) * 2000000 + (n - 1)) / ((n - 1) * 2))
    ).otherwise(0)
    cd = F.floor((cnt * 2000000 + n) / (n * 2))
    return r.select(
        "c_custkey",
        "c_nationkey",
        (pct.cast("double") / 1000000).alias("pct_rnk"),
        (cd.cast("double") / 1000000).alias("cdist"),
    )


@declare(
    "win_lag_lead",
    """
    SELECT event_id, user_id,
           LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts) AS prev_type,
           LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts) AS next_type
    FROM events
    """,
    _SEC,
    "Previous/next row values per user session stream.",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.lead("event_type", 1).over(w).alias("next_type"),
    )


@declare(
    "win_first_last_value",
    """
    SELECT event_id, user_id,
           FIRST_VALUE(event_type) OVER
             (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_type,
           LAST_VALUE(event_type) OVER
             (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type
    FROM events
    """,
    _SEC,
    "Frame-edge values with an explicit full frame (the default frame "
    "would make last_value degenerate).",
)
def win_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
    )


@declare(
    "win_running_sum",
    f"""
    SELECT event_id, user_id,
           CAST(SUM({VU}) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / 1000000 AS running_value
    FROM events
    """,
    _SEC,
    "Cumulative sum per user via exact integer micro-units.",
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn("vu", F.expr(VU))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.sum("vu").over(w).cast("double") / 1000000).alias("running_value"),
    )


@declare(
    "win_moving_avg",
    f"""
    SELECT event_id, user_id,
           CAST(SUM({VU}) OVER w AS DOUBLE)
             / (1000000 * COUNT(*) OVER w) AS avg_value_4
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
    _SEC,
    "Sliding mean over the last 4 rows (exact integer numerator / one "
    "identically-rounded IEEE division).",
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn("vu", F.expr(VU))
    w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-3, 0)
    return ev.select(
        "event_id",
        "user_id",
        (
            F.sum("vu").over(w).cast("double")
            / (F.count(F.lit(1)).over(w) * 1000000)
        ).alias("avg_value_4"),
    )


@declare(
    "win_range_frame",
    """
    SELECT o_orderkey, o_orderstatus,
           COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k
    FROM orders
    """,
    _SEC,
    "Value-based RANGE frame: peers within 10 000 below the current "
    "price (includes ties of the current value).",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, Window.currentRow)
    )
    return o.select(
        "o_orderkey", "o_orderstatus", F.count(F.lit(1)).over(w).alias("n_within_10k")
    )


@declare(
    "win_topk_per_group",
    """
    WITH ranked AS (
      SELECT c_custkey, c_nationkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer)
    SELECT c_custkey, c_nationkey, c_acctbal, rn
    FROM ranked WHERE rn <= 3
    """,
    _SEC,
    "Top-k rows per key (ADF 'Rank' + filter): the scalable 'top "
    "customers per nation' pattern — one shuffle, no global sort.",
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@declare(
    "win_dedup_latest",
    """
    WITH ranked AS (
      SELECT event_id, user_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
      FROM events)
    SELECT event_id, user_id, ts FROM ranked WHERE rn = 1
    """,
    _SEC,
    "Keep the latest row per key (ADF dedup pattern; also the SCD1 "
    "upsert-compaction primitive).",
)
def win_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
    return (
        ev.select("event_id", "user_id", "ts", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@declare(
    "win_dense_rank",
    """
    SELECT s_suppkey, s_nationkey,
           DENSE_RANK() OVER (PARTITION BY s_nationkey
                              ORDER BY s_acctbal DESC) AS drnk
    FROM supplier
    """,
    _SEC,
    "Gap-free ranking standalone (also exercised beside RANK in "
    "win_rank; this entry keys the SURVEY §2 id on its own).",
)
def win_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc())
    return s.select(
        "s_suppkey", "s_nationkey", F.dense_rank().over(w).cast("long").alias("drnk")
    )


@declare(
    "win_cume_dist",
    """
    WITH r AS (
      SELECT o_orderkey, o_orderstatus,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS n,
             COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM orders)
    SELECT o_orderkey, o_orderstatus,
           CAST(FLOOR((c * 2000000 + n) / (n * 2)) AS DOUBLE) / 1000000 AS cdist
    FROM r
    """,
    _SEC,
    "Empirical CDF standalone (this entry keys the SURVEY §2 id on "
    "its own) — integer micro-unit rounding, tie-free; see "
    "win_percent_rank.",
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    wp = Window.partitionBy("o_orderstatus")
    wr = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    r = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.count(F.lit(1)).over(wp).alias("n"),
        F.count(F.lit(1)).over(wr).alias("c"),
    )
    cd = F.floor((F.col("c") * 2000000 + F.col("n")) / (F.col("n") * 2))
    return r.select(
        "o_orderkey",
        "o_orderstatus",
        (cd.cast("double") / 1000000).alias("cdist"),
    )


@declare(
    "win_sessionize",
    """
    WITH o AS (
      SELECT event_id, user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           CAST(SUM(new_s) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_no
    FROM o
    """,
    _SEC,
    "Batch sessionization (gaps-and-islands): a session boundary "
    "wherever the per-user gap exceeds 30 min (strictly greater), "
    "session_no = running count of boundaries — the batch twin of "
    "stream_session, as two per-user window passes (lag, cumsum) "
    "that stay partition-parallel at any user count.",
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = (
        F.unix_micros(F.col("ts"))
        - F.unix_micros(F.lag("ts").over(w))
    )
    new_s = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.select("event_id", "user_id", "ts", new_s.alias("new_s"))
        .select(
            "event_id",
            "user_id",
            F.sum("new_s").over(wc).cast("long").alias("session_no"),
        )
    )


@declare(
    "win_funnel",
    """
    WITH s AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s.s_ts
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM c) AS n_click_after,
           (SELECT COUNT(*) FROM p) AS n_purchase_after,
           ((SELECT COUNT(*) FROM c) * 1000000)
             // (SELECT COUNT(*) FROM s) AS conv_click_micro,
           ((SELECT COUNT(*) FROM p) * 1000000)
             // GREATEST((SELECT COUNT(*) FROM c), 1) AS conv_purchase_micro
    """,
    _SEC,
    "Ordered event funnel (signup → later click → later purchase): "
    "per-stage earliest-qualifying timestamps via user-keyed "
    "aggregations chained by strictly-AFTER semi-joins — every stage "
    "shuffles on user_id only (the same key, so AQE reuses the "
    "partitioning), never on time. Conversion rates in exact "
    "micro-units. The product analytics query every event pipeline "
    "ends at.",
)
def win_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    counts = (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )
    return counts.select(
        "n_signup",
        "n_click_after",
        "n_purchase_after",
        F.expr("(n_click_after * 1000000) div n_signup").alias("conv_click_micro"),
        F.expr(
            "(n_purchase_after * 1000000) div greatest(n_click_after, 1)"
        ).alias("conv_purchase_micro"),
    )


@declare(
    "win_retention",
    """
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS act_day FROM events),
    flags AS (
      SELECT f.user_id, f.cohort_day,
             MAX(CASE WHEN a.act_day = f.cohort_day + INTERVAL 7 DAY
                      THEN 1 ELSE 0 END) AS r7
      FROM first_day f JOIN activity a ON a.user_id = f.user_id
      GROUP BY f.user_id, f.cohort_day)
    SELECT cohort_day, COUNT(*) AS n_users,
           CAST(SUM(r7) AS BIGINT) AS n_retained_d7,
           (CAST(SUM(r7) AS BIGINT) * 1000000) // COUNT(*)
             AS retention_d7_micro
    FROM flags GROUP BY cohort_day
    """,
    _SEC,
    "Day-7 cohort retention: users bucketed by first-seen day, "
    "retained iff active exactly 7 days later — the growth metric "
    "behind every engagement dashboard. Two user-keyed aggregations "
    "+ one user-keyed join (partitioning reused), retention in exact "
    "micro-units; no per-day driver loop, the whole cohort table is "
    "one plan.",
)
def win_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("act_day")
    )
    first_day = ev.groupBy("user_id").agg(F.min("act_day").alias("cohort_day"))
    activity = ev.distinct()
    flags = (
        first_day.join(activity, "user_id")
        .groupBy("user_id", "cohort_day")
        .agg(
            F.max(
                F.when(
                    F.col("act_day") == F.date_add(F.col("cohort_day"), 7), 1
                ).otherwise(0)
            ).alias("r7")
        )
    )
    return flags.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("r7").cast("long").alias("n_retained_d7"),
    ).select(
        "cohort_day",
        "n_users",
        "n_retained_d7",
        F.expr("(n_retained_d7 * 1000000) div n_users").alias("retention_d7_micro"),
    )


def _daily_last_obs(ev: DataFrame) -> DataFrame:
    """Each user's latest event per calendar day (``ts DESC, event_id
    DESC``) as ``(user_id, day, vu)``, ``vu`` in micro-units."""
    daily_w = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            "ts",
            "event_id",
            F.expr(VU).alias("vu"),
        )
        .withColumn("rn", F.row_number().over(daily_w))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", "vu")
    )


def _daily_grid(obs: DataFrame) -> DataFrame:
    """Each user's calendar from their first to their last observed day
    (a bounded ``sequence`` per user, never a users × days cross
    product), left-joined to ``obs``, plus ``observed``."""
    bounds = obs.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"),
    )
    return grid.join(obs, ["user_id", "day"], "left").select(
        "user_id", "day", "vu", F.col("vu").isNotNull().alias("observed")
    )


@declare(
    "win_gapfill_locf",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vu,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    obs AS (SELECT user_id, day, vu FROM daily WHERE rn = 1),
    bounds AS (
      SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM obs GROUP BY user_id),
    grid AS (
      SELECT user_id, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds),
    joined AS (
      SELECT g.user_id, g.day, o.vu,
             (o.vu IS NOT NULL) AS observed
      FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.day = g.day)
    SELECT user_id, day,
           last_value(vu IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_micro,
           observed
    FROM joined
    """,
    _SEC,
    "Per-entity calendar gap-fill with last-observation-carried-"
    "forward: each user's observation grid is densified only between "
    "THEIR first and last day (sequence explode — never a global "
    "users × days cross product), missing days take the prior "
    "observed value via an ignore-nulls running last_value. The "
    "time-series regularization every downstream resampler assumes; "
    "one user-partitioned window, values in exact micro-units.",
)
def win_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _daily_grid(_daily_last_obs(load(spark, sf_dir, "events")))
    locf = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        "user_id",
        "day",
        F.last("vu", ignorenulls=True).over(locf).alias("value_micro"),
        "observed",
    )


@declare(
    "win_pareto",
    """
    WITH cust AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_custkey),
    ranked AS (
      SELECT c_nationkey, o_custkey, rev_cents,
             SUM(rev_cents) OVER (
               PARTITION BY c_nationkey
               ORDER BY rev_cents DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
             SUM(rev_cents) OVER (PARTITION BY c_nationkey) AS tot_cents
      FROM cust)
    SELECT c_nationkey, o_custkey, rev_cents,
           CAST((CAST(cum_cents AS HUGEINT) * 1000000)
                // CAST(tot_cents AS HUGEINT) AS BIGINT) AS cum_share_micro,
           CASE WHEN (CAST(cum_cents AS HUGEINT) * 1000000)
                     // CAST(tot_cents AS HUGEINT) <= 800000 THEN 'A'
                WHEN (CAST(cum_cents AS HUGEINT) * 1000000)
                     // CAST(tot_cents AS HUGEINT) <= 950000 THEN 'B'
                ELSE 'C' END AS abc
    FROM ranked
    """,
    _SEC,
    "Pareto / ABC classification per nation: customers ranked by "
    "revenue, cumulative share in exact integer micro-units, A/B/C "
    "at 80/95% — the concentration analysis behind tiering and "
    "skew-aware planning. Both windows share ONE per-nation "
    "partitioning (one shuffle); revenue sums are exact cents so "
    "the running total can never drift across engines or retries.",
)
def win_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(
                F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).alias("rev_cents")
        )
    )
    run = Window.partitionBy("c_nationkey").orderBy(
        F.col("rev_cents").desc(), F.col("o_custkey")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy("c_nationkey")
    ranked = cust.select(
        "c_nationkey",
        "o_custkey",
        "rev_cents",
        F.sum("rev_cents").over(run).alias("cum_cents"),
        F.sum("rev_cents").over(tot).alias("tot_cents"),
    )
    # 128-bit intermediate: cum_cents·1e6 wraps BIGINT once a
    # nation's revenue passes ~9e12 cents ($90B) — see agg_lorenz
    share = F.expr(
        "CAST((CAST(cum_cents AS DECIMAL(38,0)) * 1000000)"
        " div tot_cents AS BIGINT)"
    )
    return ranked.select(
        "c_nationkey",
        "o_custkey",
        "rev_cents",
        share.cast("long").alias("cum_share_micro"),
        F.when(share <= 800000, "A")
        .when(share <= 950000, "B")
        .otherwise("C")
        .alias("abc"),
    )


@declare(
    "win_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    keyed AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS island
      FROM days),
    streaks AS (
      SELECT user_id, island, COUNT(*) AS len,
             MIN(day) AS streak_start
      FROM keyed GROUP BY user_id, island)
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           MIN(streak_start) AS first_day
    FROM streaks GROUP BY user_id
    """,
    _SEC,
    "Consecutive-day activity streaks (gaps-and-islands on the "
    "calendar): day minus per-user row_number is constant exactly "
    "within a run of consecutive days, so one window + two "
    "aggregations yield every user's longest streak — the engagement "
    "metric behind every retention dashboard's 'streak' badge. All "
    "stages share the user_id partitioning; nothing global.",
)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    keyed = days.withColumn(
        "island", F.date_sub("day", F.row_number().over(w))
    )
    streaks = keyed.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("streak_start")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.min("streak_start").alias("first_day"),
    )


@declare(
    "win_moving_median",
    """
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events)
    SELECT user_id, event_id,
           CAST(quantile_cont(cents, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 1000000
             AS BIGINT) AS med_micro
    FROM v
    """,
    _SEC,
    "Moving median (3-event window per user) — the robust smoother "
    "a noisy metric stream needs where a moving AVERAGE chases "
    "outliers. Spark has no frame-median builtin, so it composes: "
    "collect_list over the frame → sort_array → exact middle (odd) "
    "or midpoint (even), all on integer cents so the midpoint *1e6 "
    "is exact in both engines. The frame is 3 elements — the "
    "composition is O(frame), never O(partition).",
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    frame = F.sort_array(F.collect_list("cents").over(w))
    n = F.size(frame)
    lo = F.element_at(frame, (n / 2).cast("int"))
    hi = F.element_at(frame, (n / 2).cast("int") + 1)
    med_micro = F.when(
        n % 2 == 1, F.element_at(frame, ((n + 1) / 2).cast("int")) * 1_000_000
    ).otherwise((lo + hi) * 500_000)
    return v.select(
        "user_id", "event_id", med_micro.cast("long").alias("med_micro")
    )


@declare(
    "win_running_distinct",
    """
    WITH f AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY o_custkey, o_orderpriority
                    ORDER BY o_orderdate, o_orderkey) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM orders)
    SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(is_first) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS distinct_so_far
    FROM f
    """,
    _SEC,
    "Running COUNT(DISTINCT) per group — how many distinct order "
    "priorities each customer has used up to each order. Windowed "
    "DISTINCT aggregates aren't supported by either engine, so this "
    "is the standard exact rewrite: a first-occurrence flag "
    "(row_number = 1 over (group, value)) cumulatively summed over "
    "the group — two per-customer windows sharing one shuffle key, "
    "never a global window or a quadratic self-join.",
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w_first = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_orderpriority",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "is_first"
        ),
    )
    return flagged.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_orderpriority",
        F.sum("is_first").over(w_run).cast("long").alias("distinct_so_far"),
    )


@declare(
    "win_ewma",
    """
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    l AS (
      SELECT user_id, event_id, cents,
             LAG(cents, 1) OVER w AS c1, LAG(cents, 2) OVER w AS c2,
             LAG(cents, 3) OVER w AS c3, LAG(cents, 4) OVER w AS c4,
             LAG(cents, 5) OVER w AS c5, LAG(cents, 6) OVER w AS c6,
             LAG(cents, 7) OVER w AS c7,
             LEAST(ROW_NUMBER() OVER w, 8) AS m
      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id, CAST(m AS BIGINT) AS n_in_frame,
           ((cents * 128 + COALESCE(c1, 0) * 64 + COALESCE(c2, 0) * 32
             + COALESCE(c3, 0) * 16 + COALESCE(c4, 0) * 8
             + COALESCE(c5, 0) * 4 + COALESCE(c6, 0) * 2
             + COALESCE(c7, 0)) * 1000000)
           // (256 - CASE m WHEN 1 THEN 128 WHEN 2 THEN 64 WHEN 3 THEN 32
                            WHEN 4 THEN 16 WHEN 5 THEN 8 WHEN 6 THEN 4
                            WHEN 7 THEN 2 ELSE 1 END) AS ewma_micro
    FROM l
    """,
    _SEC,
    "Exponentially-weighted moving average (half-life smoothing, "
    "alpha = 1/2, 8-event trailing frame) per user — EXACT integer "
    "arithmetic throughout: half-life weights are powers of two, so "
    "the weighted sum is rearranged to fixed exponents "
    "(128·x_n + 64·x_{n-1} + …) over the truncated-frame weight "
    "total 256 − 2^(8−m), and the micro-unit quotient is one integer "
    "division — no float pow, no fold order, nothing an engine can "
    "round differently. Eight LAGs + one row_number share a single "
    "per-user window (one shuffle); frames near the partition start "
    "truncate exactly like pandas ewm(adjust=True).",
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = v.select(
        "user_id",
        "event_id",
        "cents",
        *[F.lag("cents", k).over(w).alias(f"c{k}") for k in range(1, 8)],
        F.least(F.row_number().over(w), F.lit(8)).alias("m"),
    )
    num = F.col("cents") * 128
    for k in range(1, 8):
        num = num + F.coalesce(F.col(f"c{k}"), F.lit(0)) * (2 ** (7 - k))
    den = F.lit(256) - F.expr(
        "CASE m WHEN 1 THEN 128 WHEN 2 THEN 64 WHEN 3 THEN 32 "
        "WHEN 4 THEN 16 WHEN 5 THEN 8 WHEN 6 THEN 4 WHEN 7 THEN 2 "
        "ELSE 1 END"
    )
    return lagged.select(
        "user_id",
        "event_id",
        F.col("m").cast("long").alias("n_in_frame"),
        num.alias("__num"),
        den.cast("long").alias("__den"),
    ).select(
        "user_id",
        "event_id",
        "n_in_frame",
        F.expr("(__num * 1000000) div __den").alias("ewma_micro"),
    )


@declare(
    "win_gapfill_linear",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vu,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    obs AS (SELECT user_id, day, vu FROM daily WHERE rn = 1),
    bounds AS (
      SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM obs GROUP BY user_id),
    grid AS (
      SELECT user_id, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds),
    joined AS (
      SELECT g.user_id, g.day, o.vu, (o.vu IS NOT NULL) AS observed
      FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.day = g.day),
    ctx AS (
      SELECT user_id, day, vu, observed,
             last_value(vu IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN vu IS NOT NULL THEN day END IGNORE NULLS)
               OVER wp AS pd,
             first_value(vu IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN vu IS NOT NULL THEN day END IGNORE NULLS)
               OVER wn AS nd
      FROM joined
      WINDOW wp AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, day,
           CASE WHEN observed THEN vu
                ELSE (pv * (date_diff('day', pd, nd) - date_diff('day', pd, day))
                      + nv * date_diff('day', pd, day))
                     // date_diff('day', pd, nd)
           END AS value_micro,
           observed
    FROM ctx
    """,
    _SEC,
    "Per-entity calendar gap-fill with LINEAR interpolation — the "
    "resampling that time-weighted analytics (VWAP, sensor fusion) "
    "need where carry-forward (win_gapfill_locf) introduces steps: "
    "missing days take the distance-weighted average of the "
    "bracketing observations. The interpolant is the weighted form "
    "(pv*(D-d) + nv*d) div D — a NON-NEGATIVE integer numerator "
    "(vu >= 0 because events.value is strictly positive in the "
    "fixture; signed series would need greatest(vu, 0) clamping or "
    "the floordiv identity, since Spark div truncates toward zero "
    "while DuckDB // floors), so truncating and flooring division "
    "agree; the naive pv + delta*d/D form would diverge on falling "
    "segments even for positive data. "
    "Same per-user bounded grid and windows as LOCF — nothing global, "
    "every missing day has both neighbors by construction.",
)
def win_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _daily_grid(_daily_last_obs(load(spark, sf_dir, "events")))
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ctx = joined.select(
        "user_id",
        "day",
        "vu",
        "observed",
        F.last("vu", ignorenulls=True).over(wp).alias("pv"),
        F.last(
            F.when(F.col("vu").isNotNull(), F.col("day")), ignorenulls=True
        ).over(wp).alias("pd"),
        F.first("vu", ignorenulls=True).over(wn).alias("nv"),
        F.first(
            F.when(F.col("vu").isNotNull(), F.col("day")), ignorenulls=True
        ).over(wn).alias("nd"),
    )
    return ctx.select(
        "user_id",
        "day",
        F.expr(
            "CASE WHEN observed THEN vu "
            "ELSE (pv * (datediff(nd, pd) - datediff(day, pd)) "
            "      + nv * datediff(day, pd)) div datediff(nd, pd) END"
        ).alias("value_micro"),
        "observed",
    )


@declare(
    "win_hampel",
    """
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    l AS (
      SELECT user_id, event_id, cents,
             list(cents) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS fr
      FROM v),
    m AS (
      SELECT user_id, event_id, cents, fr,
             CASE WHEN len(fr) % 2 = 1
                  THEN list_sort(fr)[(len(fr) + 1) // 2] * 2
                  ELSE list_sort(fr)[len(fr) // 2]
                       + list_sort(fr)[len(fr) // 2 + 1] END AS med2
      FROM l),
    d AS (
      SELECT user_id, event_id, cents, med2,
             list_sort(list_transform(fr, x -> abs(2 * x - med2))) AS dv
      FROM m)
    SELECT user_id, event_id, cents, med2,
           CASE WHEN len(dv) % 2 = 1
                THEN dv[(len(dv) + 1) // 2] * 2
                ELSE dv[len(dv) // 2] + dv[len(dv) // 2 + 1] END AS mad4,
           2 * abs(2 * cents - med2) >
             3 * (CASE WHEN len(dv) % 2 = 1
                       THEN dv[(len(dv) + 1) // 2] * 2
                       ELSE dv[len(dv) // 2] + dv[len(dv) // 2 + 1] END)
             AS is_spike
    FROM d
    """,
    _SEC,
    "Hampel despiking filter (5-event rolling median ± 3·MAD per "
    "user) — the standard robust spike detector for metric streams "
    "where a z-score chases its own outliers. Entirely integer: the "
    "frame median and the MAD are kept DOUBLED (scale 2 and 4) so "
    "even-length frames never produce halves, and the flag compares "
    "2·|2x − med2| > 3·mad4 — the original |x−med| > 3·MAD scaled by "
    "4 with no division at all. Frame composition is O(frame) per "
    "row (sort_array over 5 elements), one per-user window shuffle — "
    "the same shape as the moving median.",
)
def win_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )

    def med2_of(arr):
        s = F.sort_array(arr)
        n = F.size(arr)
        return F.when(
            n % 2 == 1, F.element_at(s, ((n + 1) / 2).cast("int")) * 2
        ).otherwise(
            F.element_at(s, (n / 2).cast("int"))
            + F.element_at(s, (n / 2).cast("int") + 1)
        )

    withfr = v.select(
        "user_id", "event_id", "cents", F.collect_list("cents").over(w).alias("fr")
    )
    withmed = withfr.withColumn("med2", med2_of(F.col("fr")))
    withdev = withmed.withColumn(
        "dv",
        F.transform(F.col("fr"), lambda x: F.abs(2 * x - F.col("med2"))),
    ).withColumn("mad4", med2_of(F.col("dv")))
    return withdev.select(
        "user_id",
        "event_id",
        "cents",
        "med2",
        "mad4",
        (2 * F.abs(2 * F.col("cents") - F.col("med2")) > 3 * F.col("mad4")).alias(
            "is_spike"
        ),
    )


@declare(
    "win_drawdown",
    """
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vu
      FROM events),
    cu AS (
      SELECT user_id, event_id, ts,
             SUM(vu) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM v),
    c AS (
      SELECT user_id, event_id, cum,
             MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM cu)
    SELECT user_id, event_id,
           CAST(cum AS BIGINT) AS cum_micro,
           CAST(peak AS BIGINT) AS peak_micro,
           CAST(peak - cum AS BIGINT) AS drawdown_micro
    FROM c
    """,
    _SEC,
    "Running-peak drawdown per user: cumulative value, its running "
    "maximum, and the gap — the classic risk/engagement-decay "
    "trajectory metric (max drawdown is one MAX over this). Exact "
    "integer micro-units end to end (windowed double sums are "
    "tree-order-dependent); two stacked windows share one per-user "
    "shuffle key, nothing global.",
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.expr(VU).alias("vu"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = v.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("vu").over(w).alias("cum"),
    )
    c = c.select(
        "user_id",
        "event_id",
        "cum",
        F.max("cum").over(w).alias("peak"),
    )
    return c.select(
        "user_id",
        "event_id",
        F.col("cum").alias("cum_micro"),
        F.col("peak").alias("peak_micro"),
        (F.col("peak") - F.col("cum")).alias("drawdown_micro"),
    )


@declare(
    "win_cusum",
    """
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    mu AS (
      SELECT user_id,
             (CAST(SUM(cents) AS BIGINT) * 2 + COUNT(*))
               // (2 * COUNT(*)) AS target
      FROM v GROUP BY user_id),
    c AS (
      SELECT v.user_id, v.event_id, v.ts, v.cents, mu.target,
             SUM(v.cents - mu.target) OVER (
               PARTITION BY v.user_id ORDER BY v.ts, v.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM v JOIN mu ON mu.user_id = v.user_id),
    m AS (
      SELECT user_id, event_id, cum,
             MIN(cum) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lo
      FROM c)
    SELECT user_id, event_id,
           CAST(cum - LEAST(lo, 0) AS BIGINT) AS cusum_cents,
           (cum - LEAST(lo, 0)) > 50000 AS shifted
    FROM m
    """,
    _SEC,
    "One-sided CUSUM change detection per user: the classic "
    "upward-shift statistic S_t = max(0, S_{t-1} + (x_t - target)) "
    "rewritten NON-recursively as cum_t - min(0, prefix-min(cum)) — "
    "algebraically identical, but expressible as two stacked windows "
    "where the textbook recurrence cannot be vectorized at all. "
    "Target is the user's half-up integer mean; everything stays in "
    "exact cents, flagging runs that drift 500+ above baseline. Two "
    "windows and one mean join share the per-user shuffle key.",
)
def win_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    mu = v.groupBy("user_id").agg(
        F.expr("(CAST(SUM(cents) AS BIGINT) * 2 + COUNT(*)) div (2 * COUNT(*))")
        .alias("target")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = v.join(mu, "user_id").select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("cents") - F.col("target")).over(w).alias("cum"),
    )
    m = c.select(
        "user_id", "event_id", "cum", F.min("cum").over(w).alias("lo")
    )
    s = F.col("cum") - F.least(F.col("lo"), F.lit(0).cast("long"))
    return m.select(
        "user_id",
        "event_id",
        s.alias("cusum_cents"),
        (s > 50000).alias("shifted"),
    )


@declare(
    "win_rank_change",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
             CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 100)
                  AS BIGINT) AS cents
      FROM orders
      WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
      GROUP BY o_custkey, EXTRACT(YEAR FROM o_orderdate)),
    ranked AS (
      SELECT o_custkey, yr, cents,
             CAST(RANK() OVER (PARTITION BY yr
                               ORDER BY cents DESC, o_custkey) AS BIGINT)
               AS rnk
      FROM spend)
    SELECT a.o_custkey,
           a.rnk AS rank_prev, b.rnk AS rank_curr,
           a.rnk - b.rnk AS rank_delta,
           b.cents - a.cents AS spend_delta_cents
    FROM ranked a JOIN ranked b
      ON a.o_custkey = b.o_custkey AND a.yr = 1996 AND b.yr = 1997
    """,
    _SEC,
    "Period-over-period rank movement: each customer's spend rank in "
    "1996 vs 1997 with rank and spend deltas — the movers/decliners "
    "report behind churn and account-growth reviews. Two per-period "
    "rank windows (partitioned by year — parallel, never global "
    "across periods) + one self-join on the entity; spend is "
    "decimal-exact cents and ties rank deterministically by key.",
)
def win_rank_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    spend = (
        o.filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            "o_custkey", F.year("o_orderdate").cast("int").alias("yr")
        )
        .agg(
            F.expr(
                "CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 100)"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    w = Window.partitionBy("yr").orderBy(
        F.col("cents").desc(), F.col("o_custkey")
    )
    ranked = spend.withColumn("rnk", F.rank().over(w).cast("long"))
    a = ranked.filter(F.col("yr") == 1996).select(
        "o_custkey", F.col("rnk").alias("rank_prev"), F.col("cents").alias("pc")
    )
    b = ranked.filter(F.col("yr") == 1997).select(
        "o_custkey", F.col("rnk").alias("rank_curr"), F.col("cents").alias("cc")
    )
    return a.join(b, "o_custkey").select(
        "o_custkey",
        "rank_prev",
        "rank_curr",
        (F.col("rank_prev") - F.col("rank_curr")).alias("rank_delta"),
        (F.col("cc") - F.col("pc")).alias("spend_delta_cents"),
    )


@declare(
    "win_seasonal_lite",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vu,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    obs AS (SELECT user_id, day, vu FROM daily WHERE rn = 1),
    fr AS (
      SELECT user_id, day, vu,
             COUNT(*) OVER w AS n7,
             CAST(SUM(vu) OVER w AS BIGINT) AS s7
      FROM obs
      WINDOW w AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    interior AS (
      SELECT user_id, day, vu, s7,
             CAST(7 * vu - s7 AS BIGINT) AS d7,
             CAST(EXTRACT(dow FROM day) AS INT) AS dow
      FROM fr WHERE n7 = 7),
    seas AS (
      SELECT user_id, dow,
             CAST(SUM(d7) AS BIGINT) AS seas_num,
             CAST(COUNT(*) AS BIGINT) AS seas_cnt
      FROM interior GROUP BY user_id, dow)
    SELECT i.user_id, i.day, i.vu,
           i.s7 AS trend_x7,
           i.d7 AS detrended_x7,
           s.seas_num, s.seas_cnt,
           CAST(i.d7 * s.seas_cnt - s.seas_num AS BIGINT) AS resid_scaled
    FROM interior i
    JOIN seas s ON s.user_id = i.user_id AND s.dow = i.dow
    """,
    _SEC,
    "Additive seasonal decomposition, exact-integer edition: per "
    "user-day, the 7-day centered trend (kept as the x7 SUM), the "
    "detrended series d = 7v - trend, the day-of-week seasonal "
    "component as an exact RATIONAL (num/cnt — never divided, "
    "because truncating and flooring division DISAGREE on the "
    "negative values detrending produces), and the residual scaled "
    "by the seasonal denominator — multiplication only, so every "
    "engine agrees bit-for-bit. The trend/seasonal/residual triad "
    "behind anomaly baselines; one per-user frame window + one "
    "(user, dow) aggregation + one broadcastable join back.",
)
def win_seasonal_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = _daily_last_obs(load(spark, sf_dir, "events"))
    w7 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-3, 3)
    fr = obs.select(
        "user_id",
        "day",
        "vu",
        F.count(F.lit(1)).over(w7).alias("n7"),
        F.sum("vu").over(w7).alias("s7"),
    )
    interior = fr.filter(F.col("n7") == 7).select(
        "user_id",
        "day",
        "vu",
        "s7",
        (7 * F.col("vu") - F.col("s7")).alias("d7"),
        (F.dayofweek("day") - 1).cast("int").alias("dow"),
    )
    seas = interior.groupBy("user_id", "dow").agg(
        F.sum("d7").alias("seas_num"), F.count(F.lit(1)).alias("seas_cnt")
    )
    return interior.join(seas, ["user_id", "dow"]).select(
        "user_id",
        "day",
        "vu",
        F.col("s7").alias("trend_x7"),
        F.col("d7").alias("detrended_x7"),
        "seas_num",
        "seas_cnt",
        (F.col("d7") * F.col("seas_cnt") - F.col("seas_num")).alias(
            "resid_scaled"
        ),
    )


@declare(
    "win_bollinger",
    """
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x
      FROM events),
    f AS (
      SELECT user_id, event_id, x,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS s,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sq
      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
    SELECT user_id, event_id, x, n,
           CAST(n * x - s AS BIGINT) AS dev_xn,
           CAST(n * sq - s * s AS BIGINT) AS var_xnn,
           (n * x - s) * (n * x - s) > 4 * (n * sq - s * s)
             AS outside_band
    FROM f
    """,
    _SEC,
    "Bollinger-band breakout (10-event frame, k=2 sigma) per user — "
    "the volatility-band signal, flagged with ZERO floating point: "
    "(x - mean)^2 > k^2 var rearranges to the cross-multiplied "
    "integer comparison (n x - s)^2 > k^2 (n sq - s^2), so the flag "
    "is bit-exact on every engine where any sqrt- or division-based "
    "band would be one ulp from disagreeing. Emits the scaled "
    "deviation and variance numerators for downstream thresholds; "
    "one frame window on the per-user shuffle key.",
)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("x"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    f = v.select(
        "user_id",
        "event_id",
        "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sq"),
    )
    dev = F.col("n") * F.col("x") - F.col("s")
    var = F.col("n") * F.col("sq") - F.col("s") * F.col("s")
    return f.select(
        "user_id",
        "event_id",
        "x",
        "n",
        dev.cast("long").alias("dev_xn"),
        var.cast("long").alias("var_xnn"),
        (dev * dev > 4 * var).alias("outside_band"),
    )


@declare(
    "win_nth_value",
    """
    SELECT event_id, user_id,
           nth_value(event_type, 3) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS third_type
    FROM events
    """,
    _SEC,
    "nth_value window (the generalization first/last can't express): "
    "each event sees the user's THIRD event type so far — null until "
    "three exist — the n-th-touchpoint attribution primitive. "
    "Running frame so the value appears as soon as it is known; "
    "deterministic (unique ts, event_id) ordering.",
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.nth_value("event_type", 3).over(w).alias("third_type"),
    )


@declare(
    "win_time_to_event",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT c.event_id, c.user_id, p.ts AS purchase_ts,
             ROW_NUMBER() OVER (PARTITION BY c.event_id
                                ORDER BY p.ts ASC) AS rn
      FROM clicks c LEFT JOIN purchases p
        ON p.user_id = c.user_id AND p.ts >= c.ts)
    SELECT c.event_id, c.user_id,
           CASE WHEN j.purchase_ts IS NULL THEN NULL
                ELSE date_diff('second', c.ts, j.purchase_ts) END
             AS seconds_to_purchase,
           j.purchase_ts IS NOT NULL AS converted
    FROM clicks c
    JOIN j ON j.event_id = c.event_id AND j.rn = 1
    """,
    _SEC,
    "Time-to-event: every click matched forward to the user's next "
    "purchase with the conversion latency in exact seconds (NULL + "
    "converted=false when none follows) — the event-grain conversion "
    "signal funnels aggregate away, and the input to any "
    "time-to-convert distribution. The forward as-of composition "
    "(range-pruned equi-join + per-click top-1 window) is the same "
    "one-shuffle shape as join_asof, here through the generic "
    "joins.asof_join helper.",
)
def win_time_to_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.joins import asof_join

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    out = asof_join(
        clicks,
        purchases,
        by=["user_id"],
        left_key="event_id",
        direction="forward",
        take={"purchase_ts": "ts"},
    )
    return out.select(
        "event_id",
        "user_id",
        F.when(
            F.col("purchase_ts").isNull(), F.lit(None).cast("long")
        ).otherwise(
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("ts")
        ).alias("seconds_to_purchase"),
        F.col("purchase_ts").isNotNull().alias("converted"),
    )


@declare(
    "win_dwell_time",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts,
             LEAD(ts) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_ts
      FROM events)
    SELECT event_type,
           CAST(COUNT(next_ts) AS BIGINT) AS n_dwells,
           CAST(SUM(CAST(date_diff('second', ts, next_ts) AS BIGINT))
                AS BIGINT) AS total_dwell_sec
    FROM seq WHERE next_ts IS NOT NULL
    GROUP BY event_type
    """,
    _SEC,
    "Per-state dwell time from the event log (process mining's "
    "state-residence profile): each event holds its state until the "
    "user's next event, so dwell = lead(ts) − ts attributed to the "
    "CURRENT state — where the session totals win_sessionize "
    "reports can't say WHICH state users sit in. Per-user window "
    "with (ts, event_id) tie-break (retry-stable where a bare ts "
    "order is not); integer seconds; terminal events drop (no "
    "successor — counted by n_dwells vs raw counts).",
)
def win_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "ts",
        F.lead("ts").over(w).alias("next_ts"),
    ).filter(F.col("next_ts").isNotNull())
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_dwells"),
        F.sum(
            (F.unix_timestamp("next_ts") - F.unix_timestamp("ts")).cast("long")
        ).alias("total_dwell_sec"),
    )
