"""SURVEY.md §2.4 — aggregation operators.

Flagship query ``agg_groupby`` is the TPC-H-Q1-shaped pricing summary
(SURVEY.md §7 Phase 1). All money/float aggregates use the
decimal-exact ``dsum``/``davg`` helpers so Spark's partial-aggregation
order can never flip the oracle hash.

Scale notes (100 TB posture): every aggregate here is a hash
aggregate with map-side partial aggregation supplied by Spark
automatically; no query collects to the driver; group-by keys are
low-cardinality flags or well-distributed integer keys, so no skew
salting is needed. ``approx_*`` variants are the sketch path for
cardinalities where exact distinct would shuffle too much.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from configdrivendatapipeline_spark.partitioning import widen_narrow_scan
from configdrivendatapipeline_spark.queries import (
    DEC,
    VU,
    davg,
    declare,
    dsum,
    load,
    odavg,
    odsum,
    r2,
)

_SEC = "2.4"

# Keeps ~85% of lineitem (max shipdate 2001-11-04).
_Q1_CUTOFF = "2000-12-01"


@declare(
    "agg_groupby",
    f"""
    SELECT l_returnflag, l_linestatus,
           {odsum('l_quantity', 'sum_qty')},
           {odsum('l_extendedprice', 'sum_base_price')},
           {odsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {odsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {odavg('l_quantity', 'avg_qty')},
           {odavg('l_extendedprice', 'avg_price')},
           {odavg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    _SEC,
    "Pricing summary (TPC-H Q1 shape): hash group-by with partial aggregation.",
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyed widening: hash on columns the query already reads instead
    # of round-robin — skips the sort-before-repartition pass the
    # keyless exchange pays, the row→partition map is retry-
    # deterministic by construction (guide §2.5), and unlike keying
    # on l_orderkey the scan's ReadSchema stays pruned to the
    # measure columns (no extra I/O or shuffle bytes, guide §2.3).
    li = widen_narrow_scan(
        load(spark, sf_dir, "lineitem"),
        key=F.xxhash64("l_extendedprice", "l_quantity", "l_shipdate"),
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@declare(
    "agg_global",
    f"""
    SELECT COUNT(*) AS n_rows,
           {odsum('l_quantity', 'total_qty')},
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
           CAST(MIN(l_shipdate) AS DATE) AS first_ship,
           CAST(MAX(l_shipdate) AS DATE) AS last_ship
    FROM lineitem
    """,
    _SEC,
    "Ungrouped global aggregates in a single pass.",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity", "total_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").cast("date").alias("first_ship"),
        F.max("l_shipdate").cast("date").alias("last_ship"),
    )


@declare(
    "agg_having",
    """
    SELECT c_nationkey, COUNT(*) AS n_cust
    FROM customer
    GROUP BY c_nationkey
    HAVING COUNT(*) > 40
    """,
    _SEC,
    "Post-aggregation filter (HAVING).",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .filter(F.col("n_cust") > 40)
    )


@declare(
    "agg_count_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
    _SEC,
    "Exact distinct count (expand + two-phase aggregate in Spark).",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@declare(
    "agg_approx_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_rsd
    FROM lineitem
    GROUP BY l_returnflag
    """,
    _SEC,
    "Approximate distinct (HyperLogLog++) — the 100 TB-scale path "
    "where exact distinct would shuffle every key. The raw estimate "
    "is engine-specific, so the hash-checked output is the property "
    "the sketch must satisfy: |approx − exact| ≤ 2.5 × rsd × exact "
    "(HLL++ at rsd=0.02 stays well inside that on any group here). "
    "An out-of-band estimate flips within_rsd to false and fails the "
    "hash — a real error-bound check, not a rubber stamp.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", rsd=0.02)
                - F.count_distinct("l_partkey")
            )
            <= 0.05 * F.count_distinct("l_partkey")
        ).alias("within_rsd"),
    )


@declare(
    "agg_stats",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,6)))) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6)))) AS BIGINT) AS DOUBLE) AS sxx,
             CAST(CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6)))) AS BIGINT) AS DOUBLE) AS syy,
             CAST(CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6)))) AS BIGINT) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           CAST(ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 2) AS DOUBLE) + 0.0 AS sd_qty,
           CAST(ROUND((sxx - sx * sx / n) / (n - 1), 2) AS DOUBLE) + 0.0 AS var_qty,
           CAST(ROUND((sxy - sx * sy / n)
                      / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 2)
                AS DOUBLE) + 0.0 AS corr_qty_price,
           CAST(ROUND((sxy - sx * sy / n) / (n - 1), 2) AS DOUBLE) + 0.0 AS cov_qty_price
    FROM m
    """,
    _SEC,
    "Statistical aggregates: stddev / variance / corr / covar, derived "
    "from decimal-exact moment sums (Σx, Σx², Σy, Σy², Σxy floored to "
    "exact integers then cast to double) so both engines feed the same "
    "bit-identical doubles through one identical IEEE arithmetic chain "
    "— summation order can never flip the hash (built-in covar_samp / "
    "corr sum doubles order-dependently and did).",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    q6 = F.col("l_quantity").cast(DEC)
    p6 = F.col("l_extendedprice").cast(DEC)

    def mom(c: Column, alias: str) -> Column:
        # Exact decimal sum → floor → exact bigint → double: identical
        # on Spark and DuckDB (floor of an exact decimal is exact; the
        # long→double conversion is correctly-rounded IEEE on both).
        return F.floor(F.sum(c)).cast("long").cast("double").alias(alias)

    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        mom(q6, "sx"),
        mom(q6 * q6, "sxx"),
        mom(p6, "sy"),
        mom(p6 * p6, "syy"),
        mom(q6 * p6, "sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var_num = sxx - sx * sx / n
    cov_num = sxy - sx * sy / n
    return m.select(
        "l_returnflag",
        r2(F.sqrt(var_num / (n - 1)), "sd_qty"),
        r2(var_num / (n - 1), "var_qty"),
        r2(cov_num / F.sqrt(var_num * (syy - sy * sy / n)), "corr_qty_price"),
        r2(cov_num / (n - 1), "cov_qty_price"),
    )


@declare(
    "agg_percentile",
    """
    SELECT l_returnflag,
           CAST(ROUND(quantile_cont(l_quantity, 0.5), 2) AS DOUBLE) AS p50_qty,
           CAST(ROUND(quantile_cont(l_quantity, 0.9), 2) AS DOUBLE) AS p90_qty,
           CAST(ROUND(median(l_quantity), 2) AS DOUBLE) AS med_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    _SEC,
    "Exact (interpolated) percentile and median.",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 2).cast("double").alias("p50_qty"),
        F.round(F.percentile("l_quantity", 0.9), 2).cast("double").alias("p90_qty"),
        F.round(F.median("l_quantity"), 2).cast("double").alias("med_qty"),
    )


@declare(
    "agg_approx_percentile",
    """
    SELECT l_returnflag,
           CAST(FLOOR(quantile_cont(l_extendedprice, 0.5)) AS BIGINT)
             AS p50_usd,
           TRUE AS within_band
    FROM lineitem
    GROUP BY l_returnflag
    """,
    _SEC,
    "Approximate percentile sketch (KLL/GK-style, accuracy=1000) — "
    "the scale path for wide groups. The sketch value is "
    "engine-specific, so the hash-checked output is its rank-error "
    "contract: the estimate must land between the exact 45th and "
    "55th percentiles (accuracy=1000 bounds rank error at ~0.1% — "
    "a 5-point percentile band is ~50× slack). A drifting sketch "
    "flips within_band and fails the hash. The exact-median "
    "companion is FLOORed to whole units: Spark and DuckDB "
    "interpolate with differently-ordered float ops (~1e-10 apart), "
    "which can straddle a ROUND(…,2) cent boundary.",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.floor(F.percentile("l_extendedprice", 0.5)).cast("long").alias("p50_usd"),
        F.approx_percentile("l_extendedprice", 0.5, 1000)
        .between(
            F.percentile("l_extendedprice", 0.45),
            F.percentile("l_extendedprice", 0.55),
        )
        .alias("within_band"),
    )


@declare(
    "agg_first_last",
    """
    SELECT event_type,
           arg_min(event_id, ts) AS first_event,
           arg_max(event_id, ts) AS last_event
    FROM events
    GROUP BY event_type
    """,
    _SEC,
    "Deterministic first/last per group via min_by/max_by on a unique "
    "order key (never unordered first()).",
)
def agg_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.min_by("event_id", "ts").alias("first_event"),
        F.max_by("event_id", "ts").alias("last_event"),
    )


@declare(
    "agg_collect_set",
    """
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments
    FROM customer
    GROUP BY c_nationkey
    """,
    _SEC,
    "Group values → deduplicated, canonically sorted array "
    "(emitted pipe-joined: array-typed cells break pandas-side "
    "canonicalizers, so the hashable projection is a string).",
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.concat_ws("|", F.array_sort(F.collect_set("c_mktsegment"))).alias("segments")
    )


@declare(
    "agg_collect_list",
    """
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_name)), '|') AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
    _SEC,
    "Group values → array, sorted for a deterministic hash "
    "(pipe-joined string output — see agg_collect_set).",
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load(spark, sf_dir, "nation")
    return nat.groupBy("n_regionkey").agg(
        F.concat_ws("|", F.array_sort(F.collect_list("n_name"))).alias("nations")
    )


@declare(
    "agg_rollup",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {odsum('o_totalprice', 'revenue')}
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    _SEC,
    "ROLLUP hierarchy (status → status+priority → grand total).",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "revenue"),
    )


@declare(
    "agg_cube",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {odsum('o_totalprice', 'revenue')}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    _SEC,
    "CUBE over two dimensions.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "revenue"),
    )


@declare(
    "agg_grouping_sets",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {odsum('o_totalprice', 'revenue')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    _SEC,
    "Explicit grouping sets.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    orders = load(spark, sf_dir, "orders")
    view = f"_gs_orders_{uuid.uuid4().hex[:8]}"
    orders.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS revenue
        FROM {view}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@declare(
    "agg_pivot",
    """
    SELECT l_returnflag,
           CAST(ROUND(SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS "F",
           CAST(ROUND(SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS "O"
    FROM lineitem
    GROUP BY l_returnflag
    """,
    _SEC,
    "Pivot rows→columns (ADF 'Pivot'); explicit value list avoids an "
    "extra distinct-values job at scale.",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum(F.col("l_quantity").cast(DEC)), 2).cast("double"))
    )


@declare(
    "agg_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
    _SEC,
    "Unpivot columns→rows (ADF 'Unpivot').",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "value",
    )


@declare(
    "agg_conditional",
    f"""
    SELECT l_returnflag,
           COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted,
           {odsum("CASE WHEN l_tax > 0 THEN l_extendedprice END", 'taxed_revenue')}
    FROM lineitem
    GROUP BY l_returnflag
    """,
    _SEC,
    "Filtered/conditional aggregates (count_if, sum of CASE).",
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        dsum(
            F.when(F.col("l_tax") > 0, F.col("l_extendedprice")),
            "taxed_revenue",
        ),
    )


@declare(
    "agg_mode",
    """
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderstatus
        ORDER BY n DESC, o_orderpriority) AS rn
      FROM c)
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           CAST(n AS BIGINT) AS n
    FROM r WHERE rn = 1
    """,
    _SEC,
    "Deterministic per-group mode (most frequent value, "
    "lexicographic tie-break) via count + top-1 window — built-in "
    "mode() leaves ties unspecified, which is exactly the "
    "nondeterminism a retry-safe engine can't ship. Two shuffles "
    "(count, per-group top-1 over the already-tiny count frame).",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").cast("long").alias("n"),
        )
    )


@declare(
    "agg_sketch_merge",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_custs,
           CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS BIGINT)
             AS n_partials,
           TRUE AS within_band
    FROM orders
    GROUP BY o_orderpriority
    """,
    _SEC,
    "Re-aggregatable distinct sketches — the INCREMENTAL 100 TB "
    "pattern: per-(priority, month) HLL sketches built once (in a "
    "real lake, persisted at ingest), then hll_union_agg merges "
    "partials into any coarser rollup WITHOUT rescanning raw data — "
    "approx_count_distinct can't do that; its estimate is terminal. "
    "The sketch bytes are engine-private, so the hash-checked output "
    "is the property the merge must satisfy: the merged estimate "
    "within 5% of the exact distinct (Datasketches HLL at "
    "lgConfigK=12 is ~1.6% rsd), plus the partial count proving the "
    "merge really fanned in from month-grain sketches.",
)
def agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    partials = o.groupBy(
        "o_orderpriority", F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sk"))
    merged = partials.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_partials"),
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("exact_custs")
    )
    return exact.join(merged, "o_orderpriority").select(
        "o_orderpriority",
        "exact_custs",
        "n_partials",
        (
            F.abs(F.col("est") - F.col("exact_custs"))
            <= 0.05 * F.col("exact_custs")
        ).alias("within_band"),
    )


@declare(
    "agg_trend",
    """
    WITH pts AS (
      SELECT user_id,
             CAST(datediff('day', TIMESTAMP '2024-01-01 00:00:00', ts) AS BIGINT) AS x,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS y
      FROM events),
    s AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM pts GROUP BY user_id)
    SELECT user_id, n,
           CAST((CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END)
                * ((abs(n * sxy - sx * sy) * 1000000)
                   // (n * sxx - sx * sx))
             AS BIGINT) AS slope_micro_per_day
    FROM s
    WHERE n >= 2 AND n * sxx - sx * sx <> 0
    """,
    _SEC,
    "Per-group linear trend (least-squares slope) in EXACT integer "
    "arithmetic: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) over day-index "
    "x and micro-unit y, emitted as micro-units/day via integer div. "
    "The built-in regr_slope sums doubles order-dependently — a "
    "retried partition can flip the last bit; integer sums cannot. "
    "Slopes can be NEGATIVE (declining trend), so the quotient is "
    "taken on abs(numerator) (denominator nΣx²−(Σx)² is > 0 by "
    "Cauchy–Schwarz + the <> 0 filter) and the sign reapplied via "
    "CASE — the agg_ab_lift pattern. Measured today both Spark div "
    "and DuckDB integer // truncate toward zero (pinned in "
    "tests/test_money_sum_magnitude.py), but the sign/abs form "
    "equals trunc BY CONSTRUCTION, so non-exact negative slopes "
    "agree regardless of either engine's negative-division "
    "convention. One partial-combine aggregation per group, "
    "map-side products.",
)
def agg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.datediff(F.col("ts"), F.lit("2024-01-01").cast("timestamp"))
        .cast("long")
        .alias("x"),
        F.expr(VU).alias("y"),
    )
    # 128-bit moment sums (see skew_stats): Σxy over a heavy user's
    # 1e6 events at day-index × micro-value magnitudes passes 2^63,
    # and n·Σxy passes it even sooner; the slope itself fits BIGINT
    s = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    return s.filter(
        (F.col("n") >= 2) & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0)
    ).select(
        "user_id",
        "n",
        F.expr(
            "CAST((CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END)"
            " * ((abs(n * sxy - sx * sy) * 1000000)"
            "    div (n * sxx - sx * sx)) AS BIGINT)"
        ).alias("slope_micro_per_day"),
    )


@declare(
    "agg_histogram",
    """
    WITH b AS (
      SELECT CASE WHEN l_extendedprice >= 110000 THEN 10
                  ELSE CAST(FLOOR((l_extendedprice - 0) / 11000) AS BIGINT)
             END AS bin
      FROM lineitem)
    SELECT bin,
           CAST(0 + bin * 11000 AS DOUBLE) AS bin_lo,
           COUNT(*) AS n_rows
    FROM b GROUP BY bin
    """,
    _SEC,
    "Equi-width histogram (11 bins over extended price, open-ended "
    "top bin): the profiling primitive behind range-partition sizing "
    "and drift baselines. Bin assignment is one map-side floor-div "
    "expression feeding a partial-combine count — a histogram at "
    "100 TB costs one scan, same as any aggregate.",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    width, lo, top = 11000, 0, 110000
    bin_c = F.when(F.col("l_extendedprice") >= top, F.lit(10).cast("long")).otherwise(
        F.floor((F.col("l_extendedprice") - lo) / width).cast("long")
    )
    return (
        li.select(bin_c.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * width).cast("double").alias("bin_lo"),
            "n_rows",
        )
    )


@declare(
    "agg_weighted_avg",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           (CAST(SUM(CAST(l_quantity AS BIGINT) *
                     CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT))
             // CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
             AS wavg_price_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
    _SEC,
    "Quantity-weighted average price in EXACT integer cents: "
    "Σ(qty·cents) div Σqty — both sums are map-side partial-combined "
    "BIGINTs, so the weighted mean is identical on every partition "
    "order and retry, where a double-weighted avg() drifts in the "
    "last bits. The unit-economics aggregate every pricing dashboard "
    "runs.",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    return li.groupBy("l_returnflag").agg(
        F.sum("qty").alias("total_qty"),
        F.expr("sum(qty * cents) div sum(qty)").alias("wavg_price_cents"),
    )


@declare(
    "agg_arg_extrema",
    """
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
      FROM orders)
    SELECT a.o_orderpriority,
           a.o_orderkey AS max_price_order,
           b.o_orderkey AS min_price_order
    FROM (SELECT * FROM ranked WHERE rmax = 1) a
    JOIN (SELECT * FROM ranked WHERE rmin = 1) b USING (o_orderpriority)
    """,
    _SEC,
    "Argument extrema (max_by / min_by): WHICH order carries each "
    "priority's highest and lowest price — one aggregation instead "
    "of the window-and-filter dance, with an EXPLICIT composite "
    "tie-break (struct(price, key)): bare max_by leaves ties "
    "unspecified, the same nondeterminism trap as mode(). The "
    "oracle states the semantics via the ranked formulation.",
)
def agg_arg_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr(
            "max_by(o_orderkey, struct(o_totalprice, o_orderkey))"
        ).alias("max_price_order"),
        F.expr(
            "min_by(o_orderkey, struct(o_totalprice, o_orderkey))"
        ).alias("min_price_order"),
    )


@declare(
    "agg_bitmap_distinct",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs
    FROM orders
    GROUP BY o_orderpriority
    """,
    _SEC,
    "EXACT distinct via bitmap aggregation (bitmap_bucket_number / "
    "bitmap_bit_position / bitmap_construct_agg / bitmap_count): "
    "dense-ish integer keys compress into fixed 4KB bucket bitmaps "
    "that OR-merge map-side, so the shuffle carries bitmaps instead "
    "of exploding one row per (group, key) the way expand-distinct "
    "does — exactness of HLL-free counting with sketch-like shuffle "
    "volume. The oracle is COUNT(DISTINCT): equal output proves the "
    "bitmap path IS exact, not approximate.",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    per_bucket = (
        o.select(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("cnt"))
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.sum("cnt").alias("n_custs")
    )


@declare(
    "agg_cohort_matrix",
    """
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id,
             CAST(date_trunc('week', e.ts) AS DATE) AS act_week
      FROM events e),
    j AS (
      SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS BIGINT)
               AS weeks_since,
             a.user_id
      FROM activity a JOIN firsts f ON f.user_id = a.user_id),
    m AS (
      SELECT cohort_week, weeks_since,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
      FROM j GROUP BY cohort_week, weeks_since),
    sizes AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY cohort_week)
    SELECT m.cohort_week, m.weeks_since, m.n_active, s.cohort_size,
           (m.n_active * 1000000) // s.cohort_size AS retention_micro
    FROM m JOIN sizes s ON s.cohort_week = m.cohort_week
    """,
    _SEC,
    "Cohort retention matrix: users grouped by first-activity week, "
    "each later week reporting how many of that cohort were active "
    "and the retention share in exact integer micro-units — the "
    "product-analytics table behind every retention curve (the "
    "scalar day-7 rate in win_retention is one cell of this). Two "
    "aggregations + one broadcastable cohort-size join; weeks-since "
    "is exact integer day arithmetic on Monday-truncated weeks, "
    "identical in both engines.",
)
def agg_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("act_week")
    ).distinct()
    j = activity.join(firsts, "user_id").select(
        "cohort_week",
        F.expr("CAST(datediff(act_week, cohort_week) div 7 AS BIGINT)").alias(
            "weeks_since"
        ),
        "user_id",
    )
    m = j.groupBy("cohort_week", "weeks_since").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return m.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "weeks_since",
        "n_active",
        "cohort_size",
        F.expr("(n_active * 1000000) div cohort_size").alias("retention_micro"),
    )


def _ranked_cents(
    spark: SparkSession, sf_dir: str, rank_cols: Callable[[Column], list[Column]]
) -> DataFrame:
    """``(c_nationkey, cents, *rank_cols(rank))`` over customer balances:
    cents shifted positive by +1000.00, ``rank`` the per-nation
    ascending row number with ties broken by ``c_custkey``."""
    from pyspark.sql import Window

    v = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        (F.expr("CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)") + 100000).alias(
            "cents"
        ),
        "c_custkey",
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "c_custkey")
    return v.select("c_nationkey", "cents", *rank_cols(F.row_number().over(w)))


@declare(
    "agg_gini",
    """
    WITH v AS (
      SELECT c_nationkey,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 100000 AS cents,
             c_custkey
      FROM customer),
    r AS (
      SELECT c_nationkey, cents,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY cents, c_custkey) AS rnk
      FROM v),
    s AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total,
             SUM(CAST(rnk AS HUGEINT) * cents) AS weighted
      FROM r GROUP BY c_nationkey)
    SELECT c_nationkey, n, total,
           CAST((2000000 * weighted) // (CAST(n AS HUGEINT) * total)
             - (1000000 * (n + 1)) // n AS BIGINT) AS gini_micro
    FROM s
    """,
    _SEC,
    "Gini concentration coefficient of account balances per nation — "
    "the inequality/concentration metric behind fairness audits and "
    "whale-detection (0 = uniform, ->1 = one account holds all). "
    "Exact integer rank-weighted form G = 2*sum(i*x_i)/(n*sum(x)) - "
    "(n+1)/n in micro-units: one rank window per nation + one "
    "aggregation; balances are shifted positive (+1000.00) so the "
    "standard formula's non-negativity precondition holds and both "
    "engines' integer divisions agree. Ties rank deterministically "
    "by custkey.",
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ranked_cents(spark, sf_dir, lambda rnk: [rnk.cast("long").alias("rnk")])
    # 128-bit rank-weighted sum: Σ rnk·cents reaches ~1e25 at 1e9
    # accounts per partition (rnk up to n TIMES cents), far past
    # BIGINT — the sum itself must be decimal, not just the ratio.
    # n·total and 2e6·weighted widen the same way; gini fits BIGINT.
    s = r.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total"),
        F.sum(F.expr("CAST(rnk AS DECIMAL(38,0)) * cents")).alias("weighted"),
    )
    return s.select(
        "c_nationkey",
        "n",
        "total",
        F.expr(
            "CAST((2000000 * weighted) div (CAST(n AS DECIMAL(38,0)) * total)"
            " - (1000000 * (n + 1)) div n AS BIGINT)"
        ).alias("gini_micro"),
    )


@declare(
    "agg_transition_matrix",
    """
    WITH s AS (
      SELECT user_id, event_type, ts,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    t AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type),
    tot AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
      FROM t GROUP BY from_type)
    SELECT t.from_type, t.to_type, t.n,
           (t.n * 1000000) // tot.row_total AS p_micro
    FROM t JOIN tot ON tot.from_type = t.from_type
    """,
    _SEC,
    "Event-flow transition matrix: P(next event type | current) per "
    "user stream in exact integer micro-units — the Markov view of "
    "product flows (where do users go after a click?) that funnels "
    "only show one path of. One LEAD window per user + one "
    "aggregation over the (from, to) pairs + a broadcastable "
    "row-total join; k² output for k event types regardless of "
    "corpus size.",
)
def agg_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    t = s.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = t.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return t.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.expr("(n * 1000000) div row_total").alias("p_micro"),
    )


@declare(
    "agg_twap",
    """
    WITH s AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vu,
             date_diff('second', ts,
               LEAD(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts, event_id)) AS dur_s
      FROM events),
    h AS (SELECT user_id, day, vu, dur_s FROM s WHERE dur_s IS NOT NULL),
    g AS (
      SELECT user_id, day,
             SUM(CAST(vu AS HUGEINT) * dur_s) AS vt,
             CAST(SUM(dur_s) AS BIGINT) AS t
      FROM h GROUP BY user_id, day)
    SELECT user_id, day, t AS held_seconds,
           CAST(vt // t AS BIGINT) AS twap_micro
    FROM g WHERE t > 0
    """,
    _SEC,
    "Time-weighted average value (TWAP) per user-day: each "
    "observation weighted by how long it was the current value "
    "(until the next event), in exact integer micro-unit x second "
    "arithmetic — the averaging financial and sensor analytics need "
    "where the plain mean over-weights bursts of rapid updates. One "
    "LEAD window sharing the (user, day) aggregation's shuffle key; "
    "the last observation of each day (no successor) carries no "
    "duration, the standard right-open convention.",
)
def agg_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        day.alias("day"),
        F.expr(VU).alias("vu"),
        (
            F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")
        ).alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull())
    # 128-bit value·time sum: micro-value × held-seconds is ~1e12 per
    # row, so a day of rapid updates wraps the BIGINT Σ long before
    # the TWAP itself (which is value-scaled and always fits)
    g = s.groupBy("user_id", "day").agg(
        F.sum(F.expr("CAST(vu AS DECIMAL(38,0)) * dur_s")).alias("vt"),
        F.sum("dur_s").alias("t"),
    )
    return g.filter(F.col("t") > 0).select(
        "user_id",
        "day",
        F.col("t").alias("held_seconds"),
        F.expr("CAST(vt div t AS BIGINT)").alias("twap_micro"),
    )


@declare(
    "agg_autocorr",
    """
    WITH s AS (
      SELECT user_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x,
             LEAD(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS y
      FROM events),
    p AS (SELECT user_id, x, y FROM s WHERE y IS NOT NULL),
    g AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM p GROUP BY user_id)
    SELECT user_id, n,
           CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
                THEN NULL
                ELSE ROUND(
                  CAST(n * sxy - sx * sy AS DOUBLE) /
                  SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                       * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0
           END AS autocorr
    FROM g
    """,
    _SEC,
    "Lag-1 Pearson autocorrelation of each user's value stream — the "
    "is-this-signal-persistent-or-noise diagnostic behind anomaly "
    "baselines and forecasting readiness. Every sum is an exact "
    "BIGINT over integer cents (all magnitudes < 2^53, so the "
    "double conversions in the final closed-form r are bit-identical "
    "across engines; sqrt is IEEE correctly-rounded); zero-variance "
    "streams yield NULL rather than a 0/0. One LEAD window + one "
    "aggregation per user.",
)
def agg_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
    s = ev.select(
        "user_id", x.alias("x"), F.lead(x).over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    # 128-bit moment sums: cents-squared terms (~1e14 each) wrap the
    # BIGINT Σ within ~1e5 events of one user; the closed-form r is
    # computed from the same true integers either way (identical
    # IEEE doubles on both engines at any magnitude)
    g = s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    return g.select(
        "user_id",
        "n",
        F.expr(
            "CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 "
            "THEN NULL "
            "ELSE ROUND(CAST(n * sxy - sx * sy AS DOUBLE) / "
            "SQRT(CAST(n * sxx - sx * sx AS DOUBLE) "
            "     * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0 END"
        ).alias("autocorr"),
    )


@declare(
    "agg_xyz_class",
    """
    WITH m AS (
      SELECT l_partkey,
             date_trunc('month', l_shipdate) AS mth,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY l_partkey, date_trunc('month', l_shipdate)),
    s AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_months,
             CAST(SUM(q) AS HUGEINT) AS sq,
             SUM(CAST(q AS HUGEINT) * q) AS sqq
      FROM m GROUP BY l_partkey)
    SELECT l_partkey, n_months, CAST(sq AS BIGINT) AS total_qty,
           CAST((n_months * sqq - sq * sq) // n_months AS BIGINT) AS demand_ss,
           CASE WHEN (n_months * sqq - sq * sq) * 4 <= sq * sq THEN 'X'
                WHEN (n_months * sqq - sq * sq) <= sq * sq THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM s WHERE sq > 0
    """,
    _SEC,
    "XYZ demand-variability classification per part: monthly demand "
    "series scored by squared coefficient of variation — X (steady, "
    "CoV <= 0.5), Y (variable, <= 1.0), Z (erratic) — the "
    "forecastability partner of Pareto/ABC in inventory analytics. "
    "The CoV thresholds are CROSS-MULTIPLIED integer comparisons "
    "(var_num*4 <= sum^2 etc.) taken on the un-cast 128-bit "
    "intermediates, so classification is exact on every engine — no "
    "division, no sqrt, no float variance. The emitted spread "
    "column is demand_ss = (nΣq²−(Σq)²) div n — the centered sum "
    "of squares Σ(q−mean)² floored — because the raw variance "
    "numerator nΣq²−(Σq)² itself passes 2^63 at lake-scale part "
    "volumes (a BIGINT cast would silently NULL in Spark and raise "
    "in DuckDB, r12 ADVICE). demand_ss ≤ Σq² ≤ 120 months × "
    "(1e8)² = 1.2e18 < 2^63 under the same defended envelope, and "
    "it is ≥ 0 by Cauchy–Schwarz so Spark div (truncate) and "
    "DuckDB // (floor) agree exactly. Two aggregations, both "
    "partial-combining on their keys.",
)
def agg_xyz_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    m = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("mth")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
    # 128-bit moment sums: sq2 at lake-scale part volumes passes
    # 2^63 (sq ~ 1e10 gives sq*sq ~ 1e20); the cross-multiplied
    # class comparisons stay exact in decimal on both engines
    s = m.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum(F.expr("CAST(q AS DECIMAL(38,0))")).alias("sq"),
        F.sum(F.expr("CAST(q AS DECIMAL(38,0)) * q")).alias("sqq"),
    )
    var_num = F.col("n_months") * F.col("sqq") - F.col("sq") * F.col("sq")
    return s.filter(F.col("sq") > 0).select(
        "l_partkey",
        "n_months",
        F.col("sq").cast("long").alias("total_qty"),
        # var_num itself passes 2^63 at lake scale; emit the centered
        # sum of squares (÷ n_months, ≥ 0 so div == floor-//) which
        # provably fits BIGINT under the defended magnitude envelope
        F.expr(
            "CAST((n_months * sqq - sq * sq) div n_months AS BIGINT)"
        ).alias("demand_ss"),
        F.when(var_num * 4 <= F.col("sq") * F.col("sq"), "X")
        .when(var_num <= F.col("sq") * F.col("sq"), "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )


@declare(
    "agg_cycle_time",
    """
    WITH j AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(MIN(days) AS BIGINT) AS min_days,
           CAST(MAX(days) AS BIGINT) AS max_days,
           (CAST(SUM(days) AS BIGINT) * 2000000 + COUNT(*))
             // (2 * COUNT(*)) AS avg_days_micro,
           CAST(quantile_cont(days, 0.5) * 2 AS BIGINT) AS p50_days_x2
    FROM j GROUP BY o_orderpriority
    """,
    _SEC,
    "Order-to-ship cycle time per priority class: line-level lead "
    "times (exact integer day differences) rolled into min/max, a "
    "half-up micro-unit mean, and the exact interpolated median "
    "(doubled so the only possible fraction, .5, stays integral) — "
    "the "
    "fulfillment SLA table an operations review reads, and the shape "
    "every duration-between-two-fact-dates metric takes. One "
    "fact-fact equi-join (AQE-planned) + one aggregation; "
    "the doubled-median trick sidesteps the interpolated-vs-discrete "
    "median mismatch entirely.",
)
def agg_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("long").alias("days"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("days").alias("min_days"),
        F.max("days").alias("max_days"),
        F.expr(
            "(CAST(SUM(days) AS BIGINT) * 2000000 + COUNT(*))"
            " div (2 * COUNT(*))"
        ).alias("avg_days_micro"),
        F.expr("CAST(percentile(days, 0.5, 1) * 2 AS BIGINT)").alias(
            "p50_days_x2"
        ),
    )


@declare(
    "agg_basket_pairs",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 100 AS item
      FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM items),
    cnt AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
            FROM items GROUP BY item),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING COUNT(*) >= 20)
    SELECT p.item_a, p.item_b, p.n_pair,
           (p.n_pair * 1000000) // n.n_orders AS support_micro,
           CAST((CAST(p.n_pair AS HUGEINT) * n.n_orders * 1000000)
             // (CAST(ca.n_item AS HUGEINT) * cb.n_item) AS BIGINT)
             AS lift_micro
    FROM pairs p
    JOIN cnt ca ON ca.item = p.item_a
    JOIN cnt cb ON cb.item = p.item_b
    CROSS JOIN n
    """,
    _SEC,
    "Market-basket affinity: item pairs co-occurring in the same "
    "order with support and LIFT in exact integer micro-units — the "
    "association-rule table behind bought-together recommendations "
    "(lift > 1e6 means the pair co-occurs more than independence "
    "predicts). Items are coarsened part classes so pair counts are "
    "meaningful at fixture scale; the self-join is keyed on the "
    "order (bounded by basket size squared, never corpus-shaped) "
    "and a min-support HAVING prunes the tail before the lift join.",
)
def agg_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("item")
    ).distinct()
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    cnt = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select(F.col("l_orderkey"), F.col("item").alias("item_a"))
    b = items.select(F.col("l_orderkey").alias("ok_b"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, (a.l_orderkey == b.ok_b) & (F.col("item_a") < F.col("item_b")))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 20)
    )
    return (
        pairs.join(
            F.broadcast(cnt.select(F.col("item").alias("item_a"),
                                   F.col("n_item").alias("na"))),
            "item_a",
        )
        .join(
            F.broadcast(cnt.select(F.col("item").alias("item_b"),
                                   F.col("n_item").alias("nb"))),
            "item_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "n_pair",
            F.expr("(n_pair * 1000000) div n_orders").alias("support_micro"),
            # 128-bit intermediates: n_pair·n_orders·1e6 and na·nb
            # both wrap BIGINT at lake-scale basket counts (see
            # skew_stats); the lift ratio itself fits
            F.expr(
                "CAST((CAST(n_pair AS DECIMAL(38,0)) * n_orders * 1000000)"
                " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
            ).alias("lift_micro"),
        )
    )


@declare(
    "agg_lorenz",
    """
    WITH v AS (
      SELECT c_nationkey,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 100000 AS cents,
             c_custkey
      FROM customer),
    r AS (
      SELECT c_nationkey, cents,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY cents, c_custkey) AS rnk,
             COUNT(*) OVER (PARTITION BY c_nationkey) AS n
      FROM v),
    d AS (
      SELECT c_nationkey,
             CAST((rnk * 10 - 1) // n + 1 AS BIGINT) AS decile,
             cents
      FROM r),
    g AS (
      SELECT c_nationkey, decile,
             CAST(COUNT(*) AS BIGINT) AS n_accounts,
             CAST(SUM(cents) AS BIGINT) AS decile_cents
      FROM d GROUP BY c_nationkey, decile),
    t AS (
      SELECT c_nationkey, CAST(SUM(decile_cents) AS BIGINT) AS total_cents
      FROM g GROUP BY c_nationkey)
    SELECT g.c_nationkey, g.decile, g.n_accounts,
           CAST((CAST(g.decile_cents AS HUGEINT) * 1000000)
                // t.total_cents AS BIGINT) AS share_micro,
           CAST(SUM(CAST(g.decile_cents AS HUGEINT) * 1000000
                    // t.total_cents) OVER (
             PARTITION BY g.c_nationkey ORDER BY g.decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_share_micro
    FROM g JOIN t ON t.c_nationkey = g.c_nationkey
    """,
    _SEC,
    "Lorenz-curve deciles per nation — the distribution picture the "
    "Gini coefficient (agg_gini) compresses to one number: each "
    "balance decile's share of total balance plus the cumulative "
    "curve, all exact integer micro-units (deciles from integer rank "
    "arithmetic floor((10r-1)/n)+1, shares by integer division — "
    "the per-nation window never goes global). Shifted positive like "
    "agg_gini so shares are well-defined.",
)
def agg_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    wp = Window.partitionBy("c_nationkey")
    r = _ranked_cents(
        spark,
        sf_dir,
        lambda rnk: [rnk.alias("rnk"), F.count(F.lit(1)).over(wp).alias("n")],
    )
    d = r.select(
        "c_nationkey",
        F.expr("CAST((rnk * 10 - 1) div n + 1 AS BIGINT)").alias("decile"),
        "cents",
    )
    g = d.groupBy("c_nationkey", "decile").agg(
        F.count(F.lit(1)).alias("n_accounts"),
        F.sum("cents").alias("decile_cents"),
    )
    t = g.groupBy("c_nationkey").agg(F.sum("decile_cents").alias("total_cents"))
    j = g.join(t, "c_nationkey").select(
        "c_nationkey",
        "decile",
        "n_accounts",
        # 128-bit intermediate: decile_cents·1e6 wraps BIGINT once a
        # partition's money total passes ~9e12 cents ($90B) — routine
        # for a 100-TB revenue table; the share itself is <= 1e6
        F.expr(
            "CAST((CAST(decile_cents AS DECIMAL(38,0)) * 1000000)"
            " div total_cents AS BIGINT)"
        ).alias("share_micro"),
    )
    wc = (
        Window.partitionBy("c_nationkey")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "c_nationkey",
        "decile",
        "n_accounts",
        "share_micro",
        F.sum("share_micro").over(wc).cast("long").alias("cum_share_micro"),
    )


@declare(
    "agg_rfm",
    """
    WITH base AS (
      SELECT o_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 100)
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey),
    anchor AS (SELECT MAX(last_order) AS d0 FROM base),
    rfm AS (
      SELECT b.o_custkey,
             CAST(date_diff('day', b.last_order, a.d0) AS BIGINT) AS recency_days,
             b.frequency, b.monetary_cents
      FROM base b CROSS JOIN anchor a),
    ranked AS (
      SELECT o_custkey, recency_days, frequency, monetary_cents,
             ROW_NUMBER() OVER (ORDER BY recency_days, o_custkey) AS rr,
             ROW_NUMBER() OVER (ORDER BY frequency DESC, o_custkey) AS rf,
             ROW_NUMBER() OVER (ORDER BY monetary_cents DESC, o_custkey) AS rm,
             COUNT(*) OVER () AS n
      FROM rfm)
    SELECT o_custkey, recency_days, frequency, monetary_cents,
           CAST((rr * 5 - 1) // n + 1 AS BIGINT) AS r_score,
           CAST((rf * 5 - 1) // n + 1 AS BIGINT) AS f_score,
           CAST((rm * 5 - 1) // n + 1 AS BIGINT) AS m_score,
           CAST(((rr * 5 - 1) // n + 1) * 100
                + ((rf * 5 - 1) // n + 1) * 10
                + ((rm * 5 - 1) // n + 1) AS BIGINT) AS rfm_segment
    FROM ranked
    """,
    _SEC,
    "RFM segmentation — the classic CRM model: per customer, days "
    "since last order (vs the corpus anchor date), order count, and "
    "decimal-exact spend, each quintile-scored 1-5 by integer rank "
    "arithmetic (best = 1 for recency, = high for F/M via descending "
    "ranks) and packed into the familiar three-digit segment code. "
    "NOTE the global ranking windows: fine for a customer dimension "
    "(bounded, dimension-sized) — for a corpus-scaled entity use the "
    "range-repartition rewrite win_ntile demonstrates.",
)
def agg_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.expr(
            "CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 100)"
            " AS BIGINT)"
        ).alias("monetary_cents"),
    )
    anchor = base.agg(F.max("last_order").alias("d0"))
    rfm = base.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("d0", "last_order").cast("long").alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    wr = Window.orderBy("recency_days", "o_custkey")
    wf = Window.orderBy(F.col("frequency").desc(), "o_custkey")
    wm = Window.orderBy(F.col("monetary_cents").desc(), "o_custkey")
    ranked = rfm.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.row_number().over(wr).alias("rr"),
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wm).alias("rm"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    score = lambda c: F.expr(f"CAST(({c} * 5 - 1) div n + 1 AS BIGINT)")  # noqa: E731
    return ranked.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        score("rr").alias("r_score"),
        score("rf").alias("f_score"),
        score("rm").alias("m_score"),
        (score("rr") * 100 + score("rf") * 10 + score("rm"))
        .cast("long")
        .alias("rfm_segment"),
    )


@declare(
    "agg_growth_accounting",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events),
    seq AS (
      SELECT user_id, wk,
             LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             MIN(wk) OVER (PARTITION BY user_id) AS first_wk
      FROM act),
    labeled AS (
      SELECT wk, user_id,
             CASE WHEN wk = first_wk THEN 'new'
                  WHEN date_diff('day', prev_wk, wk) = 7 THEN 'retained'
                  ELSE 'resurrected' END AS status
      FROM seq),
    gains AS (
      SELECT wk, CAST(COUNT(*) AS BIGINT) AS n,
             status
      FROM labeled GROUP BY wk, status),
    churn AS (
      SELECT CAST(wk + INTERVAL 7 DAY AS DATE) AS wk,
             CAST(COUNT(*) AS BIGINT) AS n,
             'churned' AS status
      FROM seq s
      WHERE NOT EXISTS (
        SELECT 1 FROM act a
        WHERE a.user_id = s.user_id
          AND a.wk = CAST(s.wk + INTERVAL 7 DAY AS DATE))
        AND CAST(s.wk + INTERVAL 7 DAY AS DATE)
              <= (SELECT MAX(wk) FROM act)
      GROUP BY CAST(s.wk + INTERVAL 7 DAY AS DATE))
    SELECT wk, status, n FROM gains
    UNION ALL
    SELECT wk, status, n FROM churn
    """,
    _SEC,
    "Growth accounting — the canonical weekly active-user ledger: "
    "every active (user, week) classified as new (first week ever), "
    "retained (active the prior week), or resurrected (returning "
    "after a gap), plus the churned count (prior-week actives who "
    "went silent, attributed to the week they missed, capped at the "
    "observed horizon). One distinct-activity aggregation + per-user "
    "LAG/MIN windows + an anti-join for churn — the identity "
    "active(t) = new + retained + resurrected and churn(t) = "
    "active(t-1) - retained(t) holds exactly.",
)
def agg_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("wk")
    wp = Window.partitionBy("user_id")
    seq = act.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.min("wk").over(wp).alias("first_wk"),
    )
    status = (
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(F.datediff("wk", "prev_wk") == 7, "retained")
        .otherwise("resurrected")
    )
    gains = seq.groupBy("wk", status.alias("status")).agg(
        F.count(F.lit(1)).alias("n")
    )
    nxt = seq.select(
        "user_id", F.date_add("wk", 7).alias("wk")
    )
    horizon = act.agg(F.max("wk").alias("mx"))
    churn = (
        nxt.join(act, ["user_id", "wk"], "left_anti")
        .crossJoin(F.broadcast(horizon))
        .filter(F.col("wk") <= F.col("mx"))
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("wk", F.lit("churned").alias("status"), "n")
    )
    return gains.select("wk", "status", "n").unionByName(churn)


@declare(
    "agg_peak_concurrency",
    """
    WITH sess AS (
      SELECT event_id, CAST(ts AS DATE) AS day, ts AS s,
             LEAST(ts + INTERVAL '30 minutes',
                   CAST(CAST(ts AS DATE) + INTERVAL '1 day' AS TIMESTAMP))
               AS e
      FROM events),
    pts AS (
      SELECT day, s AS t, 1 AS delta, event_id FROM sess
      UNION ALL
      SELECT day, e AS t, -1 AS delta, event_id FROM sess),
    run AS (
      SELECT day,
             SUM(delta) OVER (PARTITION BY day
               ORDER BY t, delta, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur
      FROM pts)
    SELECT day, CAST(MAX(cur) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY day
    """,
    _SEC,
    "Peak concurrency per day: every event opens a 30-minute session, "
    "the classic +1/-1 sweep counts the maximum simultaneously-open "
    "sessions — the capacity-planning number behind provisioning. "
    "Ends process before starts at equal timestamps (delta ascending "
    "— touching sessions don't double-count) and sessions clamp at "
    "midnight so the sweep partitions by DAY: the running sum never "
    "goes global, which is what makes the sweep scale (an unbounded "
    "global ordering would serialize the corpus through one task).",
)
def agg_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    sess = ev.select(
        "event_id",
        F.col("ts").cast("date").alias("day"),
        F.col("ts").alias("s"),
        F.least(
            F.col("ts") + F.expr("INTERVAL 30 MINUTES"),
            (F.col("ts").cast("date") + F.expr("INTERVAL 1 DAY")).cast(
                "timestamp"
            ),
        ).alias("e"),
    )
    pts = sess.select(
        "day", F.col("s").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        sess.select(
            "day", F.col("e").alias("t"), F.lit(-1).alias("delta"), "event_id"
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select("day", F.sum("delta").over(w).alias("cur"))
    return run.groupBy("day").agg(
        F.max("cur").cast("long").alias("peak_concurrent")
    )


@declare(
    "agg_wow_growth",
    """
    WITH w AS (
      SELECT event_type,
             CAST(date_trunc('week', ts) AS DATE) AS wk,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, date_trunc('week', ts)),
    l AS (
      SELECT event_type, wk, n,
             LAG(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev_n
      FROM w)
    SELECT event_type, wk, n, prev_n,
           CASE WHEN prev_n IS NULL OR prev_n = 0 THEN NULL
                ELSE (CASE WHEN n >= prev_n THEN 1 ELSE -1 END)
                     * ((ABS(n - prev_n) * 1000000) // prev_n) END
             AS growth_micro
    FROM l
    """,
    _SEC,
    "Week-over-week growth per event type: weekly counts with the "
    "signed growth rate vs the prior week in integer micro-units. "
    "The quotient is SIGN-DECOMPOSED (sign times abs-value division) "
    "because DuckDB's // floors negative quotients while Spark's div "
    "truncates them — on a non-negative numerator the two agree, so "
    "declines round toward zero identically on both engines. The "
    "first chart of every weekly business review; one aggregation + "
    "one per-type LAG window.",
)
def agg_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).agg(F.count(F.lit(1)).alias("n"))
    lw = Window.partitionBy("event_type").orderBy("wk")
    l = w.withColumn("prev_n", F.lag("n").over(lw))
    return l.select(
        "event_type",
        "wk",
        "n",
        "prev_n",
        F.expr(
            "CASE WHEN prev_n IS NULL OR prev_n = 0 THEN NULL "
            "ELSE (CASE WHEN n >= prev_n THEN 1 ELSE -1 END)"
            "     * ((ABS(n - prev_n) * 1000000) div prev_n) END"
        ).alias("growth_micro"),
    )


from configdrivendatapipeline_spark.queries import omd5bucket as _ocmb  # noqa: E402

_CM_DEPTH, _CM_WIDTH = 4, 64


@declare(
    "agg_countmin",
    "WITH pk AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact\n"
    "            FROM events GROUP BY user_id),\n"
    "h AS (SELECT user_id, n_exact,\n"
    + ",\n".join(
        f"       {_ocmb('user_id', f'cm:{i}', _CM_WIDTH)} AS b{i}"
        for i in range(_CM_DEPTH)
    )
    + "\n      FROM pk),\n"
    + ",\n".join(
        f"c{i} AS (SELECT b{i}, CAST(SUM(n_exact) AS BIGINT) AS c{i}c\n"
        f"         FROM h GROUP BY b{i})"
        for i in range(_CM_DEPTH)
    )
    + """
    SELECT h.user_id, h.n_exact,
           least(c0.c0c, c1.c1c, c2.c2c, c3.c3c) AS n_cm,
           least(c0.c0c, c1.c1c, c2.c2c, c3.c3c) - h.n_exact AS overcount
    FROM h
    JOIN c0 USING (b0) JOIN c1 USING (b1)
    JOIN c2 USING (b2) JOIN c3 USING (b3)
    """,
    _SEC,
    "Count-min sketch (Cormode–Muthukrishnan): per-user event counts "
    "folded into a 4×64 integer cell grid via salted md5 row hashes, "
    "point estimates read back as the min over the 4 counters — "
    "beside the exact count so the one-sided overestimate property "
    "is hash-checked cell-for-cell. THE mergeable frequency sketch "
    "for 100 TB streams: cells are sums, so map-side partials "
    "combine associatively and two corpora's sketches merge by "
    "cell-wise addition without rescanning; the whole grid is 256 "
    "integers regardless of key cardinality. The md5 row-hash "
    "family replays bit-for-bit in the oracle.",
)
def agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference semantics: cell(i, b) = Σ counts of keys with
    h_i(key) = b; estimate(key) = min_i cell(i, h_i(key)). Built here
    from the per-key aggregate (needed anyway for the exact
    comparison); a streaming build sums raw increments into the same
    cells — identical grid either way."""
    from configdrivendatapipeline_spark.llm.sampling import hash_bucket

    ev = load(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    hashed = per_key.select(
        "user_id",
        "n_exact",
        *[
            hash_bucket(F.col("user_id"), f"cm:{i}", _CM_WIDTH).alias(f"b{i}")
            for i in range(_CM_DEPTH)
        ],
    )
    out = hashed
    for i in range(_CM_DEPTH):
        cells = hashed.groupBy(f"b{i}").agg(F.sum("n_exact").alias(f"c{i}c"))
        out = out.join(F.broadcast(cells), f"b{i}")
    est = F.least(*[F.col(f"c{i}c") for i in range(_CM_DEPTH)])
    return out.select(
        "user_id",
        "n_exact",
        est.alias("n_cm"),
        (est - F.col("n_exact")).alias("overcount"),
    )


@declare(
    "agg_hhi",
    """
    WITH per AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, user_id),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(c) AS BIGINT) AS total,
             SUM(CAST(c AS HUGEINT) * c) AS sum_sq
      FROM per GROUP BY event_type)
    SELECT event_type, n_users, total,
           CAST((sum_sq * 10000) // (CAST(total AS HUGEINT) * total)
                AS BIGINT) AS hhi_bp
    FROM g
    """,
    _SEC,
    "Herfindahl–Hirschman concentration of activity per event type: "
    "sum of squared per-user shares in basis points (10000 = one "
    "user owns the stream, →0 = perfectly dispersed) — the "
    "skew-detection number a partitioning planner reads before "
    "keying a shuffle on a column. Exact integers end to end: "
    "Σc² · 10⁴ div (Σc)², no floating shares; two aggregations, "
    "both map-side combinable. The squared sums run in "
    "DECIMAL(38,0)/HUGEINT so no count magnitude can wrap them; "
    "hhi_bp itself is <= 10000 and always fits BIGINT.",
)
def agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    g = per.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("total"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("sum_sq"),
    )
    return g.select(
        "event_type",
        "n_users",
        "total",
        F.expr(
            "CAST((sum_sq * 10000) div (CAST(total AS DECIMAL(38,0))"
            " * total) AS BIGINT)"
        ).alias("hhi_bp"),
    )


@declare(
    "agg_triangle_count",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY node),
    o AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS td
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
    tri AS (
      SELECT w1.s AS a, w1.t AS b, w2.t AS c
      FROM o w1 JOIN o w2
        ON w1.s = w2.s AND (w1.td, w1.t) < (w2.td, w2.t)
      JOIN o cl ON cl.s = w1.t AND cl.t = w2.t),
    m AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS node FROM tri UNION ALL
        SELECT b AS node FROM tri UNION ALL
        SELECT c AS node FROM tri)
      GROUP BY node)
    SELECT m.node AS partkey, m.n_triangles, deg.d AS degree
    FROM m JOIN deg ON deg.node = m.node
    """,
    _SEC,
    "Distributed triangle counting on the co-purchase graph (parts "
    "sharing an order) via DEGREE-ORIENTED wedges — the MapReduce "
    "formulation (Cohen '09 / Suri–Vassilvitskii '11): every edge "
    "orients from its lower-(degree, id) endpoint, wedges join on "
    "the shared source, and the closing edge check counts each "
    "triangle exactly once. The orientation is the scale story: "
    "naive node-iterator wedges explode as Σdeg² on hub nodes, "
    "while oriented wedge work is bounded by arboricity — the "
    "difference between hours and minutes on a power-law graph. "
    "Emits per-node triangle membership + degree (the clustering-"
    "coefficient numerator).",
)
def agg_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    return triangle_counts(e).select(
        F.col("node").alias("partkey"), "n_triangles", F.col("d").alias("degree")
    )


def triangle_counts(e: DataFrame) -> DataFrame:
    """Per-node triangle membership over an undirected edge set
    ``(u, v)`` with u < v, via degree-oriented adjacency intersection
    (see ``agg_triangle_count`` for the orientation and scale
    argument). Returns (node, n_triangles, d).

    r17: the wedge self-join (o ⋈ o on the shared source, then a
    closing-edge join) materialized Σ C(outdeg, 2) wedge rows —
    41 M at sf0.1 where only 1.9 M triangles close, 27 s of the
    38 s census cost. The edge-iterator form joins each ORIENTED
    edge (s, t) to the out-neighbor lists of both endpoints and
    takes ``array_intersect(adj(s), adj(t))``: every common
    out-neighbor w closes the triangle s→t, s→w, t→w exactly once
    (the triangle's two lower-(d, id) nodes are s and t by
    construction), so no wedge row that fails to close is ever
    created, and the per-edge work is one hash-set intersect of two
    arboricity-bounded arrays (guide §2.3/§2.4: shuffle 20 k
    adjacency lists instead of 41 M wedge rows). Identical output
    fingerprint at sf0.1; 24 s → 4.8 s end to end."""
    # Materialize the edge set, degree table and oriented edges once
    # (§3.3 pattern, same as banded_norms): the untruncated plan
    # re-evaluates the EDGE BUILD — for the declared query an
    # lineitem⋈lineitem self-join + distinct — through every
    # reference (deg's two join aliases, the orientation join, and o's
    # three references via the adjacency build and the wedge join).
    # The frames are edge/node-sized, never wedge-sized. The EDGE set
    # is the corpus-scale frame, so it goes to within-run scratch
    # parquet (r17 verdict item 5 — executor-loss-safe, spillable;
    # see scratch.scratch_parquet); deg (node-sized) and o (one cheap
    # join from the scratch-backed e) stay lazy localCheckpoints.
    from configdrivendatapipeline_spark.scratch import scratch_parquet

    e = scratch_parquet(e, "triangle_edges")
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    du = deg.alias("du")
    dv = deg.alias("dv")
    ej = e.join(du, F.col("u") == F.col("du.node")).join(
        dv, F.col("v") == F.col("dv.node")
    )
    u_first = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("u") < F.col("v"))
    )
    o = ej.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).localCheckpoint(eager=False)
    adj = o.groupBy("s").agg(F.collect_list("t").alias("nbrs"))
    tri = (
        o.join(adj.select("s", F.col("nbrs").alias("nu")), "s")
        .join(
            adj.select(F.col("s").alias("t"), F.col("nbrs").alias("nv")), "t"
        )
        .select(
            F.col("s").alias("a"),
            F.col("t").alias("b"),
            F.explode(F.array_intersect("nu", "nv")).alias("c"),
        )
    )
    m = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return m.join(deg, "node").select("node", "n_triangles", "d")


@declare(
    "agg_top_paths",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id FROM events),
    paths AS (
      SELECT user_id,
             array_to_string(
               (list(event_type ORDER BY ts, event_id))[1:5], '>') AS path
      FROM ordered GROUP BY user_id)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
    _SEC,
    "Top user paths: each user's first five events in strict "
    "(ts, event_id) order collapse to a path signature, counted and "
    "ranked — the entry-flow table a product funnel review starts "
    "from. Determinism is the hard part Spark hands you footguns "
    "for: collect_list order is partition-dependent, so the path "
    "builds from array_sort over (ts, event_id, type) structs — "
    "retry-identical where a bare collect_list is not. The first-5 "
    "cutoff is a row_number window BEFORE the collect (WindowExec "
    "spills a hot user's history; an uncut collect_list would "
    "buffer it whole in one aggregation state just to slice 5); "
    "top-20 via TakeOrdered, no global sort materialization.",
)
def agg_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    wrn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.withColumn("__rn", F.row_number().over(wrn))
        .filter(F.col("__rn") <= 5)
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.transform(F.col("evs"), lambda s: s.getField("event_type")),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path"))
        .limit(20)
    )


@declare(
    "agg_decayed_engagement",
    """
    WITH mx AS (SELECT MAX(ts) AS now FROM events),
    scored AS (
      SELECT e.user_id,
             CAST(FLOOR(e.value * 1000000 + 0.5) AS BIGINT)
               // CAST(POWER(2, LEAST(
                    date_diff('day', e.ts, mx.now) // 7, 20)) AS BIGINT)
               AS w_micro
      FROM events e, mx)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(w_micro) AS BIGINT) AS decayed_micro
    FROM scored GROUP BY user_id
    """,
    _SEC,
    "Recency-decayed engagement score: each event's micro-unit value "
    "HALVES per whole week of age (integer div by 2^weeks, capped at "
    "2^20 — exact integer arithmetic, where the textbook "
    "2^(-age/halflife) float pow drifts between engines and "
    "retries). The decay anchor is the corpus max-ts so the score "
    "is a pure function of the data; production pins an explicit "
    "as-of timestamp. One scalar subquery broadcast + one "
    "map-side-combinable aggregation.",
)
def agg_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("now"))
    scored = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.expr(
            f"{VU} div CAST(POWER(2, LEAST(datediff(now, ts) div 7, 20)) AS BIGINT)"
        ).alias("w_micro"),
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("w_micro").alias("decayed_micro"),
    )


@declare(
    "agg_approx_topk",
    """
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    ORDER BY n DESC, item
    """,
    _SEC,
    "Spark 4's approx_top_k frequent-items sketch (a SpaceSaving-"
    "family summary): one aggregation returns the heavy hitters "
    "WITH counts, mergeable across partitions — at 100 TB this "
    "replaces the groupBy-then-TakeOrdered pair with a single "
    "bounded-memory sketch pass. Hash-checked on the regime where "
    "the sketch is provably EXACT (tracked capacity ≥ distinct "
    "items, k ≥ cardinality); the result explodes to rows re-sorted "
    "by (count, item) because the sketch's internal tie order is "
    "not a contract.",
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    sk = ev.agg(F.expr("approx_top_k(event_type, 100)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"), F.col("e.count").cast("long").alias("n")
        )
        .orderBy(F.col("n").desc(), F.col("item"))
    )


@declare(
    "agg_auc",
    """
    WITH s AS (
      SELECT event_type, value,
             CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                  THEN 1 ELSE 0 END AS label
      FROM events),
    r AS (
      SELECT event_type, label,
             2 * RANK() OVER (PARTITION BY event_type ORDER BY value)
               + COUNT(*) OVER (PARTITION BY event_type, value) - 1 AS r2
      FROM s),
    g AS (
      SELECT event_type,
             SUM(CASE WHEN label = 1 THEN CAST(r2 AS HUGEINT)
                 ELSE 0 END) AS r2_pos,
             CAST(SUM(label) AS BIGINT) AS n_pos,
             CAST(SUM(1 - label) AS BIGINT) AS n_neg
      FROM r GROUP BY event_type)
    SELECT event_type, n_pos, n_neg,
           CAST((r2_pos - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
             // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS auc_micro
    FROM g
    """,
    _SEC,
    "AUC-ROC per event type in EXACT integers: the Mann–Whitney "
    "rank-sum identity with midrank tie correction, doubled to stay "
    "integral (2·midrank = 2·rank_min + ties − 1), so the metric is "
    "engine- and partition-order-identical where the textbook "
    "trapezoid-on-floats drifts. The model-quality gate of every "
    "classifier-driven curation filter; score = event value, label "
    "= props.k ≥ 50. Two windows per event-type partition + one "
    "aggregation — no O(n²) pair counting.",
)
def agg_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        "value",
        F.when(
            F.get_json_object("props", "$.k").cast("long") >= 50, 1
        ).otherwise(0).alias("label"),
    )
    wr = Window.partitionBy("event_type").orderBy("value")
    wt = Window.partitionBy("event_type", "value")
    r = s.select(
        "event_type",
        "label",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1).alias("r2"),
    )
    # 128-bit rank sums (see skew_stats): Σ 2·rank over positives is
    # O(n²) in magnitude — 1e22 at 1e11-row strata — as are the
    # n_pos·(n_pos+1) and 2·n_pos·n_neg terms; AUC fits BIGINT
    g = r.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("label") == 1, F.expr("CAST(r2 AS DECIMAL(38,0))"))
            .otherwise(F.lit(0))
        ).alias("r2_pos"),
        F.sum("label").alias("n_pos"),
        F.sum(1 - F.col("label")).alias("n_neg"),
    )
    return g.select(
        "event_type",
        "n_pos",
        "n_neg",
        F.expr(
            "CAST((r2_pos - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 1000000"
            " div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"
        ).alias("auc_micro"),
    )


@declare(
    "agg_cohens_kappa",
    """
    WITH s AS (
      SELECT event_type,
             CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                  THEN 1 ELSE 0 END AS a,
             CASE WHEN value >= 10.0 THEN 1 ELSE 0 END AS b
      FROM events),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
             CAST(SUM(a) AS BIGINT) AS na1,
             CAST(SUM(b) AS BIGINT) AS nb1
      FROM s GROUP BY event_type)
    SELECT event_type, n, agree,
           CAST(
             (CASE WHEN CAST(agree AS HUGEINT) * n >=
                   (CAST(na1 AS HUGEINT) * nb1
                    + CAST(n - na1 AS HUGEINT) * (n - nb1))
                   THEN 1 ELSE -1 END)
             * (abs(CAST(agree AS HUGEINT) * n
                    - (CAST(na1 AS HUGEINT) * nb1
                       + CAST(n - na1 AS HUGEINT) * (n - nb1))) * 1000000
                // (CAST(n AS HUGEINT) * n
                    - (CAST(na1 AS HUGEINT) * nb1
                       + CAST(n - na1 AS HUGEINT) * (n - nb1))))
             AS BIGINT) AS kappa_micro
    FROM g
    """,
    _SEC,
    "Cohen's kappa between two binary labelers in EXACT integer "
    "micro-units: κ = (pₒ−pₑ)/(1−pₑ) cleared of denominators — "
    "(agree·n − E)·10⁶ div (n² − E) with E = n₁ᵃn₁ᵇ + n₀ᵃn₀ᵇ — the "
    "chance-corrected agreement a labeling pipeline reports before "
    "trusting weak labels (raw agreement flatters imbalanced "
    "labels). One aggregation per stratum; κ is legitimately "
    "negative for worse-than-chance agreement, so the micro-unit "
    "division is sign-decomposed (sign · (|num|·10⁶ div den)) per "
    "the module conventions — negative integer division is where "
    "engines' floor-vs-truncate semantics diverge.",
)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.when(F.get_json_object("props", "$.k").cast("long") >= 50, 1)
        .otherwise(0)
        .alias("a"),
        F.when(F.col("value") >= 10.0, 1).otherwise(0).alias("b"),
    )
    g = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias("agree"),
        F.sum("a").alias("na1"),
        F.sum("b").alias("nb1"),
    )
    # 128-bit cross products (see skew_stats): agree·n, n², and the
    # marginal products na1·nb1 all wrap BIGINT at 1e11-row strata;
    # kappa_micro itself is in [-1e6, 1e6]
    e = (
        "(CAST(na1 AS DECIMAL(38,0)) * nb1"
        " + CAST(n - na1 AS DECIMAL(38,0)) * (n - nb1))"
    )
    return g.select(
        "event_type",
        "n",
        "agree",
        F.expr(
            f"CAST((CASE WHEN CAST(agree AS DECIMAL(38,0)) * n >= {e}"
            f" THEN 1 ELSE -1 END)"
            f" * (abs(CAST(agree AS DECIMAL(38,0)) * n - {e}) * 1000000"
            f" div (CAST(n AS DECIMAL(38,0)) * n - {e})) AS BIGINT)"
        ).alias("kappa_micro"),
    )


from configdrivendatapipeline_spark.queries import omd5bucket as _oab  # noqa: E402


@declare(
    "agg_ab_lift",
    f"""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN {_oab('user_id', 'exp:homepage:v1', 2)} = 1
                  THEN 'B' ELSE 'A' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)),
    m AS (
      SELECT a.arm,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
             CAST(COUNT(DISTINCT CASE WHEN e.event_type = 'purchase'
                        THEN e.user_id END) AS BIGINT) AS n_converted
      FROM events e JOIN assign a USING (user_id)
      GROUP BY a.arm),
    w AS (
      SELECT MAX(CASE WHEN arm = 'A' THEN n_users END) AS na,
             MAX(CASE WHEN arm = 'A' THEN n_converted END) AS ca,
             MAX(CASE WHEN arm = 'B' THEN n_users END) AS nb,
             MAX(CASE WHEN arm = 'B' THEN n_converted END) AS cb
      FROM m)
    SELECT na AS n_users_a, ca AS n_conv_a, nb AS n_users_b, cb AS n_conv_b,
           ca * 1000000 // na AS rate_a_micro,
           cb * 1000000 // nb AS rate_b_micro,
           CAST(
             (CASE WHEN CAST(cb AS HUGEINT) * na >= CAST(ca AS HUGEINT) * nb
                   THEN 1 ELSE -1 END)
             * (abs(CAST(cb AS HUGEINT) * na - CAST(ca AS HUGEINT) * nb)
                * 1000000 // (CAST(ca AS HUGEINT) * nb))
             AS BIGINT) AS rel_lift_micro
    FROM w
    """,
    _SEC,
    "A/B experiment readout with deterministic assignment: users "
    "hash into arms by salted md5 (the same bucketing production "
    "experimentation uses — assignment is a pure function of "
    "(user, experiment), stable across sessions and retries), "
    "per-arm conversion to 'purchase' in exact micro-units, and "
    "relative lift as the cross-product ratio cb·na / ca·nb "
    "cleared of divisions — sign-decomposed because lift is "
    "legitimately negative. The md5 family replays assignment "
    "bit-for-bit in the oracle, so the whole experiment readout is "
    "hash-verified.",
)
def agg_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm.sampling import hash_bucket

    ev = load(spark, sf_dir, "events")
    assign = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(
                hash_bucket(F.col("user_id"), "exp:homepage:v1", 2) == 1, "B"
            ).otherwise("A").alias("arm"),
        )
    )
    m = (
        ev.join(assign, "user_id")
        .groupBy("arm")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count_distinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            ).alias("n_converted"),
        )
    )
    w = m.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_converted"))).alias("cb"),
    )
    return w.select(
        F.col("na").alias("n_users_a"),
        F.col("ca").alias("n_conv_a"),
        F.col("nb").alias("n_users_b"),
        F.col("cb").alias("n_conv_b"),
        F.expr("ca * 1000000 div na").alias("rate_a_micro"),
        F.expr("cb * 1000000 div nb").alias("rate_b_micro"),
        # 128-bit intermediates: conversion-count × user-count cross
        # products (cb·na, ca·nb) wrap BIGINT at 1e10-user arms; the
        # relative lift fits. abs() keeps the div numerator
        # non-negative (Spark truncates, DuckDB floors — they only
        # agree on non-negatives), sign applied outside as before.
        F.expr(
            "CAST((CASE WHEN CAST(cb AS DECIMAL(38,0)) * na >="
            " CAST(ca AS DECIMAL(38,0)) * nb THEN 1 ELSE -1 END)"
            " * (abs(CAST(cb AS DECIMAL(38,0)) * na"
            " - CAST(ca AS DECIMAL(38,0)) * nb)"
            " * 1000000 div (CAST(ca AS DECIMAL(38,0)) * nb)) AS BIGINT)"
        ).alias("rel_lift_micro"),
    )


@declare(
    "agg_skyline",
    """
    WITH pts AS (
      SELECT l_partkey AS partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 100)
                  AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY l_partkey)
    SELECT p.partkey, p.qty, p.rev_cents
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.qty >= p.qty AND q.rev_cents >= p.rev_cents
        AND (q.qty > p.qty OR q.rev_cents > p.rev_cents))
    """,
    _SEC,
    "Skyline / Pareto-frontier query (Börzsönyi et al. ICDE'01): "
    "parts not dominated in (total quantity, revenue) — the "
    "multi-criteria shortlist operator. The naive NOT EXISTS is the "
    "ORACLE's job; the Spark plan is the distributed shape: bucket "
    "the x-axis on a broadcast-derived width, take per-bucket y "
    "maxima (a few hundred rows at any corpus size), build the "
    "running dominance threshold over buckets — every point below "
    "the strictly-higher-bucket y-max is pruned MAP-SIDE via "
    "broadcast — and only the tiny survivor set pays the exact "
    "pairwise dominance check. Exact integers end to end.",
)
def agg_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bucket-pruned frontier via the shared engine op
    # (analytics.skyline_2d) — also the YAML `skyline` surface.
    from configdrivendatapipeline_spark.analytics import skyline_2d

    li = load(spark, sf_dir, "lineitem")
    pts = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        F.floor(
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")) * 100
        ).cast("long").alias("rev_cents"),
    )
    return skyline_2d(pts, "qty", "rev_cents", keep_cols=["partkey"])


@declare(
    "agg_jackknife_influence",
    """
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS s
      FROM events GROUP BY event_type),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS big_n, CAST(SUM(s) AS BIGINT) AS big_s
      FROM g)
    SELECT g.event_type, g.n,
           t.big_s // t.big_n AS mean_micro,
           (t.big_s - g.s) // (t.big_n - g.n) AS mean_wo_micro,
           CASE WHEN (t.big_s - g.s) * t.big_n >= t.big_s * (t.big_n - g.n)
                THEN 1 ELSE -1 END
             * (abs((t.big_s - g.s) * t.big_n - t.big_s * (t.big_n - g.n))
                // (t.big_n * (t.big_n - g.n)))
             AS shift_micro
    FROM g CROSS JOIN tot t
    """,
    _SEC,
    "Jackknife influence audit: for each event-type cohort, the "
    "corpus mean recomputed WITHOUT it — entirely from the group "
    "totals via (S−sᵢ)/(N−nᵢ), never a second scan per cohort — and "
    "the signed shift it induces, exact integer micro-units with "
    "sign-decomposed division. This is the robustness question a "
    "metric review actually asks ('is the average carried by one "
    "segment?') answered at one-aggregation cost; the same totals "
    "identity is how leave-one-out runs at 100 TB, where per-cohort "
    "rescans are unpayable.",
)
def agg_jackknife_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(VU)).alias("s"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("big_n"),
        F.sum("s").cast("long").alias("big_s"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        F.expr("big_s div big_n").alias("mean_micro"),
        F.expr("(big_s - s) div (big_n - n)").alias("mean_wo_micro"),
        F.expr(
            "(CASE WHEN (big_s - s) * big_n >= big_s * (big_n - n)"
            " THEN 1 ELSE -1 END)"
            " * (abs((big_s - s) * big_n - big_s * (big_n - n))"
            "    div (big_n * (big_n - n)))"
        ).alias("shift_micro"),
    )


@declare(
    "agg_runs_test",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type,
             CAST(SUM(n) * 1000000 // COUNT(*) AS BIGINT) AS mean_micro
      FROM daily GROUP BY event_type),
    s AS (
      SELECT d.event_type, d.day,
             d.n * 1000000 >= m.mean_micro AS above
      FROM daily d JOIN m USING (event_type)),
    r AS (
      SELECT event_type, above,
             CASE WHEN above IS DISTINCT FROM LAG(above) OVER (
                    PARTITION BY event_type ORDER BY day)
                  THEN 1 ELSE 0 END AS brk
      FROM s),
    g AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n2,
             CAST(SUM(brk) AS BIGINT) AS runs
      FROM r GROUP BY event_type)
    SELECT event_type, n1 AS days_above, n2 AS days_below, runs,
           1000000 + (2 * n1 * n2 * 1000000) // (n1 + n2)
             AS expected_runs_micro
    FROM g
    """,
    _SEC,
    "Wald–Wolfowitz runs test on the daily metric stream: runs of "
    "above/below-mean days counted against the expected run count "
    "1 + 2n₁n₂/(n₁+n₂) in exact micro-units — far fewer runs than "
    "expected means the metric is STICKY (incidents, regime "
    "shifts), far more means oscillation (retry storms, thundering "
    "herds); either way the i.i.d. assumption behind naive "
    "alert thresholds is broken. Mean threshold, not median — "
    "engines disagree on even-count medians. Per-type windows over "
    "calendar days, bounded at any event volume.",
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = daily.groupBy("event_type").agg(
        F.expr("CAST(SUM(n) * 1000000 div COUNT(*) AS BIGINT)").alias(
            "mean_micro"
        )
    )
    s = daily.join(m, "event_type").select(
        "event_type",
        "day",
        (F.col("n") * 1000000 >= F.col("mean_micro")).alias("above"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    r = s.select(
        "event_type",
        "above",
        F.when(
            ~F.col("above").eqNullSafe(F.lag("above").over(w)), 1
        ).otherwise(0).alias("brk"),
    )
    g = r.groupBy("event_type").agg(
        F.sum(F.when(F.col("above"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("above"), 0).otherwise(1)).alias("n2"),
        F.sum("brk").alias("runs"),
    )
    return g.select(
        "event_type",
        F.col("n1").alias("days_above"),
        F.col("n2").alias("days_below"),
        "runs",
        F.expr(
            "1000000 + (2 * n1 * n2 * 1000000) div (n1 + n2)"
        ).alias("expected_runs_micro"),
    )


@declare(
    "agg_stickiness",
    """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m') AS month,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2),
    monthly AS (
      SELECT strftime(ts, '%Y-%m') AS month,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY 1)
    SELECT d.month,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(d.dau) AS BIGINT) AS dau_total,
           m.mau,
           CAST((SUM(d.dau) * 1000000) // (COUNT(*) * m.mau) AS BIGINT)
             AS stickiness_micro
    FROM daily d JOIN monthly m USING (month)
    GROUP BY d.month, m.mau
    """,
    _SEC,
    "DAU/MAU stickiness per month in exact micro-units: mean daily "
    "actives over monthly actives — THE engagement-frequency ratio "
    "a product review reads (1e6 = every monthly user active every "
    "day). Two distinct-count aggregations (both map-side partial) "
    "+ one day-grain join; the division clears denominators as "
    "Σdau·10⁶ div (days·mau), so no float ratio ever forms.",
)
def agg_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.count_distinct("user_id").alias("dau"))
    monthly = ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month")
    ).agg(F.count_distinct("user_id").alias("mau"))
    return (
        daily.join(monthly, "month")
        .groupBy("month", "mau")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("dau").alias("dau_total"),
        )
        .select(
            "month",
            "n_days",
            "dau_total",
            "mau",
            F.expr("(dau_total * 1000000) div (n_days * mau)").alias(
                "stickiness_micro"
            ),
        )
    )
