"""SURVEY.md §2.2 (projection / filtering / derived columns) and
§2.3 (joins).

Scale notes: filters and projections here are pure Catalyst — they
push down to the parquet scan (PushedFilters / ReadSchema) because
every predicate is a Column expression, never a Python UDF. Joins
state their physical strategy intent: dimension joins broadcast
(`F.broadcast`), fact-fact joins shuffle on their equi-keys and rely
on AQE for skew; the as-of join is a composition (range join +
per-key top-1 window) that avoids any driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from configdrivendatapipeline_spark import joins
from configdrivendatapipeline_spark.queries import declare, dsum, load, odsum, omd5bucket
from configdrivendatapipeline_spark.scratch import run_path
from configdrivendatapipeline_spark.session import session_memo

_P = "2.2"
_J = "2.3"


# ---------------------------------------------------------------------------
# §2.2 Projection / derived / filters
# ---------------------------------------------------------------------------


@declare(
    "project_select",
    "SELECT c_custkey, c_name, c_mktsegment FROM customer",
    _P,
    "Column selection/reorder; prunes the parquet scan to 3 columns.",
)
def project_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


@declare(
    "project_rename",
    """
    SELECT c_custkey AS customer_id, c_name AS customer_name,
           c_acctbal AS balance
    FROM customer
    """,
    _P,
    "Rename map (ADF 'Select' rename).",
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .withColumnsRenamed(
            {"c_custkey": "customer_id", "c_name": "customer_name", "c_acctbal": "balance"}
        )
    )


@declare(
    "project_drop",
    "SELECT n_nationkey, n_name FROM nation",
    _P,
    "Drop columns.",
)
def project_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "nation").drop("n_regionkey")


@declare(
    "derive_column",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_quantity * 2 AS double_qty
    FROM lineitem
    """,
    _P,
    "Derived columns from SQL expressions (ADF 'Derived Column'); "
    "per-row IEEE arithmetic is engine-identical.",
)
def derive_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        (F.col("l_quantity") * 2).alias("double_qty"),
    )


@declare(
    "cast_column",
    """
    SELECT CAST(l_linenumber AS BIGINT) AS line_no,
           CAST(CAST(l_quantity AS DECIMAL(10,2)) AS VARCHAR) AS qty_dec,
           CAST(l_shipdate AS DATE) AS ship_day,
           CAST(l_orderkey AS VARCHAR) AS okey_str
    FROM lineitem
    """,
    _P,
    "Explicit casts (int widening, double→decimal, ts→date, int→string).",
)
def cast_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # The DECIMAL(10,2) cast is the operator under test, but it is
    # re-emitted as a string: a decimal-typed OUTPUT column cannot be
    # hash-compared (DuckDB's pandas bridge renders float64, Spark
    # yields decimal.Decimal). decimal→string preserves scale
    # identically in both engines ("23.00"). House rule: never emit
    # DECIMAL/array/map-typed output columns.
    return li.select(
        F.col("l_linenumber").cast("bigint").alias("line_no"),
        F.col("l_quantity").cast("decimal(10,2)").cast("string").alias("qty_dec"),
        F.col("l_shipdate").cast("date").alias("ship_day"),
        F.col("l_orderkey").cast("string").alias("okey_str"),
    )


@declare(
    "safe_cast",
    """
    SELECT doc_id,
           TRY_CAST(source AS INTEGER) AS bad_int,
           TRY_CAST(SUBSTR(source, 4) AS INTEGER) AS src_num
    FROM documents
    """,
    _P,
    "Cast-or-null for bad-data tolerance (try_cast).",
)
def safe_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("TRY_CAST(source AS INT)").alias("bad_int"),
        F.expr("TRY_CAST(SUBSTR(source, 4) AS INT)").alias("src_num"),
    )


@declare(
    "filter_compare",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount <= 0.02 AND l_tax <> 0.0
    """,
    _P,
    "Comparison predicates; pushed to the parquet scan.",
)
def filter_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45) & (F.col("l_discount") <= 0.02) & (F.col("l_tax") != 0.0)
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@declare(
    "filter_bool",
    """
    SELECT o_orderkey
    FROM orders
    WHERE (o_orderstatus = 'F' OR o_totalprice > 300000)
      AND NOT (o_orderpriority = '5-LOW')
    """,
    _P,
    "AND / OR / NOT predicate composition.",
)
def filter_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.filter(
        ((F.col("o_orderstatus") == "F") | (F.col("o_totalprice") > 300000))
        & ~(F.col("o_orderpriority") == "5-LOW")
    ).select("o_orderkey")


@declare(
    "filter_in",
    """
    SELECT event_id, event_type
    FROM events
    WHERE event_type IN ('signup', 'purchase')
    """,
    _P,
    "IN-list predicate.",
)
def filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin("signup", "purchase")).select(
        "event_id", "event_type"
    )


@declare(
    "filter_between",
    """
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_day
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                          AND TIMESTAMP '1997-12-31 00:00:00'
    """,
    _P,
    "BETWEEN range predicate (enables parquet row-group pruning).",
)
def filter_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderdate").between("1997-01-01 00:00:00", "1997-12-31 00:00:00")
    ).select("o_orderkey", F.col("o_orderdate").cast("date").alias("order_day"))


@declare(
    "filter_like",
    """
    SELECT p_partkey, p_type
    FROM part
    WHERE p_type LIKE '%ECO%' AND p_brand LIKE 'Brand#1%'
    """,
    _P,
    "LIKE wildcard matching.",
)
def filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("%ECO%") & F.col("p_brand").like("Brand#1%")
    ).select("p_partkey", "p_type")


@declare(
    "filter_rlike",
    r"""
    SELECT p_partkey, p_name
    FROM part
    WHERE regexp_matches(p_name, '^(red|blue) [a-z]+$')
    """,
    _P,
    "Regex predicate.",
)
def filter_rlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.filter(F.col("p_name").rlike(r"^(red|blue) [a-z]+$")).select(
        "p_partkey", "p_name"
    )


@declare(
    "filter_null",
    """
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    WHERE NULLIF(l_discount, 0.0) IS NULL
      AND NULLIF(l_tax, 0.0) IS NOT NULL
    """,
    _P,
    "IS [NOT] NULL predicates (nulls manufactured via NULLIF — the "
    "testdata itself is null-free).",
)
def filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        F.nullif(F.col("l_discount"), F.lit(0.0)).isNull()
        & F.nullif(F.col("l_tax"), F.lit(0.0)).isNotNull()
    ).select("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@declare(
    "join_inner",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    _J,
    "Inner equi-join; shuffle-hash/sort-merge chosen by AQE.",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name"
    )


@declare(
    "join_broadcast",
    """
    SELECT c.c_custkey, n.n_name
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    _J,
    "Broadcast hash join on a small dim (ADF 'Lookup'): same result "
    "as join_inner, shuffle-free physical plan.",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "n_name"
    )


@declare(
    "join_left",
    """
    SELECT c.c_custkey, o.o_orderkey
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    """,
    _J,
    "Left outer join (null-extended customers without orders).",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, o.o_custkey == c.c_custkey, "left").select("c_custkey", "o_orderkey")


@declare(
    "join_right",
    """
    SELECT c.c_custkey, o.o_orderkey
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    _J,
    "Right outer join.",
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select("c_custkey", "o_orderkey")


@declare(
    "join_full",
    """
    SELECT n.n_name, s.s_name
    FROM nation n FULL JOIN supplier s ON s.s_nationkey = n.n_nationkey
    """,
    _J,
    "Full outer join.",
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    return n.join(s, s.s_nationkey == n.n_nationkey, "full").select("n_name", "s_name")


@declare(
    "join_semi",
    """
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 400000)
    """,
    _J,
    "Left-semi join (EXISTS, ADF 'Exists'): no row duplication.",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@declare(
    "join_anti",
    """
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 450000)
    """,
    _J,
    "Left-anti join (NOT EXISTS): orphan detection primitive.",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@declare(
    "join_cross",
    """
    SELECT a.r_name AS from_region, b.r_name AS to_region
    FROM region a CROSS JOIN region b
    """,
    _J,
    "Cartesian product (guarded: only declared for bounded dims).",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load(spark, sf_dir, "region").select(F.col("r_name").alias("from_region"))
    b = load(spark, sf_dir, "region").select(F.col("r_name").alias("to_region"))
    return a.crossJoin(b)


@declare(
    "join_theta",
    """
    SELECT s.s_name, n.n_name
    FROM supplier s JOIN nation n ON s.s_nationkey < n.n_nationkey
    WHERE n.n_regionkey = 0
    """,
    _J,
    "Non-equi (theta) join → broadcast-nested-loop physical plan.",
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0)
    return s.join(n, s.s_nationkey < n.n_nationkey, "inner").select("s_name", "n_name")


@declare(
    "join_interval",
    """
    WITH days AS (
      SELECT DISTINCT date_trunc('day', ts) AS day_start,
             date_trunc('day', ts) + INTERVAL 1 DAY AS day_end
      FROM events
    )
    SELECT e.event_id, CAST(d.day_start AS DATE) AS event_day
    FROM events e JOIN days d ON e.ts >= d.day_start AND e.ts < d.day_end
    """,
    _J,
    "Interval containment join (ts ∈ [start, end)).",
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    days = (
        ev.select(F.date_trunc("day", "ts").alias("day_start"))
        .distinct()
        .withColumn("day_end", F.col("day_start") + F.expr("INTERVAL 1 DAY"))
    )
    return ev.join(
        days, (ev.ts >= days.day_start) & (ev.ts < days.day_end), "inner"
    ).select("event_id", F.col("day_start").cast("date").alias("event_day"))


def _asof_signup(spark: SparkSession, sf_dir: str, direction: str) -> DataFrame:
    """Each purchase with its user's signup ``sign_ts`` picked by
    ``joins.asof_join`` in ``direction``."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return joins.asof_join(
        purchases,
        ev.filter(F.col("event_type") == "signup"),
        by=["user_id"],
        left_key="event_id",
        direction=direction,
        take={"sign_ts": "ts"},
    )


@declare(
    "join_asof",
    """
    WITH f AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         d AS (SELECT user_id, ts AS sign_ts FROM events
               WHERE event_type = 'signup'),
         j AS (SELECT f.event_id, f.user_id, d.sign_ts,
                      ROW_NUMBER() OVER (PARTITION BY f.event_id
                                         ORDER BY d.sign_ts DESC) AS rn
               FROM f LEFT JOIN d
                 ON f.user_id = d.user_id AND d.sign_ts <= f.ts)
    SELECT event_id, user_id, sign_ts FROM j WHERE rn = 1
    """,
    _J,
    "As-of join: each purchase matched to the user's latest signup at "
    "or before it. Composition: range join + per-key top-1 window — "
    "no driver loop; at scale the window shuffles once on event_id.",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_signup(spark, sf_dir, "backward").select(
        "event_id", "user_id", "sign_ts"
    )


@declare(
    "join_multiway_star",
    f"""
    SELECT n.n_name,
           {odsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           COUNT(*) AS n_items
    FROM region r
      JOIN nation n    ON n.n_regionkey = r.r_regionkey
      JOIN customer c  ON c.c_nationkey = n.n_nationkey
      JOIN orders o    ON o.o_custkey = c.c_custkey
      JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    _J,
    "Five-way star join (TPC-H Q5 shape), flagship #2: true dims "
    "(nation/region — fixed-size) get explicit broadcast hints; "
    "customer SCALES WITH THE FACTS (sf×150k rows — TBs at 100 TB), "
    "so it carries no hint and AQE picks broadcast vs shuffle from "
    "the runtime size (at sf0.1 it still broadcasts; at 100 TB it "
    "must not — a forced hint there is an executor-OOM).",
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    star = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return star.groupBy("n_name").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@declare(
    "join_self",
    """
    SELECT a.s_name AS s1, b.s_name AS s2, a.s_nationkey AS nationkey
    FROM supplier a JOIN supplier b
      ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
    """,
    _J,
    "Self-join: supplier pairs within a nation.",
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    a = s.alias("a")
    b = s.alias("b")
    return a.join(
        b,
        (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
        & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
    ).select(
        F.col("a.s_name").alias("s1"),
        F.col("b.s_name").alias("s2"),
        F.col("a.s_nationkey").alias("nationkey"),
    )


@declare(
    "join_bucketed",
    """
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    _J,
    "Shuffle-free co-located join via bucketed storage: both sides "
    "are written bucketBy(8, key) + sortBy, so the sort-merge join "
    "consumes the pre-shuffled, pre-sorted layout directly — the "
    "builder ASSERTS the physical plan contains no Exchange and "
    "raises otherwise, making the scale property itself the gate. "
    "At 100 TB this is the difference between re-shuffling the fact "
    "table on every join and paying the shuffle once at write time.",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import os
    from contextlib import redirect_stdout

    def stage() -> list[str]:
        # Bucketed layouts need a catalog table; each is an EXTERNAL
        # table over a run-directory path, named after that path, so
        # nothing lands in the warehouse dir or outlives the process.
        names = []
        for table, cols, key in (
            ("orders", ("o_orderkey", "o_custkey", "o_totalprice"), "o_custkey"),
            ("customer", ("c_custkey", "c_name"), "c_custkey"),
        ):
            path = run_path(spark, f"bq_{table}")
            name = os.path.basename(path).replace("-", "_")
            (
                load(spark, sf_dir, table)
                .select(*cols)
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", path)
                .saveAsTable(name)
            )
            names.append(name)
        return names

    t_orders, t_cust = session_memo(spark, "bucketed_join", sf_dir, stage)
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    # merge hint pins sort-merge (a broadcast would also be
    # shuffle-free but would not prove the bucketed layout is used).
    joined = o.join(c.hint("merge"), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_name", "o_totalprice"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    if "Exchange" in plan:
        raise AssertionError(f"bucketed join still shuffles:\n{plan}")
    if "SortMergeJoin" not in plan:
        raise AssertionError(f"bucketed join did not sort-merge:\n{plan}")
    return joined


# ---------------------------------------------------------------------------
# §2.3 extra: Bloom-filter pre-join (runtime row-level filtering,
# declared and auditable)
# ---------------------------------------------------------------------------

def _obloom_probes(key_expr: str, src: str, n_bits: int, k: int, salt: str) -> str:
    """UNION-ALL CTE body: one (row key, probe position) arm per salt."""
    return " UNION ALL ".join(
        f"SELECT *, {omd5bucket(key_expr, f'{salt}:{i}', n_bits)} AS pos FROM {src}"
        for i in range(k)
    )


@declare(
    "join_bloom",
    f"""
    WITH keys AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
    kp AS ({_obloom_probes('c_custkey', 'keys', 2048, 3, 'bloom:v1')}),
    words AS (
      SELECT pos // 32 AS w, bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
      FROM kp GROUP BY pos // 32),
    op AS ({_obloom_probes('o_custkey', 'orders', 2048, 3, 'bloom:v1')}),
    checked AS (
      SELECT o_orderkey, ANY_VALUE(o_custkey) AS o_custkey,
             ANY_VALUE(o_orderpriority) AS o_orderpriority,
             bool_and((COALESCE(word, 0) & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) <> 0)
               AS bloom_pass
      FROM op LEFT JOIN words ON words.w = op.pos // 32
      GROUP BY o_orderkey),
    flagged AS (
      SELECT c.o_orderpriority, c.bloom_pass,
             (k.c_custkey IS NOT NULL) AS is_member
      FROM checked c LEFT JOIN keys k ON k.c_custkey = c.o_custkey)
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE bloom_pass) AS n_bloom_pass,
           COUNT(*) FILTER (WHERE bloom_pass AND is_member) AS n_member,
           COUNT(*) FILTER (WHERE bloom_pass AND NOT is_member) AS n_false_pos
    FROM flagged GROUP BY o_orderpriority
    """,
    _J,
    "Bloom-filter pre-join: BUILDING-segment customer keys compress "
    "into a broadcast 2048-bit / 3-probe bitmap (md5-derived "
    "positions — engine- and retry-stable); orders are tested "
    "MAP-SIDE, so at 100 TB the fact side sheds non-matching rows "
    "before any shuffle — the bitmap is O(bits) regardless of key "
    "count, where a broadcast of the key set itself would grow "
    "unboundedly. Output audits the trade: per-priority pass / true-"
    "member / false-positive counts (FP rate ≈ (1-e^(-kn/m))^k) let "
    "a pipeline decide whether the residual exact join must run.",
)
def join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .distinct()
    )
    bloom = joins.bloom_build(dim, "c_custkey", n_bits=2048, k=3, salt="bloom:v1")
    fact = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    passed = joins.bloom_prefilter(
        fact, "o_custkey", bloom, n_bits=2048, k=3, salt="bloom:v1"
    )
    member = passed.join(
        F.broadcast(dim.withColumn("is_member", F.lit(True))),
        passed.o_custkey == dim.c_custkey,
        "left",
    ).select(
        "o_orderpriority",
        "bloom_pass",
        F.coalesce("is_member", F.lit(False)).alias("is_member"),
    )
    one = F.lit(1)
    return member.groupBy("o_orderpriority").agg(
        F.count(one).alias("n_orders"),
        F.count(F.when(F.col("bloom_pass"), one)).alias("n_bloom_pass"),
        F.count(F.when(F.col("bloom_pass") & F.col("is_member"), one)).alias("n_member"),
        F.count(F.when(F.col("bloom_pass") & ~F.col("is_member"), one)).alias(
            "n_false_pos"
        ),
    )


@declare(
    "join_shuffle_hash",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS sum_keys
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    _J,
    "Shuffle-hash join, pinned by hint and ASSERTED in the physical "
    "plan: for a mid-size build side that exceeds the broadcast "
    "threshold but fits executor memory, hashing beats sort-merge by "
    "skipping both sort passes — the physical strategy you reach for "
    "at 100 TB when the dim is 10 GB, not 10 MB. The builder fails "
    "loudly if Catalyst silently falls back to sort-merge, so the "
    "claimed plan IS the executed plan.",
)
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    from contextlib import redirect_stdout

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = o.join(
        c.hint("shuffle_hash"), o.o_custkey == c.c_custkey
    ).groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_orderkey").cast("long")).alias("sum_keys"),
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    if "ShuffledHashJoin" not in plan:
        raise AssertionError(f"hint did not pin a shuffled hash join:\n{plan}")
    return joined


@declare(
    "join_temporal",
    """
    WITH versions AS (
      SELECT user_id, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS version_no
      FROM events WHERE event_type = 'signup'),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_id, p.user_id,
           CAST(v.version_no AS BIGINT) AS version_no
    FROM purchases p JOIN versions v
      ON v.user_id = p.user_id
     AND p.ts >= v.valid_from
     AND (v.valid_to IS NULL OR p.ts < v.valid_to)
    """,
    _J,
    "Temporal (SCD2-validity) join: each purchase matched to the dim "
    "VERSION valid at its event time — valid_from/valid_to windows "
    "derived with one lead() pass, then an equi-join on the natural "
    "key with the validity range as a residual predicate. This is "
    "the fact-to-versioned-dim join every warehouse needs after "
    "enr_scd2 builds the dim; both sides shuffle once on user_id and "
    "the range check is row-local, so the plan is a plain keyed join "
    "at any scale (never a time-range cross product).",
)
def join_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("valid_from"), "event_id")
        .withColumn("valid_to", F.lead("valid_from").over(
            Window.partitionBy("user_id").orderBy("valid_from", "event_id")))
        .withColumn("version_no", F.row_number().over(
            Window.partitionBy("user_id").orderBy("valid_from", "event_id")).cast("long"))
        .drop("event_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    return purchases.join(
        versions,
        (purchases.user_id == versions.user_id)
        & (purchases.ts >= versions.valid_from)
        & (versions.valid_to.isNull() | (purchases.ts < versions.valid_to)),
    ).select("purchase_id", purchases.user_id.alias("user_id"), "version_no")


@declare(
    "join_null_safe",
    """
    WITH f AS (
      SELECT o_orderkey, NULLIF(o_orderpriority, '3-MEDIUM') AS pri_key
      FROM orders),
    d AS (
      SELECT DISTINCT NULLIF(o_orderpriority, '3-MEDIUM') AS pri_key,
             COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), 'UNSPECIFIED')
               AS pri_label
      FROM orders)
    SELECT f.o_orderkey, d.pri_label
    FROM f JOIN d ON f.pri_key IS NOT DISTINCT FROM d.pri_key
    """,
    _J,
    "Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match each other instead of silently dropping — the semantics "
    "dimension lookups need when 'unknown' is itself a dimension "
    "member. Spark plans <=> as a HASH join key exactly like =, so "
    "the null bucket shuffles to ONE partition — fine for a dim "
    "join (bounded dim), and the reason a fact-fact null-safe join "
    "should pre-split its null keys like any other skew.",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    key = F.expr("NULLIF(o_orderpriority, '3-MEDIUM')")
    f = o.select("o_orderkey", key.alias("pri_key"))
    d = (
        o.select(
            key.alias("pri_key"),
            F.coalesce(key, F.lit("UNSPECIFIED")).alias("pri_label"),
        )
        .distinct()
    )
    return f.join(
        F.broadcast(d), f.pri_key.eqNullSafe(d.pri_key)
    ).select("o_orderkey", "pri_label")


@declare(
    "join_lateral",
    """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2) o
    """,
    _J,
    "LATERAL (correlated) join: each customer's top-2 orders by "
    "price via a per-row correlated subquery with ORDER BY + LIMIT — "
    "the SQL-standard spelling of top-n-per-entity. Catalyst "
    "DECORRELATES it into the same keyed window/join plan the "
    "explicit win_topk_per_group builds, so the convenient syntax "
    "costs nothing at scale — no per-row subquery execution exists "
    "in the physical plan.",
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("cddp_lat_cust")
    load(spark, sf_dir, "orders").createOrReplaceTempView("cddp_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM cddp_lat_cust c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM cddp_lat_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2) o
        """
    )


@declare(
    "join_range_bucketed",
    """
    WITH e AS (
      SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events WHERE event_type = 'purchase')
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           CAST(b.sec - a.sec AS BIGINT) AS gap_sec
    FROM e a JOIN e b
      ON b.sec >= a.sec AND b.sec - a.sec <= 30 AND a.event_id < b.event_id
    """,
    _J,
    "PURE range join (no equi key) made scalable by time bucketing: "
    "purchases within 30 s of each other pair via an EQUI-join on "
    "30 s buckets (each left row probes its own and the next bucket) "
    "with the exact range as a residual filter — the classic rewrite "
    "that turns an O(n²) theta join into a bounded-bucket hash join; "
    "candidates per row are bounded by bucket occupancy, never by "
    "table size. The oracle states the raw theta-join semantics.",
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", F.unix_timestamp("ts").cast("long").alias("sec"))
    )
    a = ev.select(
        F.col("event_id").alias("id_a"),
        F.col("sec").alias("sec_a"),
        F.explode(
            F.array(F.expr("sec div 30"), F.expr("sec div 30 + 1"))
        ).alias("bucket"),
    )
    b = ev.select(
        F.col("event_id").alias("id_b"),
        F.col("sec").alias("sec_b"),
        F.expr("sec div 30").alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("sec_b") >= F.col("sec_a"))
            & (F.col("sec_b") - F.col("sec_a") <= 30)
            & (F.col("id_a") < F.col("id_b"))
        )
        .select(
            "id_a", "id_b", (F.col("sec_b") - F.col("sec_a")).alias("gap_sec")
        )
        # no dedup needed: a pair matches exactly one b-side bucket
        # (b's own), so the explode can never double-emit it
    )


@declare(
    "join_asof_nearest",
    """
    WITH f AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         d AS (SELECT user_id, ts AS sign_ts FROM events
               WHERE event_type = 'signup'),
         j AS (SELECT f.event_id, f.user_id, f.ts, d.sign_ts,
                      ROW_NUMBER() OVER (
                        PARTITION BY f.event_id
                        ORDER BY ABS(date_diff('microsecond', d.sign_ts, f.ts)),
                                 d.sign_ts) AS rn
               FROM f LEFT JOIN d ON f.user_id = d.user_id)
    SELECT event_id, user_id, sign_ts,
           CASE WHEN sign_ts IS NULL THEN NULL
                WHEN sign_ts <= ts THEN 'backward'
                ELSE 'forward' END AS direction
    FROM j WHERE rn = 1
    """,
    _J,
    "Nearest as-of join (pandas merge_asof direction='nearest'): "
    "each purchase matched to the user's closest signup in EITHER "
    "time direction, ties to the earlier one — the variant sensor "
    "alignment and event attribution need where backward-only "
    "(join_asof) drops rows that only have a later match. Distance "
    "is microsecond-exact integer arithmetic; same composition as "
    "join_asof — equi-join on the user plus one per-event top-1 "
    "window, one shuffle, no driver loop.",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    direction = (
        F.when(F.col("sign_ts").isNull(), F.lit(None).cast("string"))
        .when(F.col("sign_ts") <= F.col("ts"), "backward")
        .otherwise("forward")
    )
    return _asof_signup(spark, sf_dir, "nearest").select(
        "event_id", "user_id", "sign_ts", direction.alias("direction")
    )


@declare(
    "join_spatial_grid",
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
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             a.lat_u - b.lat_u AS dlat, a.lon_u - b.lon_u AS dlon
      FROM cells a
      JOIN cells b
        ON b.gy BETWEEN a.gy - 1 AND a.gy + 1
       AND b.gx BETWEEN a.gx - 1 AND a.gx + 1
       AND a.id < b.id)
    SELECT id_a, id_b,
           dlat * dlat + dlon * dlon AS dist_sq_u
    FROM cand
    WHERE dlat * dlat + dlon * dlon <= CAST(1000000 AS BIGINT) * 1000000
    """,
    _J,
    "Grid-bucketed spatial join: points within 1 degree pair via a "
    "1°-cell grid — each point probes only its 3×3 neighbor cells, "
    "so candidate work is density-bounded instead of the O(n²) "
    "cross-distance a naive spatial join pays (THE standard "
    "distributed spatial pattern; the refine step is an exact "
    "integer micro-degree squared distance, no trig to drift "
    "between engines). Coordinates are a closed-form fixture "
    "(customer keys → micro-degrees) so the oracle replays "
    "everything. At 100 TB the grid key is the shuffle key: "
    "equi-join on cells, never a theta-join on distance.",
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explode-into-9-probe-cells equi-join (never a BETWEEN
    # theta-join Spark can only nested-loop) — the shared engine op
    # the YAML `spatial_grid` surface also compiles to.
    from configdrivendatapipeline_spark.analytics import spatial_grid_pairs

    cust = load(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey").cast("long") * 7919) % 180000001 - 90000000)
        .alias("lat_u"),
        ((F.col("c_custkey").cast("long") * 104729) % 360000001 - 180000000)
        .alias("lon_u"),
    )
    return spatial_grid_pairs(pts, radius_u=1_000_000)


@declare(
    "join_role_playing",
    """
    WITH bounds AS (
      SELECT LEAST((SELECT MIN(CAST(o_orderdate AS DATE)) FROM orders),
                   (SELECT MIN(CAST(l_shipdate AS DATE)) FROM lineitem)) AS lo,
             GREATEST((SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders),
                      (SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem)) AS hi),
    dim AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS date_key,
             (dayofweek(unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE)
              IN (0, 6)) AS is_weekend
      FROM bounds),
    f AS (
      SELECT l.l_orderkey, l.l_linenumber,
             CAST(o.o_orderdate AS DATE) AS od,
             CAST(l.l_shipdate AS DATE) AS sd
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
    SELECT ord.is_weekend AS ordered_weekend,
           shp.is_weekend AS shipped_weekend,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(date_diff('day', f.od, f.sd) AS BIGINT)) AS BIGINT)
             AS total_lag_days
    FROM f
    JOIN dim ord ON ord.date_key = f.od
    JOIN dim shp ON shp.date_key = f.sd
    GROUP BY ord.is_weekend, shp.is_weekend
    """,
    _J,
    "Role-playing dimension join: ONE conformed calendar dimension "
    "joined twice under different roles (order date, ship date) — "
    "the Kimball pattern that keeps weekday semantics identical "
    "across every date role instead of re-deriving them per column "
    "(where the Spark-vs-SQL weekday-numbering trap bites twice). "
    "Both dim joins broadcast (calendar-sized); the rollup shows "
    "weekend-ordered vs weekend-shipped volume and exact order→ship "
    "lag.",
)
def join_role_playing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    both = li.select(
        F.col("l_shipdate").cast("date").alias("d")
    ).unionByName(orders.select(F.col("o_orderdate").cast("date").alias("d")))
    bounds = both.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    dim = (
        bounds.select(
            F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d0")
        )
        .select(F.col("d0").cast("date").alias("date_key"))
        .withColumn("is_weekend", F.expr("dayofweek(date_key) IN (1, 7)"))
    )
    f = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        F.col("o_orderdate").cast("date").alias("od"),
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    ordd = dim.select(
        F.col("date_key").alias("od"), F.col("is_weekend").alias("ordered_weekend")
    )
    shpd = dim.select(
        F.col("date_key").alias("sd"), F.col("is_weekend").alias("shipped_weekend")
    )
    return (
        f.join(F.broadcast(ordd), "od")
        .join(F.broadcast(shpd), "sd")
        .groupBy("ordered_weekend", "shipped_weekend")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.datediff("sd", "od").cast("long")).alias("total_lag_days"),
        )
    )
