"""Declared query inventory — the binding contract of SURVEY.md §2.

Each SURVEY.md §2 operator row becomes one :class:`DeclaredQuery`:
a ``(spark, sf_dir) -> DataFrame`` builder plus (where the operator is
SQL-expressible) the equivalent DuckDB oracle SQL. ``__spark_entry__``
exposes the registry to the driver, which hash-compares both sides.

Determinism conventions (SURVEY.md §5, FIXTURES.md):

- alias every computed column identically on both sides;
- floating aggregates go through :func:`dsum` / :func:`davg`
  (decimal-exact sums, then a single double round) so summation order
  can never flip a hash;
- collected lists are ``array_sort``-ed; no ``current_timestamp``,
  ``monotonically_increasing_id`` or unordered ``first()``;
- timestamps are emitted as dates or truncated timestamps only;
- never integer-divide a POSSIBLY-NEGATIVE numerator: negative
  integer division is convention-defined (floor vs truncate).
  Measured today BOTH engines truncate toward zero on
  BIGINT/HUGEINT operands (pinned as a canary in
  tests/test_money_sum_magnitude.py), but agreement must not rest
  on that coincidence of conventions. Keep numerators provably
  non-negative (weighted-average forms, abs-based magnitudes) or
  sign-decompose: ``sign(x) * (abs(x) div d)``, which equals trunc
  by construction on any engine;
- never emit DECIMAL/array/map-typed OUTPUT columns: the driver's
  canonicalizer hashes Spark's ``decimal.Decimal``/list cells
  differently from DuckDB's float64/ndarray rendering even when every
  value is equal. Keep such casts in-plan but re-emit as string
  (decimal→string preserves scale identically in both engines) or
  re-cast to double/bigint.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from configdrivendatapipeline_spark.session import session_memo

QueryFn = Callable[[SparkSession, str], DataFrame]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class DeclaredQuery:
    """One SURVEY.md §2 operator: Spark builder + DuckDB oracle."""

    name: str
    build: QueryFn
    oracle: str | None  # None → driver runs rows-only check
    section: str = ""
    doc: str = ""


_REGISTRY: dict[str, DeclaredQuery] = {}


def declare(
    name: str, oracle: str | None, section: str = "", doc: str = ""
) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a query under its SURVEY.md §2 id."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query id: {name}")
        _REGISTRY[name] = DeclaredQuery(
            name=name, build=fn, oracle=oracle, section=section, doc=doc or (fn.__doc__ or "")
        )
        return fn

    return wrap


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any caller-supplied SparkSession safe for these queries:
    ns-parquet readable and deterministic UTC timestamps. Both are
    runtime-settable SQL confs; our own session factory already sets
    them, but the driver hands us ITS session. Applied once per
    session — a registry sweep calls this per query and the conf
    round-trips add up."""

    def apply() -> None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # Right-size reducers only when the caller left Spark's static
        # default (200 is 6× the data at these SFs); never override an
        # explicit choice.
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    session_memo(spark, "confs", None, apply)


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Canonicalize an event-time column to TimestampType (UTC).

    The driver's parquet has shipped ``events.ts`` in several physical
    flavors across rounds: TIMESTAMP(NANOS) (reads as long under
    ``nanosAsLong`` — truncate to µs exactly like DuckDB's ns→µs
    cast), TIMESTAMP(MICROS, isAdjustedToUTC=false) (reads as
    TIMESTAMP_NTZ in Spark 4 — value-preserving cast under the UTC
    session zone), or plain TIMESTAMP. All three land on the same
    wall-clock instants; TimestampType is required by ``withWatermark``
    and keeps stream/batch/oracle parity.
    """
    t = dict(df.dtypes).get(col)
    if t == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif t == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def ts_normalize_expr(dtype: str, col: str = "ts") -> str:
    """SQL-expression twin of :func:`normalize_ts` for config surfaces
    (YAML derive steps) that pass expressions, not DataFrames."""
    if dtype == "bigint":
        return f"timestamp_micros({col} div 1000)"
    if dtype == "timestamp_ntz":
        return f"cast({col} as timestamp)"
    return col


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md).

    ``events.ts`` is normalized to TimestampType (see
    :func:`normalize_ts`) so both engines see identical timestamps.
    The reader frame is memoized per session and table: plans are
    immutable and a fixture never changes mid-run, so re-deriving the
    schema per query (240+ queries × ~4 tables × ~50 ms of footer
    reads) is pure overhead. A new ``sf_dir`` replaces the entry.
    """

    def read() -> DataFrame:
        ensure_session_confs(spark)
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        return normalize_ts(df) if table == "events" else df

    return session_memo(spark, ("load", table), sf_dir, read)


def evidence_order(
    names: list[str], evidence_dir: Path = Path(__file__).resolve().parents[2]
) -> list[str]:
    """``names`` ordered stalest driver evidence first, read from the
    ``CORRECTNESS_r<N>.json`` files in ``evidence_dir`` (default: the
    repo root, which holds ``__spark_entry__.py``).

    The driver hash-checks only the first ~50 registry ids per round,
    so registry order is the correctness-coverage budget. An id is
    green in round N only if ``CORRECTNESS_r<N>.json`` shows rows,
    schema and hash matching (``hash_match`` literally True: a
    rows-only pass is not hash evidence) and no ``err``; a non-dict
    entry counts as no evidence. Sort key: ``(latest green round or
    -1, id)`` — never-green ids first, then the oldest evidence,
    alphabetical within a round (alphabetical overall with no files).
    """
    latest: dict[str, int] = {}
    for f in evidence_dir.glob("CORRECTNESS_r*.json"):
        rnd = int(re.match(r"CORRECTNESS_r(\d+)", f.name).group(1))
        for qid, res in json.loads(f.read_text()).items():
            if (
                isinstance(res, dict)
                and res.get("rows_match")
                and res.get("schema_match")
                and res.get("hash_match") is True
                and not res.get("err")
            ):
                latest[qid] = max(rnd, latest.get(qid, -1))
    return sorted(names, key=lambda n: (latest.get(n, -1), n))


def registry() -> dict[str, DeclaredQuery]:
    """Import all query modules and return the full registry in
    :func:`evidence_order`, so a budget-limited driver always verifies
    the least-proven operators first. ``list(registry())[:50]`` is the
    next driver window.
    """
    # Imports are deferred so a syntax error in one section surfaces
    # here (driver-visible) rather than at package import.
    from configdrivendatapipeline_spark.queries import (  # noqa: F401
        windows,
        validation_q,
        sources_q,
        udf_q,
        pipeline_q,
        streaming_q,
        llm_q,
        aggregates,
        enrichment_q,
        relational,
        scalar_fns,
        sorts_sets,
    )

    return {n: _REGISTRY[n] for n in evidence_order(list(_REGISTRY))}


# ---------------------------------------------------------------------------
# Determinism helpers (shared by every query module)
# ---------------------------------------------------------------------------

#: Element type for exact money sums. Scale 6 is load-bearing: every
#: summed expression in declared queries is a product of ≤3 two-dp
#: factors, so its true decimal expansion has ≤6 digits — the double
#: sits within ~1e-11 of an exact scale-6 grid point, far from any
#: tie, so Spark's and DuckDB's double→decimal casts must agree.
#: (Scale 4 fails: 6-digit products land exactly ON scale-4 ties and
#: the two engines break ties differently — observed on 0.5% of rows.)
DEC = "decimal(18,6)"

#: Exact integer micro-units of the 2-dp double ``events.value``: the
#: form every running, windowed or streaming value sum goes through,
#: so summation order can never change a result.
VU = "CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)"

_MILLION = __import__("decimal").Decimal(1_000_000)


def _sum6(c: Column) -> Column:
    """Exact SUM as an integer count of micro-units, kept DECIMAL.

    No long cast: a coarse group of a 100-TB money table passes
    9.2e18 micro-units (~$9.2T) where CAST AS BIGINT silently wraps
    on Spark and ERRORS on DuckDB — the one failure mode worse than
    wrong is the two engines failing differently. The integer-valued
    decimal converts to double exactly once at the cents division
    (IEEE round-to-nearest of the same exact integer on both
    engines), so parity holds at any magnitude."""
    return F.floor(F.sum(c.cast(DEC)) * F.lit(_MILLION))


def dsum(col: Column | str, alias: str) -> Column:
    """Order- and engine-independent SUM of a double column, emitted
    as a double rounded to cents.

    Doubles sum order-dependently; decimals sum exactly. Cast each
    element to scale-6 decimal (exact, see ``DEC``), sum exactly,
    round to cents via ``floor((s6 + 5000) / 10000)`` — integer-exact
    inputs through one identically-rounded IEEE division — so neither
    summation order nor ROUND tie-break semantics can flip a hash.
    Only pass expressions whose true decimal expansion has ≤6 digits.
    DuckDB twin: :func:`odsum`.
    """
    c = F.col(col) if isinstance(col, str) else col
    # explicit double cast BEFORE the division: decimal / int would be
    # DECIMAL division (different rounding); this keeps the original
    # one-IEEE-division structure with no BIGINT cliff upstream
    cents = F.floor((_sum6(c) + F.lit(5000)).cast("double") / F.lit(10000))
    return (cents.cast("double") / 100).alias(alias)


def odsum(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`dsum` (identical arithmetic)."""
    s6 = f"CAST(FLOOR(SUM(CAST({expr} AS DECIMAL(18,6))) * 1000000) AS HUGEINT)"
    return (
        f"CAST(FLOOR(CAST({s6} + 5000 AS DOUBLE) / 10000) AS DOUBLE)"
        f" / 100 AS {alias}"
    )


def omd5bucket(key_expr: str, salt: str, buckets: int) -> str:
    """DuckDB twin of ``llm.sampling.hash_bucket``: fold the first 8
    hex chars of md5(key ":" salt) to a BIGINT, mod ``buckets`` — md5
    is the one hash both engines share, so every hash-routed operator
    (splits, shards, Bloom probes) is replayable bit-for-bit."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(substr(md5("
        f"CAST({key_expr} AS VARCHAR) || ':{salt}'), 1, 8), ''), "
        "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))), "
        f"(a, b) -> a * 16 + b) % {buckets}"
    )


def davg(col: Column | str, alias: str) -> Column:
    """Order- and engine-independent AVG rounded to cents.

    ``round_half_up(s6 / (1e6·n), 2) == floor((2·s6 + 1e4·n) /
    (2e4·n))`` — exact integer numerators through one IEEE division
    that both engines round identically. DuckDB twin: :func:`odavg`.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c)
    cents = F.floor(
        (_sum6(c) * 2 + n * 10000).cast("double") / (n * 20000)
    )
    return (cents.cast("double") / 100).alias(alias)


def odavg(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`davg` (identical arithmetic)."""
    s6 = f"CAST(FLOOR(SUM(CAST({expr} AS DECIMAL(18,6))) * 1000000) AS HUGEINT)"
    return (
        f"CAST(FLOOR(CAST({s6} * 2 + COUNT({expr}) * 10000 AS DOUBLE)"
        f" / (COUNT({expr}) * 20000)) AS DOUBLE) / 100 AS {alias}"
    )


def r2(col: Column, alias: str) -> Column:
    """Round a scalar double expression to 2dp (both sides identical).

    ``+ 0.0`` normalizes any negative zero (IEEE ``-0.0 + 0.0 = +0.0``).
    Spark's ``F.round`` (BigDecimal HALF_UP) can never emit ``-0.0``,
    but DuckDB's C-style ``round`` can — so every oracle ``ROUND`` over
    a possibly-negative expression must carry a matching ``+ 0.0``, and
    this side carries it too so the normalization is symmetric.
    """
    return (F.round(col, 2).cast("double") + F.lit(0.0)).alias(alias)
