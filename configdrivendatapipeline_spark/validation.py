"""Validation rule engine — "customisable validation"
(/root/reference/README.md:2), SURVEY.md §2.8.

A rule is config: ``{rule, columns|column, params..., on_fail}``.
Rules compile to Column predicates ("row rules") or dataset-level
aggregates ("set rules"); running them yields:

- a **metrics DataFrame** ``(rule_name, n_checked, n_failed, passed)``
- optionally a **valid/invalid row split** (quarantine pattern).

Scale notes: all row rules evaluate in ONE pass (a single aggregate
over indicator columns — never one scan per rule); set rules
(unique, referential integrity) are aggregates/anti-joins that shuffle
once on their key. Nothing collects to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One validation rule instance."""

    name: str
    rule: str  # type: not_null | range | set | regex | expression | ...
    params: dict[str, Any] = field(default_factory=dict)
    on_fail: str = "warn"  # fail | warn | quarantine


# ---------------------------------------------------------------------------
# Row-level rules: config → failure predicate (true ⇒ row FAILS)
# ---------------------------------------------------------------------------


def _fail_not_null(p: dict[str, Any]) -> Column:
    return F.col(p["column"]).isNull()


def _fail_range(p: dict[str, Any]) -> Column:
    c = F.col(p["column"])
    lo, hi = p.get("min"), p.get("max")
    if lo is None and hi is None:
        # without at least one bound the rule passes every row — a
        # typo'd `mim:`/`mx:` key silently turns the check off
        raise KeyError("min/max")
    ok = F.lit(True)
    if lo is not None:
        ok = ok & (c >= F.lit(lo))
    if hi is not None:
        ok = ok & (c <= F.lit(hi))
    return ~F.coalesce(ok, F.lit(False))


def _fail_set(p: dict[str, Any]) -> Column:
    if not p["allowed"]:
        # isin() of an empty list is false for EVERY row — the rule
        # would quarantine the whole dataset; an empty allowed list is
        # a config error, not a judgment
        raise ValueError(
            f"set rule on {p['column']!r}: allowed values list is empty"
        )
    return ~F.coalesce(F.col(p["column"]).isin(*p["allowed"]), F.lit(False))


def _fail_regex(p: dict[str, Any]) -> Column:
    return ~F.coalesce(F.col(p["column"]).rlike(p["pattern"]), F.lit(False))


def _fail_expression(p: dict[str, Any]) -> Column:
    # User SQL states what a VALID row satisfies.
    return ~F.coalesce(F.expr(p["sql"]), F.lit(False))


ROW_RULES = {
    "not_null": _fail_not_null,
    "range": _fail_range,
    "set": _fail_set,
    "regex": _fail_regex,
    "expression": _fail_expression,
}


def row_fail_predicate(rule: Rule) -> Column:
    """Compile one row rule to its failure predicate."""
    builder = ROW_RULES.get(rule.rule)
    if builder is None:
        raise ValueError(f"unknown row rule type: {rule.rule!r}")
    try:
        return builder(rule.params)
    except KeyError as exc:
        # A builder's KeyError is a MISSING PARAM (e.g. a typo'd
        # `colum:`), not an unknown rule — the old broad except
        # rebranded it as "unknown row rule type: 'not_null'", which
        # sent users hunting the wrong bug.
        raise ValueError(
            f"row rule {rule.name!r} ({rule.rule}): missing required "
            f"param {exc.args[0]!r} (got: {sorted(rule.params)})"
        ) from None


# ---------------------------------------------------------------------------
# Engine
# ---------------------------------------------------------------------------

@dataclass
class ValidationResult:
    metrics: DataFrame  # (rule_name, n_checked, n_failed, passed)
    valid: DataFrame | None = None
    invalid: DataFrame | None = None


def run_rules(
    df: DataFrame,
    rules: list[Rule],
    dims: dict[str, DataFrame] | None = None,
    split: bool = False,
) -> ValidationResult:
    """Run all rules over ``df``; one scan for every row rule.

    ``dims`` supplies lookup tables for ``ref_integrity`` rules.
    ``split=True`` additionally returns valid/invalid row DataFrames
    (rows failing any row rule whose on_fail is 'quarantine' or
    'fail' go to invalid).
    """
    spark = df.sparkSession
    row_rules = [r for r in rules if r.rule in ROW_RULES]
    set_rules = [r for r in rules if r.rule not in ROW_RULES]

    metric_dfs: list[DataFrame] = []
    if row_rules:
        # One aggregate pass: per rule, count rows and failures.
        aggs = []
        for r in row_rules:
            fail = row_fail_predicate(r)
            aggs.append(F.count(F.lit(1)).alias(f"__n_{r.name}"))
            aggs.append(F.sum(fail.cast("long")).alias(f"__f_{r.name}"))
        wide = df.agg(*aggs)
        # Unpivot the single wide row into (rule_name, n_checked, n_failed).
        parts = []
        for r in row_rules:
            parts.append(
                F.struct(
                    F.lit(r.name).alias("rule_name"),
                    F.col(f"__n_{r.name}").alias("n_checked"),
                    F.col(f"__f_{r.name}").alias("n_failed"),
                )
            )
        metric_dfs.append(
            wide.select(F.explode(F.array(*parts)).alias("m")).select(
                "m.rule_name",
                "m.n_checked",
                F.coalesce("m.n_failed", F.lit(0)).alias("n_failed"),
            )
        )

    for r in set_rules:
        try:
            metric_dfs.append(_run_set_rule(df, r, dims or {}))
        except KeyError as exc:
            # same friendly contract as row_fail_predicate: a missing
            # param or dim table is a config error, named as such
            raise ValueError(
                f"set rule {r.name!r} ({r.rule}): missing required "
                f"param or dim table {exc.args[0]!r} "
                f"(got params: {sorted(r.params)})"
            ) from None

    if not metric_dfs:
        raise ValueError("no rules supplied")
    metrics = reduce(lambda a, b: a.unionByName(b), metric_dfs).withColumn(
        "passed", F.col("n_failed") == 0
    )

    valid = invalid = None
    if split:
        gating = [
            row_fail_predicate(r)
            for r in row_rules
            if r.on_fail in ("quarantine", "fail")
        ]
        if gating:
            any_fail = reduce(lambda a, b: a | b, gating)
            invalid = df.filter(any_fail)
            valid = df.filter(~any_fail)
        else:
            valid, invalid = df, df.limit(0)
    return ValidationResult(metrics=metrics, valid=valid, invalid=invalid)


def _run_set_rule(df: DataFrame, r: Rule, dims: dict[str, DataFrame]) -> DataFrame:
    p = r.params
    if r.rule == "unique":
        keys = p["columns"] if "columns" in p else [p["column"]]
        dup = (
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") > 1)
            .agg(
                F.coalesce(F.sum("__cnt"), F.lit(0)).alias("n_failed"),
            )
        )
        total = df.agg(F.count(F.lit(1)).alias("n_checked"))
        return (
            total.crossJoin(dup)
            .select(
                F.lit(r.name).alias("rule_name"),
                "n_checked",
                "n_failed",
            )
        )
    if r.rule == "ref_integrity":
        dim = dims[p["ref_table"]]
        orphans = df.join(
            dim.select(F.col(p["ref_column"]).alias("__refkey")).distinct(),
            F.col(p["column"]) == F.col("__refkey"),
            "left_anti",
        )
        return (
            df.agg(F.count(F.lit(1)).alias("n_checked"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_failed")))
            .select(F.lit(r.name).alias("rule_name"), "n_checked", "n_failed")
        )
    if r.rule == "row_count":
        lo = p.get("min", 0)
        hi = p.get("max")
        agg = df.agg(F.count(F.lit(1)).alias("n_checked"))
        cond = F.col("n_checked") >= F.lit(lo)
        if hi is not None:
            cond = cond & (F.col("n_checked") <= F.lit(hi))
        return agg.select(
            F.lit(r.name).alias("rule_name"),
            "n_checked",
            F.when(cond, F.lit(0)).otherwise(F.lit(1)).cast("long").alias("n_failed"),
        )
    if r.rule == "freshness":
        agg = df.agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.max(p["column"]).alias("__max_ts"),
        )
        return agg.select(
            F.lit(r.name).alias("rule_name"),
            "n_checked",
            F.when(F.col("__max_ts") >= F.lit(p["min_ts"]), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("n_failed"),
        )
    if r.rule == "zscore":
        # Statistical outlier rule: flag rows with |x − μ| > k·σ.
        # μ/σ derive from DECIMAL-EXACT sums (order-independent) cast
        # to double once, so every engine computes the identical
        # threshold and the flag count is deterministic — a float-sum
        # mean would make the boundary depend on partition order.
        # Two passes over one column (stats, then flags): the honest
        # cost of a data-dependent threshold at any scale.
        col = p["column"]
        k = float(p.get("max_z", 3.0))
        x = F.col(col).cast("decimal(18,4)")
        stats = df.agg(
            F.count(col).alias("n_checked"),
            F.sum(x).cast("double").alias("__s"),
            F.sum(x * x).cast("double").alias("__ss"),
        )
        thresh = stats.select(
            "n_checked",
            (F.col("__s") / F.col("n_checked")).alias("__mu"),
            F.sqrt(
                F.col("__ss") / F.col("n_checked")
                - (F.col("__s") / F.col("n_checked"))
                * (F.col("__s") / F.col("n_checked"))
            ).alias("__sigma"),
        )
        flagged = df.crossJoin(F.broadcast(thresh)).filter(
            F.abs(F.col(col) - F.col("__mu")) > F.lit(k) * F.col("__sigma")
        )
        return (
            thresh.select("n_checked")
            .crossJoin(flagged.agg(F.count(F.lit(1)).alias("n_failed")))
            .select(F.lit(r.name).alias("rule_name"), "n_checked", "n_failed")
        )
    raise ValueError(f"unknown set rule type: {r.rule!r}")


def check_schema(df: DataFrame, expected_ddl: str) -> tuple[bool, list[str]]:
    """val_schema: compare actual schema to a declared DDL string.

    Driver-side structural check (no data scan): returns (ok, diffs).
    """
    from pyspark.sql.types import _parse_datatype_string

    expected = _parse_datatype_string(expected_ddl)
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    exp = {f.name: f.dataType.simpleString() for f in expected.fields}
    diffs = []
    for name, dt in exp.items():
        if name not in actual:
            diffs.append(f"missing column {name} ({dt})")
        elif actual[name] != dt:
            diffs.append(f"type mismatch {name}: {actual[name]} != {dt}")
    for name in actual:
        if name not in exp:
            diffs.append(f"unexpected column {name}")
    return (not diffs, diffs)


def rules_from_config(raw: list[dict[str, Any]]) -> list[Rule]:
    """Build Rule objects from config dicts (the YAML surface)."""
    out = []
    for i, rc in enumerate(raw):
        rc = dict(rc)
        rtype = rc.pop("rule")
        name = rc.pop("name", f"{rtype}_{i}")
        on_fail = rc.pop("on_fail", "warn")
        out.append(Rule(name=name, rule=rtype, params=rc, on_fail=on_fail))
    return out


def profile_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per-column profile — (column_name, n_rows, n_null, n_distinct,
    min_val, max_val) — computed in ONE scan: a single wide aggregate
    (count-distincts expand via Spark's multi-distinct rewrite), then
    an in-plan unpivot to one row per column. The ADF 'data profile'
    feature as a DataFrame transform."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"),
            F.countDistinct(c).alias(f"__dist_{c}"),
            F.min(c).cast("string").alias(f"__min_{c}"),
            F.max(c).cast("string").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("__n").alias("n_rows"),
            F.col(f"__null_{c}").alias("n_null"),
            F.col(f"__dist_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_val"),
            F.col(f"__max_{c}").alias("max_val"),
        )
        for c in columns
    ]
    return wide.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


#: round(log10(1 + 1/d) * 1e6) for d = 1..9 — Benford's law expected
#: leading-digit shares. Fixed constants (not computed with log at
#: runtime) because IEEE log is not cross-engine bit-stable and the
#: law's values are universal anyway.
BENFORD_MICRO = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)


def benford_profile(df: DataFrame, column: str) -> DataFrame:
    """Benford's-law leading-digit profile of a positive numeric
    column — the classic fabricated-data / unit-mix-up tripwire for
    financial and measurement pipelines: organically-grown magnitudes
    follow log-uniform leading digits; injected constants, unit
    rescalings, or synthetic padding show up as large deviations.

    One map-side digit extraction + one 9-group aggregation + a
    broadcast 1-row total — nothing scales beyond the scan. The
    leading digit is taken from the INTEGER cents string (leading
    digits are invariant under the ×100 power-of-ten rescale), never
    from a double's string rendering, which engines format
    differently. Shares and deviations are exact integer micro-units
    against the fixed Benford constants.
    """
    digit = F.expr(
        f"CAST(substring(CAST(CAST(FLOOR({column} * 100) AS BIGINT) AS STRING),"
        f" 1, 1) AS BIGINT)"
    )
    # Operating bound: the cents grid resolves leading digits only
    # for values >= 0.01 — below it FLOOR(x*100) is 0 and the row
    # would land in a bogus digit-0 bucket with NULL expectation,
    # silently diluting every real digit's share. Sub-cent rows are
    # excluded; rescale such columns upstream (digits are invariant
    # under power-of-ten rescaling).
    counts = (
        df.filter(F.col(column) >= 0.01)
        .select(digit.alias("first_digit"))
        .groupBy("first_digit")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    total = counts.agg(F.sum("n_rows").cast("long").alias("total"))
    bexp = F.lit(None).cast("long")
    for d, micro in enumerate(BENFORD_MICRO, start=1):
        bexp = F.when(F.col("first_digit") == d, F.lit(micro).cast("long")).otherwise(bexp)
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share_micro", F.expr("(n_rows * 1000000) div total"))
        .withColumn("benford_micro", bexp)
        .select(
            "first_digit",
            "n_rows",
            "share_micro",
            "benford_micro",
            F.abs(F.col("share_micro") - F.col("benford_micro")).alias(
                "benford_dev_micro"
            ),
        )
    )


def kanonymity_metrics(
    df: DataFrame, quasi_identifiers: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity metrics row over arbitrary quasi-identifier
    columns (see the val_kanonymity declared query for semantics):
    group sizes on the QI key, scalar rollup, no identifying combos
    in the output."""
    g = df.groupBy(*quasi_identifiers).agg(F.count(F.lit(1)).alias("n"))
    return _qi_rollup(g, "n", k, f"k_anonymity_{k}")


def ldiversity_metrics(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity metrics row: each QI group must contain at least
    ``l`` distinct values of the sensitive column (see
    val_ldiversity)."""
    g = df.groupBy(*quasi_identifiers).agg(
        F.countDistinct(sensitive).alias("nd"),
        F.count(F.lit(1)).alias("n"),
    )
    return _qi_rollup(g, "nd", l, f"l_diversity_{l}")


def _qi_rollup(g: DataFrame, measure: str, bound: int, rule_name: str) -> DataFrame:
    """One metrics row over per-QI-group sizes ``g`` (a group-size
    column ``n`` and the checked ``measure``): a group violates when
    ``measure < bound``; ``worst`` is the smallest measure, and the
    rule passes when it reaches ``bound``."""
    low = F.col(measure) < bound
    s = g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(F.sum(F.when(low, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_violating_groups"),
        F.coalesce(F.sum(F.when(low, F.col("n")).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_exposed_rows"),
        F.min(measure).alias("worst"),
    )
    return s.select(
        F.lit(rule_name).alias("rule_name"),
        "n_groups",
        "n_violating_groups",
        "n_exposed_rows",
        "worst",
        (F.col("worst") >= bound).alias("passed"),
    )
