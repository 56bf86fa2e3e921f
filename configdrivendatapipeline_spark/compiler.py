"""Config → DataFrame compiler (SURVEY.md §3.1 step 3).

Each step op is a registered builder ``(spark, inputs, params) ->
DataFrame``. Builders only *declare* DataFrame transformations —
nothing executes until a sink (or caller action) runs, so the whole
pipeline compiles to one Catalyst logical plan and the optimizer sees
every step at once (filter pushdown through joins, column pruning
across steps, join reordering).

The op surface below mirrors SURVEY.md §2; the ``sql`` op is the
escape hatch — inputs become temp views and the step body is any
Spark SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from configdrivendatapipeline_spark import enrichment
from configdrivendatapipeline_spark.config.models import PipelineConfig
from configdrivendatapipeline_spark.io import read_source, write_sink
from configdrivendatapipeline_spark.validation import rules_from_config, run_rules

OpBuilder = Callable[[SparkSession, list[DataFrame], dict[str, Any]], DataFrame]

OPS: dict[str, OpBuilder] = {}

#: op name → the parameter keys its builder actually reads, derived
#: at registration by scanning the builder source for literal
#: ``p["k"]`` / ``p.get("k")`` access. In a CONFIG-DRIVEN pipeline a
#: typo'd param key (``threshhold:``) must be a loud ConfigError at
#: compile time, not a silent fall-through to the op's default —
#: the auto-derivation can't drift from the code the way a
#: hand-maintained allowlist would. Ops with any non-literal access
#: map to None (validation skipped); as of round 9 every op is fully
#: literal (asserted by tests/test_config_layer.py).
OP_PARAM_KEYS: dict[str, frozenset | None] = {}


def _scan_param_keys(fn: OpBuilder) -> frozenset | None:
    """Literal keys ``fn`` reads off its params dict ``p``, or None
    if any access is dynamic (variable key, whole-dict iteration,
    or ``p`` escaping into another call)."""
    import ast as _ast
    import inspect
    import textwrap

    try:
        tree = _ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError):
        return None
    def _is_p(node) -> bool:
        return isinstance(node, _ast.Name) and node.id == "p"

    keys: set = set()
    for n in _ast.walk(tree):
        if isinstance(n, _ast.Compare) and any(map(_is_p, n.comparators)):
            # membership tests read a key too: `"k" in p` must land
            # in the allowlist or a valid config using only that key
            # would be rejected as a typo.
            if (
                len(n.ops) == 1
                and isinstance(n.ops[0], (_ast.In, _ast.NotIn))
                and isinstance(n.left, _ast.Constant)
            ):
                keys.add(n.left.value)
            else:
                return None
        elif isinstance(n, (_ast.For, _ast.comprehension)) and _is_p(n.iter):
            return None
        elif isinstance(n, _ast.Dict) and any(
            k is None and _is_p(v) for k, v in zip(n.keys, n.values)
        ):
            return None
        elif (
            isinstance(n, _ast.Subscript)
            and isinstance(n.value, _ast.Name)
            and n.value.id == "p"
        ):
            if isinstance(n.slice, _ast.Constant):
                keys.add(n.slice.value)
            else:
                return None
        elif isinstance(n, _ast.Call):
            f = n.func
            if (
                isinstance(f, _ast.Attribute)
                and isinstance(f.value, _ast.Name)
                and f.value.id == "p"
            ):
                if f.attr in ("get", "pop"):
                    if n.args and isinstance(n.args[0], _ast.Constant):
                        keys.add(n.args[0].value)
                    else:
                        return None
                elif f.attr in ("items", "keys", "values"):
                    return None
            else:
                for a in list(n.args) + [kw.value for kw in n.keywords]:
                    if isinstance(a, _ast.Name) and a.id == "p":
                        return None
    return frozenset(keys)


def op(name: str) -> Callable[[OpBuilder], OpBuilder]:
    def reg(fn: OpBuilder) -> OpBuilder:
        if name in OPS:
            raise ValueError(f"duplicate op id: {name}")
        OPS[name] = fn
        OP_PARAM_KEYS[name] = _scan_param_keys(fn)
        return fn

    return reg


def _one(dfs: list[DataFrame]) -> DataFrame:
    if len(dfs) != 1:
        raise ValueError(f"op expects exactly 1 input, got {len(dfs)}")
    return dfs[0]


def _sort_expr(e: str) -> Column:
    """Parse an order-by entry with an optional trailing direction.

    ``F.expr`` silently drops a trailing ``DESC`` (it parses the
    column and ignores the rest), so direction must be peeled off
    and applied via ``Column.desc()``/``asc()`` explicitly.
    """
    s = e.strip()
    for suffix, flip in ((" desc", True), (" asc", False)):
        if s.lower().endswith(suffix):
            c = F.expr(s[: -len(suffix)].strip())
            return c.desc() if flip else c.asc()
    return F.expr(s)


# --- projection / derivation ------------------------------------------------


@op("select")
def _select(spark, dfs, p):
    return _one(dfs).select(*p["columns"])


@op("rename")
def _rename(spark, dfs, p):
    return _one(dfs).withColumnsRenamed(dict(p["mapping"]))


@op("drop")
def _drop(spark, dfs, p):
    return _one(dfs).drop(*p["columns"])


@op("derive")
def _derive(spark, dfs, p):
    # {columns: {name: "sql expr", ...}} — order preserved.
    df = _one(dfs)
    return df.withColumns({name: F.expr(e) for name, e in p["columns"].items()})


@op("cast")
def _cast(spark, dfs, p):
    df = _one(dfs)
    mode = p.get("mode", "strict")
    if mode not in ("strict", "safe"):
        # a typo'd mode (`saf`) would silently run STRICT — the
        # opposite of the author's stated intent.
        raise ValueError(f"cast mode must be strict|safe, got {mode!r}")
    for name, dtype in p["columns"].items():
        tc = F.expr(f"TRY_CAST({name} AS {dtype})")
        if mode == "safe":
            c = tc
        else:
            # Genuinely strict regardless of spark.sql.ansi.enabled:
            # Column.cast silently NULLs invalid input under the
            # default non-ANSI mode, so strictness is enforced as an
            # expression — any value TRY_CAST cannot represent raises.
            c = F.when(
                F.col(name).isNotNull() & tc.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(f"cast: invalid {dtype} in column {name}: "),
                        F.col(name).cast("string"),
                    )
                ).cast(dtype),
            ).otherwise(tc)
        df = df.withColumn(name, c)
    return df


@op("filter")
def _filter(spark, dfs, p):
    return _one(dfs).filter(F.expr(p["predicate"]))


# --- joins / set ops ---------------------------------------------------------


@op("join")
def _join(spark, dfs, p):
    if len(dfs) != 2:
        raise ValueError("join expects exactly 2 inputs")
    left, right = dfs
    if p.get("broadcast"):
        right = F.broadcast(right)
    # YAML 1.1 parses a bare `on:` key as boolean True (same quirk
    # the lookup op documents); silently ignoring that key made an
    # unquoted `on: doc_id` join UNCONDITIONED — a cross-shaped
    # semi/inner join with no signal. Accept both spellings. None
    # checks, not truthiness: a present-but-empty `on` (e.g. from
    # parameter templating) must surface as the empty value it is,
    # not fall through to the True key and misdiagnose the error.
    on = p.get("on")
    if on is None:
        on = p.get(True)
    # A condition only counts if it holds a usable expression: a bare
    # `condition:` key (YAML None) or an empty-string template fill
    # must be treated as ABSENT, not handed to F.expr to die with a
    # type error.
    cond_expr = p.get("condition")
    if on is not None and not on and not cond_expr:
        # Empty-but-present `on` (e.g. `on: []` from parameter
        # templating) is only an error when no usable `condition:`
        # backs it up — with one present the empty list carries no
        # signal and the condition governs the join, as it did
        # before the guard existed.
        raise ValueError(
            f"join op `on:` is present but empty ({on!r}) — supply "
            "join column(s), remove the key, or use `condition:`"
        )
    cond = F.expr(cond_expr) if cond_expr else on
    if cond is None:
        raise ValueError(
            "join op needs `on:` (quote it: \"on\") or `condition:` — "
            "got neither, which would silently produce an "
            "unconditioned cross-shaped join"
        )
    return left.join(right, cond, p.get("how", "inner"))


@op("union")
def _union(spark, dfs, p):
    out = dfs[0]
    allow_missing = bool(p.get("harmonize"))
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=allow_missing)
    if p.get("distinct"):
        out = out.distinct()
    return out


@op("distinct")
def _distinct(spark, dfs, p):
    df = _one(dfs)
    cols = p.get("columns")
    return df.select(*cols).distinct() if cols else df.distinct()


# --- aggregation / window ----------------------------------------------------


@op("aggregate")
def _aggregate(spark, dfs, p):
    df = _one(dfs)
    aggs = [F.expr(e).alias(name) for name, e in p["aggs"].items()]
    group_by = p.get("group_by") or []
    kind = p.get("kind", "groupby")
    if kind not in ("groupby", "rollup", "cube"):
        # a typo'd kind (`rollop`) would otherwise silently degrade
        # to a plain groupBy — no subtotal rows and no signal.
        raise ValueError(
            f"aggregate kind must be groupby|rollup|cube, got {kind!r}"
        )
    if kind == "rollup":
        out = df.rollup(*group_by).agg(*aggs)
    elif kind == "cube":
        out = df.cube(*group_by).agg(*aggs)
    elif group_by:
        out = df.groupBy(*group_by).agg(*aggs)
    else:
        out = df.agg(*aggs)
    if p.get("having"):
        out = out.filter(F.expr(p["having"]))
    return out


@op("pivot")
def _pivot(spark, dfs, p):
    df = _one(dfs)
    return (
        df.groupBy(*p["group_by"])
        .pivot(p["pivot_column"], p["values"])
        .agg(F.expr(p["agg"]))
    )


@op("unpivot")
def _unpivot(spark, dfs, p):
    return _one(dfs).unpivot(
        p["ids"], p["values"], p.get("var_name", "metric"), p.get("value_name", "value")
    )


@op("window")
def _window(spark, dfs, p):
    df = _one(dfs)
    w = Window.partitionBy(*(p.get("partition_by") or []))
    if p.get("order_by"):
        w = w.orderBy(*[_sort_expr(e) for e in p["order_by"]])
    frame = p.get("rows_between")
    if frame:
        # Both bounds accept both symbols ('unbounded' resolves per
        # side), so forward-looking frames like [current, unbounded]
        # work instead of dying in int('current').
        def bound(v, unbounded):
            if v == "unbounded":
                return unbounded
            if v == "current":
                return Window.currentRow
            return int(v)

        lo = bound(frame[0], Window.unboundedPreceding)
        hi = bound(frame[1], Window.unboundedFollowing)
        w = w.rowsBetween(lo, hi)
    return df.withColumns({name: F.expr(e).over(w) for name, e in p["columns"].items()})


@op("dedup")
def _dedup(spark, dfs, p):
    """Keep one row per key: latest by order_by (win_dedup_latest)."""
    df = _one(dfs)
    if not p.get("order_by"):
        return df.dropDuplicates(p["keys"])
    w = Window.partitionBy(*p["keys"]).orderBy(
        *[_sort_expr(e) for e in p["order_by"]]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- sort / limit -------------------------------------------------------------


@op("sort")
def _sort(spark, dfs, p):
    return _one(dfs).orderBy(*[_sort_expr(e) for e in p["by"]])


@op("limit")
def _limit(spark, dfs, p):
    return _one(dfs).limit(int(p["n"]))


# --- SQL escape hatch ----------------------------------------------------------


@op("sql")
def _sql(spark, dfs, p):
    # inputs are registered under the names given in params.views
    # (aligned with the step's inputs list), default t1..tn.
    views = p.get("views") or [f"t{i+1}" for i in range(len(dfs))]
    if len(views) != len(dfs):
        # zip would silently drop the extra inputs, and the query
        # would then resolve a missing view name to whatever stale
        # temp view an earlier sql step left in the session.
        raise ValueError(
            f"sql op: {len(dfs)} inputs but {len(views)} view names"
        )
    for name, df in zip(views, dfs):
        df.createOrReplaceTempView(name)
    # ``args`` binds :name parameter markers server-side — values
    # never concatenate into SQL text, so a config value can't
    # change query STRUCTURE (the injection-safe channel; the
    # ${param} substitution layer is for structure by design).
    args = p.get("args")
    return spark.sql(p["query"], args=args) if args else spark.sql(p["query"])


# --- validation / enrichment ---------------------------------------------------


@op("validate")
def _validate(spark, dfs, p):
    """Emit the metrics DataFrame (output: metrics) or the valid/
    invalid split of the input rows."""
    df = dfs[0]
    dims = {}
    if len(dfs) > 1:
        dim_names = p.get("dim_names") or [f"dim{i}" for i in range(len(dfs) - 1)]
        dims = dict(zip(dim_names, dfs[1:]))
    rules = rules_from_config(p["rules"])
    output = p.get("output", "metrics")
    if output not in ("metrics", "valid", "invalid"):
        raise ValueError(
            f"validate output must be metrics|valid|invalid, got {output!r}"
        )
    res = run_rules(df, rules, dims=dims, split=output in ("valid", "invalid"))
    return {"metrics": res.metrics, "valid": res.valid, "invalid": res.invalid}[output]


@op("lookup")
def _lookup(spark, dfs, p):
    fact, dim = dfs
    # YAML 1.1 parses a bare `on:` key as boolean True — accept both
    # spellings but document `keys:`. None checks, not truthiness,
    # so a present-but-empty mapping errors as empty rather than
    # falling through to the next spelling.
    on = p.get("keys")
    if on is None:
        on = p.get("on")
    if on is None:
        on = p.get(True)
    if not on:
        raise ValueError(
            f"lookup op needs a non-empty `keys:` mapping, got {on!r}"
        )
    return enrichment.lookup(
        fact,
        dim,
        on=dict(on),
        take=dict(p["take"]),
        defaults=p.get("defaults"),
        broadcast=p.get("broadcast", True),
    )


@op("standardize")
def _standardize(spark, dfs, p):
    return enrichment.standardize(_one(dfs), p["columns"])


@op("bucketize")
def _bucketize(spark, dfs, p):
    return enrichment.bucketize(
        _one(dfs), p["column"], p["bounds"], p["labels"], p.get("out", "bucket")
    )


@op("surrogate_key")
def _surrogate_key(spark, dfs, p):
    return enrichment.surrogate_key(
        _one(dfs), p["order_by"], p.get("out", "sk"), p.get("partition_by")
    )


@op("audit")
def _audit(spark, dfs, p):
    return enrichment.audit_columns(_one(dfs), p["load_id"], p["source_name"])


@op("scd2")
def _scd2(spark, dfs, p):
    """``tiebreak``: order columns breaking same-instant versions of
    one key deterministically (see enrichment.scd2 — without it,
    which same-ts version is 'current' is engine-arbitrary)."""
    return enrichment.scd2(
        _one(dfs),
        p["key"],
        p["ts"],
        p.get("attrs"),
        tiebreak_cols=list(p.get("tiebreak", [])) or None,
    )


@op("merge")
def _merge(spark, dfs, p):
    if len(dfs) != 2:
        raise ValueError("merge expects exactly 2 inputs (target, updates)")
    return enrichment.merge_upsert(
        dfs[0],
        dfs[1],
        key=list(p["key"]),
        update_cols=p.get("update_columns"),
        validate_unique=bool(p.get("validate_unique", True)),
    )


# --- LLM corpus-prep ops -------------------------------------------------------


@op("dedup_exact")
def _dedup_exact(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.dedup import exact_dedup

    return exact_dedup(
        _one(dfs), text_col=p.get("text_column", "text"), id_col=p.get("id_column", "doc_id")
    )


@op("chunk")
def _chunk(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.textstats import chunk_documents

    return chunk_documents(
        _one(dfs),
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
        chunk_tokens=int(p.get("chunk_tokens", 512)),
        overlap=int(p.get("overlap", 64)),
    )


@op("text_quality")
def _text_quality(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.textstats import quality_score

    df = _one(dfs)
    scored = quality_score(
        df, id_col=p.get("id_column", "doc_id"), text_col=p.get("text_column", "text")
    )
    if p.get("min_quality") is not None:
        scored = scored.filter(F.col("quality") >= int(p["min_quality"]))
    if p.get("keep_text"):
        scored = scored.join(
            df.select(p.get("id_column", "doc_id"), p.get("text_column", "text")),
            p.get("id_column", "doc_id"),
        )
    return scored


@op("redact")
def _redact(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.textstats import redact_pii

    return redact_pii(_one(dfs), p.get("text_column", "text"))


@op("hash_split")
def _hash_split(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.sampling import hash_split

    return hash_split(
        _one(dfs),
        id_col=p.get("id_column", "doc_id"),
        salt=p.get("salt", "split:v1"),
        train_pct=int(p.get("train_pct", 90)),
        val_pct=int(p.get("val_pct", 5)),
        out=p.get("out", "split"),
    )


@op("hash_sample")
def _hash_sample(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.sampling import hash_sample

    return hash_sample(
        _one(dfs),
        fraction=float(p["fraction"]),
        id_col=p.get("id_column", "doc_id"),
        salt=p.get("salt", "sample:v1"),
    )


@op("mixture_sample")
def _mixture_sample(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.sampling import mixture_sample

    return mixture_sample(
        _one(dfs),
        fractions={str(k): float(v) for k, v in p["fractions"].items()},
        group_col=p.get("group_column", "source"),
        id_col=p.get("id_column", "doc_id"),
        salt=p.get("salt", "mixture:v1"),
        default_fraction=float(p.get("default_fraction", 1.0)),
    )


@op("neardup_pairs")
def _neardup_pairs(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.similarity import neardup_pairs

    return neardup_pairs(
        _one(dfs),
        threshold=float(p.get("threshold", 0.9)),
        id_col=p.get("id_column", "vec_id"),
        vec_col=p.get("vector_column", "embedding"),
        n_tables=int(p.get("n_tables", 6)),
        planes_per_table=int(p.get("planes_per_table", 4)),
        max_bucket=int(p["max_bucket"]) if "max_bucket" in p else None,
    )


@op("mixture_plan")
def _mixture_plan(spark, dfs, p):
    """Availability-constrained mixture planning (water-filling):
    input is a per-source availability frame; ``weights`` maps
    source -> target weight (integers). Emits per-source planned
    allocations + utilization (see llm_mixture_plan for the
    identity: total_max = min over sources of avail·W div w)."""
    from pyspark.sql import functions as F

    df = _one(dfs)
    key = p.get("source_column", "source")
    avail_col = p.get("available_column", "tokens_avail")
    weights = {str(k): int(v) for k, v in dict(p["weights"]).items()}
    wtab = spark.createDataFrame(
        list(weights.items()), f"{key} STRING, w BIGINT"
    )
    # LEFT join FROM the weight table: a weighted source entirely
    # ABSENT from the availability frame must surface as NULL
    # availability and hit the guard below — an inner join would
    # silently drop it and renormalize the remaining sources over
    # its share with no signal. No broadcast hint on the
    # availability side: it is keyed per group key of the INPUT, so
    # its cardinality grows with the data (per-domain sources can be
    # millions of keys) — a forced broadcast there is the
    # grows-with-corpus anti-pattern. AQE broadcasts it at runtime
    # when it is actually small; the config-sized wtab side cannot
    # carry the hint either (the LEFT side of a left-outer join is
    # never broadcastable).
    a = wtab.join(
        df.select(key, F.col(avail_col).cast("long").alias("tokens_avail")),
        key,
        "left",
    )
    # A weighted source with zero/negative/NULL availability makes
    # the water-filling min collapse total_max to 0 (or silently
    # NULLs its own utilization) with no signal. Guard IN the plan —
    # raise_error fires when the pipeline actually runs — so compile
    # stays lazy and the upstream availability job (possibly the
    # pipeline's most expensive aggregate) never executes twice.
    a = a.withColumn(
        "tokens_avail",
        F.when(
            F.col("tokens_avail").isNull() | (F.col("tokens_avail") <= 0),
            F.raise_error(
                F.concat(
                    F.lit("mixture_plan: weighted source '"),
                    F.col(key),
                    F.lit(
                        "' has tokens_avail <= 0 or NULL — drop it from"
                        " `weights` or fix the availability input"
                    ),
                )
            ).cast("long"),
        ).otherwise(F.col("tokens_avail")),
    )
    tot = a.agg(F.sum("w").cast("long").alias("big_w"))
    a2 = a.crossJoin(F.broadcast(tot))
    # 128-bit products (r13 token-scale audit, lockstep with
    # llm_mixture_plan): tokens_avail·big_w, total_max·w and
    # planned·1e6 pass 2^63 at 100-TB token inventories; the emitted
    # values (token counts, utilization ≤ 1e6) fit BIGINT. The MIN
    # argument stays DECIMAL through the MIN (ADVICE r13): `div`
    # coerces per-row quotients to BIGINT and WRAPS a tiny-weight
    # source's ≳9.2e18 quotient to a garbage negative that would win
    # the MIN; (prod − prod % w) / w is exactly divisible, so the
    # decimal division is exact and integer-valued, and the min
    # provably fits BIGINT (Σ planned = total_max ≤ Σ tokens_avail).
    # See llm_q.llm_mixture_plan for the measured-wrap note.
    tmax = a2.agg(
        F.min(
            F.expr(
                "(CAST(tokens_avail AS DECIMAL(38,0)) * big_w"
                " - (CAST(tokens_avail AS DECIMAL(38,0)) * big_w) % w)"
                " / w"
            )
        )
        .cast("long")
        .alias("total_max")
    )
    return (
        a2.crossJoin(F.broadcast(tmax))
        .withColumn(
            "planned_tokens",
            F.expr("CAST(total_max AS DECIMAL(38,0)) * w div big_w"),
        )
        .select(
            key,
            "w",
            "tokens_avail",
            "planned_tokens",
            F.expr(
                "CAST(planned_tokens AS DECIMAL(38,0)) * 1000000"
                " div tokens_avail"
            ).alias("utilization_micro"),
        )
    )


@op("spatial_grid")
def _spatial_grid(spark, dfs, p):
    """Within-radius point pairs via the grid-cell equi-join (see
    analytics.spatial_grid_pairs / join_spatial_grid)."""
    from configdrivendatapipeline_spark.analytics import spatial_grid_pairs

    return spatial_grid_pairs(
        _one(dfs),
        radius_u=int(p["radius_u"]),
        id_col=p.get("id_column", "id"),
        lat_col=p.get("lat_column", "lat_u"),
        lon_col=p.get("lon_column", "lon_u"),
        cell_u=int(p["cell_u"]) if "cell_u" in p else None,
    )


@op("skyline")
def _skyline(spark, dfs, p):
    """2-D Pareto frontier, maximize (x_column, y_column) — the
    bucket-pruned distributed shape (see analytics.skyline_2d /
    agg_skyline)."""
    from configdrivendatapipeline_spark.analytics import skyline_2d

    return skyline_2d(
        _one(dfs),
        x_col=p["x_column"],
        y_col=p["y_column"],
        keep_cols=[str(c) for c in p.get("keep_columns", [])],
        n_buckets=int(p.get("n_buckets", 256)),
    )


@op("date_dim")
def _date_dim(spark, dfs, p):
    """Conformed calendar dimension from the input's own date bounds
    (see analytics.date_dim / enr_date_dim)."""
    from configdrivendatapipeline_spark.analytics import date_dim

    return date_dim(_one(dfs), date_col=p.get("date_column", "date_key"))


@op("inverted_index")
def _inverted_index(spark, dfs, p):
    """Token -> document-frequency + sorted postings head (the
    retrieval-side artifact; see llm_inverted_index)."""
    from pyspark.sql import functions as F

    df = _one(dfs)
    id_col = p.get("id_column", "doc_id")
    text_col = p.get("text_column", "text")
    min_df = int(p.get("min_df", 1))
    head = int(p.get("postings_head", 10))
    tok = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("token"),
    )
    # Rank-then-collect: df and the head cutoff come from windows
    # (WindowExec spills oversized token groups), so a stopword's
    # posting list never materializes as ONE aggregation-buffer
    # array just to be sliced to `head`. The groupBy reuses the
    # window's token partitioning — still one shuffle.
    from pyspark.sql import Window

    wt = Window.partitionBy("token")
    wrn = Window.partitionBy("token").orderBy(id_col)
    headed = (
        tok.withColumn("df", F.count(F.lit(1)).over(wt))
        .withColumn("__rn", F.row_number().over(wrn))
        .filter((F.col("__rn") <= head) & (F.col("df") >= min_df))
    )
    return headed.groupBy("token").agg(
        F.max("df").alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.col(id_col))),
                lambda d: d.cast("string"),
            ),
            ",",
        ).alias("first_postings"),
    )


@op("keyword_search")
def _keyword_search(spark, dfs, p):
    """Boolean keyword retrieval: overlap-count top-k per query
    (see llm_keyword_search). ``queries`` maps qid -> term list."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = _one(dfs)
    id_col = p.get("id_column", "doc_id")
    text_col = p.get("text_column", "text")
    k = int(p.get("k", 10))
    rows = [
        (int(qid), str(t))
        for qid, terms in dict(p["queries"]).items()
        for t in terms
    ]
    q = spark.createDataFrame(rows, "qid INT, token STRING")
    tok = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("token"),
    )
    hits = (
        tok.join(F.broadcast(q), "token")
        .groupBy("qid", id_col)
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("n_matched").desc(), F.col(id_col)
    )
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


@op("winnow_fingerprints")
def _winnow_fingerprints(spark, dfs, p):
    """Winnowing (MOSS) fingerprint selection (see
    llm.dedup.winnow_fingerprints)."""
    from configdrivendatapipeline_spark.llm.dedup import winnow_fingerprints

    return winnow_fingerprints(
        _one(dfs),
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
        k=int(p.get("k", 4)),
        w=int(p.get("w", 5)),
    )


@op("winnow_pairs")
def _winnow_pairs(spark, dfs, p):
    """Near-dup candidates from shared winnowing fingerprints (see
    llm.dedup.winnow_candidate_pairs — partial-overlap complement to
    the MinHash path, same bucket skew cap)."""
    from configdrivendatapipeline_spark.llm.dedup import winnow_candidate_pairs

    return winnow_candidate_pairs(
        _one(dfs),
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
        k=int(p.get("k", 4)),
        w=int(p.get("w", 5)),
        min_shared=int(p.get("min_shared", 3)),
        max_bucket=int(p.get("max_bucket", 200)),
    )


#: Per-compile memo of banded_norms frames keyed by (input frame,
#: banding params): two ANN steps over the SAME input frame with the
#: same plane family (pipeline_contrastive's knn_join + hard_negatives
#: legs) band the corpus once instead of once per step — the compiler-
#: path twin of llm_triplets' explicit ``shared=`` plumbing (§3.3).
#: The cache holds a strong reference to the input frame so the id()
#: component of the key cannot be recycled while the entry lives;
#: cleared at every compile_pipeline start, so nothing is shared
#: across pipeline runs.
_BANDED_CACHE: dict[tuple, tuple] = {}


def _shared_banded(df, id_col, vec_col, extra, n_tables, planes_per_table):
    from configdrivendatapipeline_spark.llm.similarity import banded_norms

    key = (id(df), id_col, vec_col, tuple(extra), n_tables, planes_per_table)
    hit = _BANDED_CACHE.get(key)
    if hit is not None and hit[0] is df:
        return hit[1]
    pair = banded_norms(
        df, id_col, vec_col, tuple(extra), n_tables, planes_per_table
    )
    _BANDED_CACHE[key] = (df, pair)
    return pair


@op("knn_join")
def _knn_join(spark, dfs, p):
    """Approximate k-NN self-join: LSH candidates → cosine verify →
    per-vector top-k (see llm.similarity.knn_join for the scale
    argument — bucket-bounded equi-join, never O(n²))."""
    from configdrivendatapipeline_spark.llm.similarity import knn_join

    group_col = p.get("group_column")
    n_tables = int(p.get("n_tables", 6))
    planes = int(p.get("planes_per_table", 4))
    id_col = p.get("id_column", "vec_id")
    vec_col = p.get("vector_column", "embedding")
    shared = _shared_banded(
        _one(dfs),
        id_col,
        vec_col,
        (group_col,) if group_col else (),
        n_tables,
        planes,
    )
    return knn_join(
        _one(dfs),
        k=int(p.get("k", 3)),
        n_tables=n_tables,
        planes_per_table=planes,
        id_col=id_col,
        vec_col=vec_col,
        group_col=group_col,
        max_bucket=int(p["max_bucket"]) if "max_bucket" in p else None,
        shared=shared,
    )


@op("jaccard_pairs")
def _jaccard_pairs(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.dedup import jaccard_pairs

    return jaccard_pairs(
        _one(dfs),
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
        threshold=float(p.get("threshold", 0.5)),
    )


@op("decontaminate")
def _decontaminate(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.dedup import decontaminate

    if len(dfs) != 2:
        raise ValueError("decontaminate expects exactly 2 inputs (train, benchmark)")
    return decontaminate(
        dfs[0],
        dfs[1],
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
        n=int(p.get("ngram", 8)),
    )


@op("cross_dedup")
def _cross_dedup(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.dedup import cross_corpus_dedup

    if len(dfs) != 2:
        raise ValueError("cross_dedup expects exactly 2 inputs (new, existing)")
    return cross_corpus_dedup(
        dfs[0],
        dfs[1],
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
    )


@op("repetition_stats")
def _repetition_stats(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.textstats import repetition_stats

    return repetition_stats(
        _one(dfs),
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
    )


@op("quantize_int8")
def _quantize_int8(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.similarity import quantize_int8

    return quantize_int8(
        _one(dfs),
        id_col=p.get("id_column", "vec_id"),
        vec_col=p.get("vector_column", "embedding"),
    )


#: name → Observation attached by observe steps in the CURRENT
#: compile; read via observed_metrics() after the sinks run.
_OBSERVATIONS: dict[str, object] = {}


@op("observe")
def _observe(spark, dfs, p):
    """Attach named metrics computed DURING the next action on this
    frame (Spark ``df.observe``) — production telemetry (row counts,
    null rates, sums) piggybacks on the sink's own scan instead of
    paying a second aggregation pass over 100 TB, which is what a
    separate metrics step costs. Batch frames only (streaming metrics
    need a streaming-query listener). Retrieve with
    :func:`observed_metrics` AFTER an action has run on the frame.
    """
    from pyspark.sql import Observation

    df = _one(dfs)
    if df.isStreaming:
        raise ValueError(
            "observe: streaming frames report via StreamingQueryListener, "
            "not Observation; attach observe to a batch frame"
        )
    name = p.get("name") or "metrics"
    if name in _OBSERVATIONS:
        raise ValueError(
            f"observe: duplicate observation name {name!r} in this "
            "pipeline (the default is 'metrics' — give each observe "
            "step an explicit distinct name); a silent overwrite would "
            "make the first step's metrics unretrievable"
        )
    metrics = p.get("metrics") or {"rows": "count(1)"}
    obs = Observation(name)
    _OBSERVATIONS[name] = obs
    return df.observe(obs, *[F.expr(e).alias(a) for a, e in metrics.items()])


def _get_with_timeout(obs, seconds: float):
    """``Observation.get`` bounded by a daemon thread: returns the
    metrics dict, or None if nothing materializes within the timeout
    (get blocks forever on a frame that was never acted on)."""
    import threading

    box: list = []
    t = threading.Thread(target=lambda: box.append(dict(obs.get)), daemon=True)
    t.start()
    t.join(seconds)
    return box[0] if box else None


def observed_metrics() -> dict[str, dict]:
    """Metrics gathered by ``observe`` steps whose frames have been
    acted on (sink write, count). Frames never executed report {} —
    the JVM-side ``getOrEmpty`` is probed first so this never blocks
    on an unsunk observed frame (``Observation.get`` alone would).
    Where that private probe is unavailable (Spark Connect, future
    builds), we fall back to a short bounded ``get`` rather than
    silently discarding metrics that ARE materialized."""
    out: dict[str, dict] = {}
    for name, obs in _OBSERVATIONS.items():
        try:
            ready = not obs._jo.getOrEmpty().isEmpty()
        except Exception:
            # Probe unavailable ≠ not materialized: a bounded get
            # retrieves real metrics instead of mapping them to {}.
            got = _get_with_timeout(obs, 2.0)
            out[name] = got if got is not None else {}
            continue
        out[name] = dict(obs.get) if ready else {}
    return out


@op("watermark")
def _watermark(spark, dfs, p):
    """Declare event-time bounded lateness on a streaming frame —
    the piece that lets downstream stateful ops (windowed aggs,
    stream-stream joins, dropDuplicates) EVICT state older than
    watermark−bound instead of buffering history forever. No-op
    content-wise on batch frames, but we reject those to catch
    config mistakes early."""
    df = _one(dfs)
    if not df.isStreaming:
        raise ValueError(
            "watermark: input frame is not streaming; declare "
            "`streaming: true` on the source (batch frames have no "
            "event-time watermark)"
        )
    return df.withWatermark(p.get("column", "ts"), p["delay"])


@op("event_time")
def _event_time(spark, dfs, p):
    """Normalize an event-time column to TimestampType whatever the
    source's physical encoding (long nanos via nanosAsLong,
    TIMESTAMP_NTZ, or TIMESTAMP) — the config stays stable when the
    lake's writers change timestamp flavor, which real feeds do.
    ``out`` copies the normalized column under a new name."""
    from configdrivendatapipeline_spark.queries import normalize_ts

    df = _one(dfs)
    col = p.get("column", "ts")
    ndf = normalize_ts(df, col)
    out = p.get("out")
    if out and out != col:
        ndf = ndf.withColumn(out, F.col(col))
    return ndf


@op("semdedup")
def _semdedup(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.similarity import semdedup

    return semdedup(
        _one(dfs),
        threshold=float(p.get("threshold", 0.3)),
        id_col=p.get("id_column", "vec_id"),
        vec_col=p.get("vector_column", "embedding"),
        keep_cols=tuple(p.get("keep_columns", ("label",))),
        n_tables=int(p.get("n_tables", 6)),
        planes_per_table=int(p.get("planes_per_table", 4)),
        max_bucket=int(p["max_bucket"]) if "max_bucket" in p else None,
    )


@op("kmeans")
def _kmeans(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.similarity import kmeans_assign

    return kmeans_assign(
        _one(dfs),
        n_clusters=int(p.get("n_clusters", 8)),
        refine_iters=int(p.get("refine_iters", 1)),
        id_col=p.get("id_column", "vec_id"),
        vec_col=p.get("vector_column", "embedding"),
    )


@op("source_weights")
def _source_weights(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.sampling import source_weights

    return source_weights(
        _one(dfs),
        group_cols=tuple(p.get("group_by", ("source", "lang"))),
    )


@op("shuffle")
def _shuffle(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.sampling import hash_shuffle

    return hash_shuffle(
        _one(dfs),
        id_col=p.get("id_column", "doc_id"),
        salt=p.get("salt", "shuffle:v1"),
        shards=int(p.get("shards", 8)),
    )


@op("pack")
def _pack(spark, dfs, p):
    from configdrivendatapipeline_spark.llm.sampling import pack_offsets

    return pack_offsets(
        _one(dfs),
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
        budget=int(p.get("budget", 2048)),
        shards=int(p.get("shards", 8)),
        salt=p.get("salt", "pack:v1"),
        shuffle_salt=p.get("shuffle_salt"),
    )


@op("pack_manifest")
def _pack_manifest(spark, dfs, p):
    """Writer manifest for ``pack``: one row per (doc, context window)
    token slice (see llm.sampling.pack_manifest)."""
    from configdrivendatapipeline_spark.llm.sampling import pack_manifest

    return pack_manifest(
        _one(dfs),
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
        budget=int(p.get("budget", 2048)),
        shards=int(p.get("shards", 8)),
        salt=p.get("salt", "pack:v1"),
        shuffle_salt=p.get("shuffle_salt"),
    )


@op("bpe_train")
def _bpe_train(spark, dfs, p):
    """Train a BPE merge table from the input corpus — emits the
    (step, pair, n) artifact. ``mode: distributed`` (default) is the
    exact sequential trainer (llm.bpe.bpe_train — one vocab-table
    job per merge, hash-replayable by the SQL oracle);
    ``mode: local`` is production recipe #1 (SCALING.md): Spark runs
    the one corpus-sized word-frequency job, the merge loop runs
    in-memory on the collected vocab — bit-identical artifact,
    minutes instead of ~13 h at 32k merges. ``max_vocab`` (local
    only) caps training to the top-K words by frequency."""
    from configdrivendatapipeline_spark.llm.bpe import (
        bpe_train,
        bpe_train_local_table,
    )

    mode = p.get("mode", "distributed")
    if mode not in ("distributed", "local", "batched"):
        # a typo'd mode (`locl`) must not silently run the 13-hour
        # driver-paced path where minutes were intended.
        raise ValueError(
            f"bpe_train mode must be distributed|local|batched, got {mode!r}"
        )
    # Param/mode combinations are validated up front, BEFORE
    # dispatching: a mode-mismatched knob must never be silently
    # ignored (a `batch_size` under mode: local used to slip
    # through, inconsistent with the op's own typo-guard
    # philosophy).
    if p.get("max_vocab") is not None and mode != "local":
        raise ValueError("bpe_train max_vocab requires mode: local")
    if p.get("batch_size") is not None and mode != "batched":
        raise ValueError("bpe_train batch_size requires mode: batched")
    if mode == "local":
        # An absent max_vocab inherits bpe.DEFAULT_MAX_VOCAB (1M): the
        # driver-side vocab collect is bounded by default, and the
        # config surface has no uncapped spelling — pointing the local
        # trainer at a whole uncapped corpus is a deliberate Python
        # API call (max_vocab=None), never a config omission.
        kwargs = {}
        if p.get("max_vocab") is not None:
            kwargs["max_vocab"] = int(p["max_vocab"])
        return bpe_train_local_table(
            _one(dfs),
            text_col=p.get("text_column", "text"),
            n_merges=int(p.get("n_merges", 20)),
            **kwargs,
        )
    if mode == "batched":
        from configdrivendatapipeline_spark.llm.bpe import bpe_train_batched

        return bpe_train_batched(
            _one(dfs),
            text_col=p.get("text_column", "text"),
            n_merges=int(p.get("n_merges", 20)),
            batch_size=int(p.get("batch_size", 64)),
        )
    return bpe_train(
        _one(dfs),
        text_col=p.get("text_column", "text"),
        n_merges=int(p.get("n_merges", 20)),
    )


@op("bpe_encode")
def _bpe_encode(spark, dfs, p):
    """Per-doc BPE token counts. With TWO inputs the second is a
    trained merge table (the ``bpe_train`` op's output — the
    production shape: train once, feed every encoder); with one
    input it self-trains ``n_merges`` merges on the corpus first."""
    from configdrivendatapipeline_spark.llm.bpe import (
        bpe_encode_counts,
        bpe_train_merges,
        merge_pairs_from_table,
    )

    if len(dfs) == 2:
        corpus, mtab = dfs
        merges = merge_pairs_from_table(mtab)
    else:
        corpus = _one(dfs)
        merges = bpe_train_merges(
            corpus,
            text_col=p.get("text_column", "text"),
            n_merges=int(p.get("n_merges", 20)),
        )
    return bpe_encode_counts(
        corpus,
        merges,
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
    )


@op("temperature_sample")
def _temperature_sample(spark, dfs, p):
    """Temperature-flattened mixture sampling at alpha=1/2 (see
    llm.sampling.temperature_sample): per-stratum sqrt(n_min/n) keep
    fractions derived from the data on the exact md5 grid."""
    from configdrivendatapipeline_spark.llm.sampling import temperature_sample

    return temperature_sample(
        _one(dfs),
        group_col=p.get("group_by", "lang"),
        id_col=p.get("id_column", "doc_id"),
        salt=p.get("salt", "temp:v1"),
    )


@op("length_buckets")
def _length_buckets(spark, dfs, p):
    """Length-bucketed batching layout with per-bucket padding-waste
    accounting (see llm.sampling.length_buckets)."""
    from configdrivendatapipeline_spark.llm.sampling import length_buckets

    return length_buckets(
        _one(dfs),
        text_col=p.get("text_column", "text"),
        caps=tuple(p.get("caps", (32, 64, 128, 256, 512, 1024, 2048))),
    )


@op("snapshot_diff")
def _snapshot_diff(spark, dfs, p):
    """Corpus snapshot diff: added/removed/changed/unchanged per id
    between two snapshots (see llm.dedup.snapshot_diff)."""
    from configdrivendatapipeline_spark.llm.dedup import snapshot_diff

    if len(dfs) != 2:
        raise ValueError("snapshot_diff expects exactly 2 inputs (current, previous)")
    return snapshot_diff(
        dfs[0],
        dfs[1],
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
    )


@op("graph_rank")
def _graph_rank(spark, dfs, p):
    """Integer-exact PageRank over an undirected pair graph (see
    llm.dedup.graph_rank): input 1 = (id_a, id_b) pairs, input 2 =
    the node universe."""
    from configdrivendatapipeline_spark.llm.dedup import graph_rank

    if len(dfs) != 2:
        raise ValueError("graph_rank expects exactly 2 inputs (pairs, nodes)")
    return graph_rank(
        dfs[0],
        dfs[1],
        id_col=p.get("id_column", "vec_id"),
        iters=int(p.get("iters", 3)),
        damping_pct=int(p.get("damping_pct", 85)),
    )


@op("minhash_calibration")
def _minhash_calibration(spark, dfs, p):
    """Per-candidate-pair MinHash estimate vs exact shingle Jaccard
    (see llm.dedup.minhash_calibration)."""
    from configdrivendatapipeline_spark.llm.dedup import minhash_calibration

    return minhash_calibration(
        _one(dfs),
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
        n_hashes=int(p.get("n_hashes", 32)),
        shingle_k=int(p.get("shingle_k", 3)),
        bands=int(p.get("bands", 8)),
        token_hash=p.get("token_hash", "xxhash64"),
    )


@op("lsh_recall")
def _lsh_recall(spark, dfs, p):
    """Aggregate recall/precision of LSH banding vs exact-Jaccard
    ground truth (see llm.dedup.lsh_recall)."""
    from configdrivendatapipeline_spark.llm.dedup import lsh_recall

    return lsh_recall(
        _one(dfs),
        threshold_micro=int(p.get("threshold_micro", 500_000)),
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
        n_hashes=int(p.get("n_hashes", 32)),
        shingle_k=int(p.get("shingle_k", 3)),
        bands=int(p.get("bands", 8)),
        token_hash=p.get("token_hash", "xxhash64"),
    )


@op("centroid_drift")
def _centroid_drift(spark, dfs, p):
    """Per-label embedding centroid drift between id-parity halves
    (see llm.similarity.centroid_drift)."""
    from configdrivendatapipeline_spark.llm.similarity import centroid_drift

    return centroid_drift(
        _one(dfs),
        id_col=p.get("id_column", "vec_id"),
        vec_col=p.get("vector_column", "embedding"),
        label_col=p.get("label_column", "label"),
    )


@op("benford")
def _benford(spark, dfs, p):
    """Benford leading-digit drift profile of a positive numeric
    column (see validation.benford_profile)."""
    from configdrivendatapipeline_spark.validation import benford_profile

    return benford_profile(_one(dfs), p["column"])


@op("bpe_fertility")
def _bpe_fertility(spark, dfs, p):
    """Per-stratum tokenizer fertility with corpus-trained BPE merges
    (see llm.bpe.bpe_fertility)."""
    from configdrivendatapipeline_spark.llm.bpe import (
        bpe_fertility,
        bpe_train_merges,
    )

    df = _one(dfs)
    merges = bpe_train_merges(df, n_merges=int(p.get("n_merges", 20)))
    return bpe_fertility(
        df,
        merges,
        group_col=p.get("group_by", "lang"),
        text_col=p.get("text_column", "text"),
    )


# --- skew escape hatches -------------------------------------------------------


@op("bloom_prefilter")
def _bloom_prefilter(spark, dfs, p):
    """Map-side Bloom pre-filter of a fact stream against a key set:
    build a fixed-size bitmap from input 2, broadcast it, keep fact
    rows whose key might be present. ``exact: true`` keeps the
    bloom_pass flag instead of filtering, for audit steps."""
    from configdrivendatapipeline_spark import joins

    if len(dfs) != 2:
        raise ValueError("bloom_prefilter expects exactly 2 inputs (fact, keys)")
    fact, keys = dfs
    n_bits = int(p.get("n_bits", 2048))
    k = int(p.get("k", 3))
    salt = p.get("salt", "bloom:v1")
    bloom = joins.bloom_build(keys, p["key"], n_bits=n_bits, k=k, salt=salt)
    out = joins.bloom_prefilter(
        fact, p.get("fact_key", p["key"]), bloom, n_bits=n_bits, k=k, salt=salt
    )
    if p.get("keep_flag"):
        return out.drop("bloom")
    return out.filter(F.col("bloom_pass")).drop("bloom_pass", "bloom")


@op("zorder")
def _zorder(spark, dfs, p):
    """Z-order write layout: Morton-code the given integer columns and
    range-partition by the code so every output file is bounded in all
    participating dimensions (see layout.py)."""
    from configdrivendatapipeline_spark import layout

    return layout.zorder_write_layout(
        _one(dfs), list(p["columns"]), bits=int(p.get("bits", 8))
    )


@op("compact")
def _compact(spark, dfs, p):
    """Small-file compaction: ``plan: true`` returns the per-partition
    file-count plan; otherwise rewrites the frame so each output task
    holds one target-size file (see layout.compact_write)."""
    from configdrivendatapipeline_spark import layout

    cols = list(p["partition_by"])
    target = int(p.get("target_rows", 1_000_000))
    if p.get("plan"):
        return layout.compaction_plan(_one(dfs), cols, target)
    return layout.compact_write(_one(dfs), cols, target, key_col=p["key"])


def _materialize_validate(df, path, mode, fmt, cluster_by, sort_by):
    """ONE validation path shared by the real ``materialize`` op and
    its dry-run stand-in (ADVICE r11): streaming rejection, required
    path, the mode and format enums, and the layout-param shape
    checks all live here, so a param added to the real op cannot
    silently pass dry-run validation — extending either path means
    extending this helper, and the other path inherits the check.
    Takes VALUES, not the raw param dict: the auto-derived param
    allowlist scans literal ``p[...]``/``p.get`` reads in op bodies,
    and a ``p`` escaping into a helper would make the op unscannable.
    Returns ``(mode, fmt, cluster_by, sort_by)`` normalized — mode
    alias resolved, layout params as lists (a scalar fails the
    ``list()`` shape check on both paths)."""
    if df.isStreaming:
        raise ValueError(
            "materialize is a batch cut point; for streams use a "
            "sink + a follow-up pipeline instead"
        )
    if not path or not isinstance(path, str):
        raise ValueError(
            f"materialize path must be a non-empty string, got {path!r}"
        )
    mode = _materialize_check_mode(mode)
    fmt = _materialize_check_format(fmt)

    def _cols(name, v):
        # explicit shape check: a scalar "col" would iterate as
        # characters under a bare list() and silently layout-by-'c'
        if not v:
            return []
        if isinstance(v, str) or not isinstance(v, (list, tuple)):
            raise ValueError(
                f"materialize {name} must be a list of columns, got {v!r}"
            )
        return [str(c) for c in v]

    return mode, fmt, _cols("cluster_by", cluster_by), _cols("sort_by", sort_by)


def _materialize_check_mode(mode: str) -> str:
    """materialize's write mode is an enum of THREE: overwrite
    (rerun refreshes the intermediate), error (refuse to clobber an
    existing one — the safe default against concurrent runs racing
    on a shared path), or ignore (RESTART POINT: if the intermediate
    already exists the write — and the whole upstream build job — is
    skipped via Spark's SaveMode.Ignore short-circuit, and consumers
    scan the existing table). ``append`` in particular must be
    rejected — an appended intermediate would feed consumers
    duplicated rows. Spark's documented ``errorifexists`` alias is
    accepted and normalized to ``error`` (this op's own docstring
    cites the Spark name, so the Spark spelling must not be treated
    as a typo). Returns the normalized mode."""
    if mode == "errorifexists":
        return "error"
    if mode not in ("overwrite", "error", "ignore"):
        raise ValueError(
            f"materialize mode must be overwrite|error|ignore, got "
            f"{mode!r} (append would duplicate the intermediate's rows)"
        )
    return mode


def _materialize_check_format(fmt: str) -> str:
    """An intermediate must round-trip its schema exactly, or the
    dry-run pass-through and the real read-back would expose
    DIFFERENT columns (csv reads back headerless all-string _c0/_c1;
    json re-orders and re-types) — and at 100 TB a non-columnar
    intermediate forfeits the pruning the cut point exists to buy.
    Only the schema-preserving columnar formats are accepted."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(
            f"materialize format must be parquet|orc (schema-preserving "
            f"columnar), got {fmt!r} — text formats would read back a "
            "different schema than the frame that was written"
        )
    return fmt


@op("materialize")
def _materialize(spark, dfs, p):
    """Write this step's frame to a named intermediate table ONCE and
    hand every downstream step a fresh scan of it — the cut point in
    a DAG where one expensive subplan (a near-dup pair build, a
    trained codebook) feeds several consumers. Catalyst's
    ReuseExchange dedupes repeated identical subplans *within one
    action*, but separate downstream actions each re-run the full
    lineage; materializing converts that N× recompute into 1× build
    plus N columnar scans, and at 100 TB the written table doubles as
    the restart point after a failure downstream. EAGER by design:
    the write runs at compile time — the one op that touches the
    filesystem during compile, because cutting the plan IS the op
    (``compile_pipeline(dry_run=True)`` substitutes it with a
    schema-equivalent pass-through for write-free config
    validation).
    Defaults to mode=overwrite so a rerun of the pipeline refreshes
    the intermediate instead of silently reusing a stale one;
    ``mode: error`` instead REFUSES to clobber an existing
    intermediate (Spark's errorifexists) — the safe choice when two
    runs of the same pipeline could race on the path; ``mode:
    ignore`` is the restart mode: when the intermediate already
    exists, Spark's SaveMode.Ignore short-circuits BEFORE running
    the upstream job, so re-running a pipeline that died downstream
    of its cut point skips the expensive build entirely and resumes
    from the written table (plan-asserted in
    tests/test_compiler_ops.py). Concurrency:
    the default ``path`` is shared by every run of the pipeline, so
    concurrent runs would overwrite each other's intermediate
    mid-read; run-scope the path with the existing ``${param}``
    templating (e.g. ``path: /data/tmp/pairs_${run_id}`` +
    ``--param run_id=...``) or set ``mode: error`` to fail fast.
    ``cluster_by`` / ``sort_by`` apply the sink layer's layout
    controls to the intermediate: co-locate each key's rows in one
    file set and tighten per-file min/max ranges, so downstream
    scans of the materialized table prune files on those columns —
    at 100 TB the cut point is also where you choose the layout its
    consumers will scan.
    """
    df = _one(dfs)
    # literal key reads only — the auto-derived param allowlist
    # cannot scan a variable-keyed p.get loop; validation itself is
    # shared with the dry-run stand-in via _materialize_validate
    mode, fmt, cluster_by, sort_by = _materialize_validate(
        df,
        p.get("path"),  # .get: the helper's named error covers missing too
        p.get("mode", "overwrite"),
        p.get("format", "parquet"),
        p.get("cluster_by"),
        p.get("sort_by"),
    )
    cfg = {"path": p["path"], "format": fmt, "mode": mode}
    if cluster_by:
        cfg["cluster_by"] = cluster_by
    if sort_by:
        cfg["sort_by"] = sort_by
    write_sink(df, cfg)
    return read_source(spark, {"path": p["path"], "format": fmt})


@op("components")
def _components(spark, dfs, p):
    """Connected components over an undirected pair graph (see
    llm.dedup.duplicate_clusters): input 1 = (id_a, id_b) pairs,
    input 2 = the node universe; output (id, component), component =
    min member id."""
    from configdrivendatapipeline_spark.llm.dedup import duplicate_clusters

    if len(dfs) != 2:
        raise ValueError("components expects exactly 2 inputs (pairs, nodes)")
    return duplicate_clusters(
        dfs[0],
        dfs[1],
        id_col=p.get("id_column", "doc_id"),
        max_iter=int(p.get("max_iter", 20)),
    )


@op("lm_score")
def _lm_score(spark, dfs, p):
    """Self-trained unigram-LM quality score (see
    textstats.unigram_lm_score); joins the score columns back onto
    the input rows so downstream filters can gate on them."""
    from configdrivendatapipeline_spark.llm.textstats import unigram_lm_score

    df = _one(dfs)
    id_col = p.get("id_column", "doc_id")
    scores = unigram_lm_score(df, id_col=id_col, text_col=p.get("text_column", "text"))
    return df.join(scores, id_col)


@op("cdc_apply")
def _cdc_apply(spark, dfs, p):
    """Latest-wins CDC change-log replay with delete tombstones (see
    enrichment.cdc_apply)."""
    from configdrivendatapipeline_spark.enrichment import cdc_apply

    return cdc_apply(
        _one(dfs),
        key_cols=list(p["keys"]),
        ts_col=p["ts"],
        op_col=p["op_column"],
        delete_op=p.get("delete_op", "delete"),
        tiebreak_cols=list(p.get("tiebreak", [])),
    )


@op("oversample")
def _oversample(spark, dfs, p):
    """Deterministic inverse-frequency oversampling: repeat each row
    per the data-derived upsample weight with hash-grid stochastic
    rounding (the upsampling half of mixture reweighting)."""
    from configdrivendatapipeline_spark.llm.sampling import (
        hash_bucket,
        source_weights,
    )

    df = _one(dfs)
    group_cols = list(p.get("group_by", ("source", "lang")))
    id_col = p.get("id_column", "doc_id")
    salt = p.get("salt", "oversample:v1")
    w = source_weights(df, group_cols=tuple(group_cols)).select(
        *group_cols, F.col("upsample_micro").alias("__up")
    )
    d = df.join(F.broadcast(w), group_cols)
    n_copies = F.expr("__up div 1000000") + F.when(
        hash_bucket(F.col(id_col), salt, 1_000_000) < F.expr("__up % 1000000"),
        1,
    ).otherwise(0)
    return (
        d.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn(
            "copy_no",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("__n").cast("long"))
            ),
        )
        .drop("__up", "__n")
    )


@op("hard_negatives")
def _hard_negatives(spark, dfs, p):
    """Hardest cross-label neighbor per anchor (see
    llm.similarity.hard_negatives)."""
    from configdrivendatapipeline_spark.llm.similarity import hard_negatives

    id_col = p.get("id_column", "vec_id")
    vec_col = p.get("vector_column", "embedding")
    label_col = p.get("label_column", "label")
    n_tables = int(p.get("n_tables", 6))
    planes = int(p.get("planes_per_table", 4))
    shared = _shared_banded(
        _one(dfs), id_col, vec_col, (label_col,), n_tables, planes
    )
    return hard_negatives(
        _one(dfs),
        id_col=id_col,
        vec_col=vec_col,
        label_col=label_col,
        n_tables=n_tables,
        planes_per_table=planes,
        max_bucket=int(p["max_bucket"]) if "max_bucket" in p else None,
        shared=shared,
    )


@op("kanonymity")
def _kanonymity(spark, dfs, p):
    """k-anonymity metrics over quasi-identifier columns (see
    validation.kanonymity_metrics)."""
    from configdrivendatapipeline_spark.validation import kanonymity_metrics

    return kanonymity_metrics(
        _one(dfs), list(p["quasi_identifiers"]), k=int(p.get("k", 5))
    )


@op("ldiversity")
def _ldiversity(spark, dfs, p):
    """l-diversity metrics over quasi-identifiers + a sensitive column
    (see validation.ldiversity_metrics)."""
    from configdrivendatapipeline_spark.validation import ldiversity_metrics

    return ldiversity_metrics(
        _one(dfs),
        list(p["quasi_identifiers"]),
        sensitive=p["sensitive"],
        l=int(p.get("l", 3)),
    )


@op("survivorship")
def _survivorship(spark, dfs, p):
    """Per-field golden-record survivorship rules (see
    enrichment.survivorship). ``rules: {out: [kind, col]}``."""
    from configdrivendatapipeline_spark.enrichment import survivorship

    rules = {name: (spec[0], spec[1]) for name, spec in p["rules"].items()}
    return survivorship(
        _one(dfs),
        key_cols=list(p["keys"]),
        priority_col=p["priority"],
        rules=rules,
    )


@op("budget_select")
def _budget_select(spark, dfs, p):
    """Token-budget-constrained quality selection (see
    llm.sampling.budget_select)."""
    from configdrivendatapipeline_spark.llm.sampling import budget_select

    return budget_select(
        _one(dfs),
        id_col=p.get("id_column", "doc_id"),
        text_col=p.get("text_column", "text"),
        salt=p.get("salt", "budget:v1"),
    )


@op("route_modality")
def _route_modality(spark, dfs, p):
    """Magic-byte modality dispatch over a binary payload column (see
    llm.multimodal.route_modality)."""
    from configdrivendatapipeline_spark.llm.multimodal import route_modality

    return route_modality(_one(dfs), id_col=p.get("id_column", "doc_id"))


@op("asof_join")
def _asof_join(spark, dfs, p):
    """Generic as-of join (backward/forward/nearest, optional
    tolerance) — see joins.asof_join."""
    from configdrivendatapipeline_spark import joins

    if len(dfs) != 2:
        raise ValueError("asof_join expects exactly 2 inputs (left, right)")
    return joins.asof_join(
        dfs[0],
        dfs[1],
        by=list(p["by"]),
        left_key=p["left_key"],
        left_ts=p.get("left_ts", "ts"),
        right_ts=p.get("right_ts", "ts"),
        direction=p.get("direction", "backward"),
        tolerance_s=p.get("tolerance_s"),
        take=dict(p.get("take") or {}),
        validate_unique=bool(p.get("validate_unique", False)),
    )


@op("salted_join")
def _salted_join(spark, dfs, p):
    from configdrivendatapipeline_spark.skew import salted_join

    if len(dfs) != 2:
        raise ValueError("salted_join expects exactly 2 inputs (big, small)")
    return salted_join(
        dfs[0], dfs[1], on=p["key"], salt=int(p.get("salt", 16)), how=p.get("how", "inner")
    )


@op("salted_agg")
def _salted_agg(spark, dfs, p):
    from configdrivendatapipeline_spark.skew import salted_agg

    aggs = {name: (spec[0], spec[1]) for name, spec in p["aggs"].items()}
    return salted_agg(_one(dfs), p["group_by"], aggs, salt=int(p.get("salt", 16)))


# ---------------------------------------------------------------------------
# Pipeline runner
# ---------------------------------------------------------------------------


def _materialize_dry_run(spark, dfs, p):
    """Schema-equivalent no-write stand-in for the ``materialize`` op
    under ``compile_pipeline(dry_run=True)``: runs the SAME
    ``_materialize_validate`` helper as the real op (single batch
    input, required ``path``, the mode and format enums, layout-param
    shape — one shared code path, so new params cannot drift between
    the two; ADVICE r11) and hands the input frame through unchanged,
    so downstream steps compile against the same columns the
    read-back scan would expose — but nothing touches the
    filesystem.
    Schema equivalence holds because materialize only accepts
    schema-preserving columnar formats (parquet|orc, enforced by
    ``_materialize_check_format`` on BOTH paths); the one delta is
    nullability, which a columnar write may relax and which no
    downstream compile-time check depends on.

    NOT registered in OPS (it is not a config-addressable op), so the
    param-allowlist scan still derives the real op's keys.
    """
    df = _one(dfs)
    _, _, cluster_by, sort_by = _materialize_validate(
        df,
        p.get("path"),  # .get: missing path fails with the helper's error
        p.get("mode", "overwrite"),
        p.get("format", "parquet"),
        p.get("cluster_by"),
        p.get("sort_by"),
    )
    # layout columns must also EXIST: build (don't run) the same
    # plan shapes the sink layer would, so a typo'd column fails dry
    if cluster_by:
        df.repartition(*cluster_by)
    if sort_by:
        df.sortWithinPartitions(*sort_by)
    return df


def compile_pipeline(
    spark: SparkSession, cfg: PipelineConfig, dry_run: bool = False
) -> dict[str, DataFrame]:
    """Compile every source + step to a named DataFrame.

    Laziness: declarative ops only BUILD plans here; nothing runs
    until a downstream action. Three op families are the documented
    exceptions and execute Spark jobs during compile: ``materialize``
    (writes its intermediate table eagerly — cutting the plan IS the
    op), iterative graph ops (``components``, ``graph_rank``: each
    pointer-doubling round is an action), and trainer ops
    (``bpe_train``, which runs its merge loop). With
    ``dry_run=True`` the ``materialize`` write is substituted by a
    schema-equivalent pass-through (same validation, no filesystem
    write), so validating a config can never clobber or create a
    production intermediate; iterative/trainer steps still execute
    their (read-only) jobs, and downstream-of-materialize frames
    compile against the uncut lineage rather than a read-back scan.
    """
    _OBSERVATIONS.clear()  # observations belong to one compiled pipeline
    _BANDED_CACHE.clear()  # banded frames are shared within one compile only
    frames: dict[str, DataFrame] = {}
    for name, src in cfg.sources.items():
        frames[name] = read_source(spark, src.to_reader_cfg())
    for step in cfg.steps:
        builder = OPS.get(step.op)
        if builder is None:
            raise ValueError(
                f"step {step.id!r}: unknown op {step.op!r} "
                f"(known: {sorted(OPS)})"
            )
        allowed = OP_PARAM_KEYS.get(step.op)
        if allowed is not None and step.params:
            unknown = set(step.params) - allowed
            if unknown:
                raise ValueError(
                    f"step {step.id!r}: op {step.op!r} does not read "
                    f"param(s) {sorted(map(str, unknown))} — a typo "
                    "would silently fall back to defaults (accepted: "
                    f"{sorted(k for k in allowed if isinstance(k, str))})"
                )
        if dry_run and step.op == "materialize":
            builder = _materialize_dry_run
        frames[step.id] = builder(spark, [frames[i] for i in step.inputs], step.params)
    return frames


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict[str, DataFrame]:
    """Compile, then execute sinks; returns the named frames.

    Streaming inputs flow through the same step ops; a sink fed by a
    streaming frame runs as a foreachBatch stream (each micro-batch
    written through the identical batch sink layer) with
    ``Trigger.AvailableNow`` — production would swap the trigger, not
    the pipeline.

    ``spark_conf`` keys already at their value are skipped: ``cli run``
    builds the session with them, and a static conf (which only a
    session build can set) would raise on ``spark.conf.set``.
    """
    for k, v in cfg.spark_conf.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    frames = compile_pipeline(spark, cfg)
    for sink in cfg.sinks:
        df = frames[sink.input]
        wcfg = sink.to_writer_cfg()
        if df.isStreaming:
            wcfg["mode"] = "append"  # per-micro-batch appends

            def _write(batch_df: DataFrame, batch_id: int, _cfg=wcfg) -> None:
                write_sink(batch_df, _cfg)

            q = df.writeStream.foreachBatch(_write).trigger(availableNow=True).start()
            q.awaitTermination()
        else:
            write_sink(df, wcfg)
    return frames


def lineage_frame(spark: SparkSession, cfg: PipelineConfig):
    """The pipeline's lineage edges as a DataFrame — config
    introspection as data, so governance tooling can query "what
    feeds this sink?" with the same engine that runs the pipeline.
    One row per (step, input) edge plus one per sink; config-sized by
    definition (a few hundred rows for the largest real DAG)."""
    rows = []
    for step in cfg.steps:
        for inp in step.inputs:
            kind = "source" if inp in cfg.sources else "step"
            rows.append((step.id, step.op, inp, kind))
    for i, sink in enumerate(cfg.sinks):
        rows.append((f"sink[{i}]", f"sink:{sink.format}", sink.input, "step"))
    return spark.createDataFrame(
        rows, "node STRING, op STRING, input STRING, input_kind STRING"
    )
