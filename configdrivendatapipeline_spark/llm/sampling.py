"""Deterministic content-hash sampling / split assignment.

Training pipelines need train/val/test membership and downsampling
that are (a) stable across reruns, engines and task retries, (b)
driven by row identity, never RNG state, and (c) cheap at 100 TB — a
pure map-side expression, no shuffle, no sampling pass. Spark's
``df.sample``/``rand()`` fails (a)+(b) under retries; the standard
answer is a content hash mod a grid, which is what these helpers
compute — with md5 (not xxhash64) so any SQL engine reproduces the
exact assignment bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(key: Column, salt: str, buckets: int = 10_000) -> Column:
    """Deterministic bucket in [0, buckets): first 8 hex chars of
    md5(key ":" salt) parsed as an integer, mod buckets. The salt
    decorrelates independent decisions (split vs sample vs shard) on
    the same key.

    ``buckets >= 1`` is validated at plan time: ``% 0`` is NULL under
    non-ANSI Spark, so a zero-bucket misconfig would silently turn
    every downstream ``bucket < cut`` filter false and every routed
    row into a dropped row — the same loud-validation contract as
    the degenerate-count guards in llm/dedup.py."""
    if buckets < 1:
        raise ValueError(f"hash_bucket requires buckets >= 1, got {buckets}")
    h8 = F.substring(F.md5(F.concat(key.cast("string"), F.lit(":" + salt))), 1, 8)
    return (F.conv(h8, 16, 10).cast("long") % buckets).alias("bucket")


def _require_key(key: Column, ctx: str) -> Column:
    """NULL-id guard for the identity-driven sampling/split surface.

    ``hash_bucket`` itself NULL-propagates (md5 of NULL is NULL) —
    that is the RIGHT semantics for join-side callers like the bloom
    probe, where a NULL key legitimately never matches. But for
    split/sample assignment a NULL identity silently misroutes: every
    ``when(bucket < cut)`` is NULL-false, so hash_split's
    ``.otherwise("test")`` would quietly dump every malformed row into
    the EVAL split, and the samplers would drop them without trace.
    Raise engine-side instead — the contract here is "driven by row
    identity", and a NULL identity is a contract violation."""
    return (
        F.when(
            key.isNull(),
            F.raise_error(
                F.lit(
                    f"{ctx}: NULL id — identity-hash assignment needs a "
                    "non-null key; filter or fill ids upstream"
                )
            ).cast("string"),
        )
        .otherwise(key.cast("string"))
    )


def _grid_cut(fraction: float) -> int:
    """fraction → 1/10000-grid cut, HALF-UP (int(round()) would use
    banker's rounding: round(0.00005·10⁴)=0 but round(0.00015·10⁴)=2,
    an even/odd-dependent cut the repo's half-up integer discipline
    forbids)."""
    return int(fraction * 10_000 + 0.5)


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split:v1",
    train_pct: int = 90,
    val_pct: int = 5,
    out: str = "split",
) -> DataFrame:
    """Assign train/val/test by id hash — percent granularity.

    Raises at plan time when the percentages are inconsistent: e.g.
    ``train_pct=95, val_pct=10`` would silently produce an EMPTY test
    split (every bucket < 100 matches train or val).
    """
    if not (0 <= train_pct and 0 <= val_pct and train_pct + val_pct <= 100):
        raise ValueError(
            f"hash_split needs 0 <= train_pct, 0 <= val_pct and "
            f"train_pct + val_pct <= 100; got train_pct={train_pct}, "
            f"val_pct={val_pct}"
        )
    b = hash_bucket(_require_key(F.col(id_col), "hash_split"), salt, 100)
    split = (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return df.withColumn("bucket", b).withColumn(out, split)


def hash_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample:v1",
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows (1/10000 grid).

    Unlike ``df.sample`` this is reproducible across engines/retries
    and composable: samples at fractions f1 < f2 with the same salt
    are strictly nested (the f1 sample is a subset of the f2 one) —
    the property you need to grow a training subset monotonically.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1]; got {fraction}")
    cut = _grid_cut(fraction)
    return df.filter(
        hash_bucket(_require_key(F.col(id_col), "hash_sample"), salt, 10_000) < cut
    )


def mixture_sample(
    df: DataFrame,
    fractions: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mixture:v1",
    default_fraction: float = 1.0,
) -> DataFrame:
    """Per-group deterministic downsampling — training-mixture
    reweighting (keep 30% of web, all of books, ...). One map-side
    expression: the row's hash bucket is compared against its group's
    cut; groups not listed keep ``default_fraction``. Same nesting
    property as :func:`hash_sample` per group.

    Raises at plan time on any fraction outside [0, 1] — a typoed
    mixture config (1.3, -0.1) would otherwise silently keep
    everything / nothing for that group, the same loud-validation
    contract as :func:`hash_sample`."""
    for g, f in {**fractions, "<default_fraction>": default_fraction}.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(
                f"mixture_sample fractions must be in [0, 1]; got "
                f"{f} for {g!r}"
            )
    cut = None
    for g, f in fractions.items():
        lit = F.lit(_grid_cut(f))
        cond = F.col(group_col) == g
        cut = F.when(cond, lit) if cut is None else cut.when(cond, lit)
    cut = (
        cut.otherwise(F.lit(_grid_cut(default_fraction)))
        if cut is not None
        else F.lit(_grid_cut(default_fraction))
    )
    return df.filter(
        hash_bucket(_require_key(F.col(id_col), "mixture_sample"), salt, 10_000)
        < cut
    )


def pack_offsets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    shards: int = 8,
    salt: str = "pack:v1",
    shuffle_salt: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign every document its
    token offset in a concatenated stream and the fixed-size context
    windows (packs) it lands in — the standard pretraining layout
    (concatenate all docs, cut every ``budget`` tokens; docs may
    straddle a cut).

    A single global stream would serialize the cumulative sum through
    one partition at corpus scale, so the stream is sharded by a
    deterministic id hash: each shard packs independently with
    shard-local offsets (how production pipelines shard tokenization
    output), the window cumsum runs per shard partition, and pack ids
    are (shard, pack_no) pairs. Token counts here are whitespace
    tokens; swap in a tokenizer UDF for BPE without changing the
    packing math.

    ``shuffle_salt`` packs in decorrelated order: within each shard
    docs are laid out by md5(id ":" shuffle_salt) — the
    :func:`hash_shuffle` permutation fused into the same single
    shuffle, so clustered ingest order never becomes clustered
    training batches; a new salt re-lays the corpus for a new epoch.
    """
    from pyspark.sql import Window

    if budget <= 0 or shards <= 0:
        raise ValueError(f"budget and shards must be positive; got {budget}, {shards}")
    # _require_key (not bare hash_bucket): a NULL id would otherwise
    # hash to a NULL shard and the whole malformed cohort would pack
    # silently into one phantom shard — identity-driven layout shares
    # the split/sample contract (NULL identity = loud failure).
    rid = _require_key(F.col(id_col), "pack_offsets")
    d = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
        hash_bucket(rid, salt, shards).alias("shard"),
    )
    if shuffle_salt is not None:
        order = [
            F.md5(F.concat(rid, F.lit(":" + shuffle_salt))),
            F.col(id_col),
        ]
    else:
        order = [F.col(id_col)]
    w = (
        Window.partitionBy("shard")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    # Integer `div`, not floor(double /): exact for ANY budget at any
    # offset magnitude (floor(x/b) on doubles can cross an integer
    # boundary once offsets outgrow the 53-bit mantissa for
    # non-power-of-two budgets).
    return d.select(
        F.col(id_col), F.col("shard"), F.col("n_tokens"), off.alias("tok_offset")
    ).select(
        id_col,
        "shard",
        "n_tokens",
        "tok_offset",
        F.expr(f"tok_offset div {budget}").alias("pack_first"),
        F.expr(f"(tok_offset + n_tokens - 1) div {budget}").alias("pack_last"),
    )


def budget_select(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "budget:v1",
) -> DataFrame:
    """Token-budget-constrained quality selection: keep the
    highest-quality documents until half the corpus's tokens are
    spent — the data-selection step of a compute-bounded training
    run (you rarely train on everything; you train on the best N
    tokens).

    Greedy-by-quality is made scale-safe by banding: the 0-100
    integer quality score gives ≤101 bands, whole bands are taken
    from the top WITHOUT any per-document window (a broadcast
    semi-join on the band list), and only the single MARGINAL band —
    the one straddling the budget line — is filled
    document-by-document in deterministic md5(id) order. That fill
    is itself sub-sharded by the leading two hex chars of the md5
    order key (256 shards) with a two-level cumulative sum — the
    same decomposition :func:`pack_offsets` uses — so no window
    partition ever holds more than ~1/256 of ONE band, at any
    corpus size. Because hex-string order is numeric order, the
    (shard, key) decomposition replays the global md5 order exactly:
    the selected set is bit-identical to a single global per-band
    cumsum, which is what the DuckDB oracle runs. Everything is
    exact integers, so membership replays bit-for-bit on any engine
    or retry.
    """
    from pyspark.sql import Window

    from configdrivendatapipeline_spark.llm.textstats import quality_score

    q = quality_score(df, id_col=id_col, text_col=text_col).select(
        id_col, "n_tokens", "quality"
    )
    bands = q.groupBy("quality").agg(F.sum("n_tokens").alias("band_tokens"))
    # Band-level windows: ≤101 rows by construction (plan-lint exempt).
    wb = (
        Window.orderBy(F.col("quality").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cb = bands.withColumn(
        "cum_before",
        F.coalesce(F.sum("band_tokens").over(wb), F.lit(0).cast("long")),
    )
    tot = bands.agg(F.expr("CAST(SUM(band_tokens) AS BIGINT) div 2").alias("budget"))
    cbt = cb.crossJoin(F.broadcast(tot))
    full_bands = cbt.filter(
        F.col("cum_before") + F.col("band_tokens") <= F.col("budget")
    ).select("quality")
    marginal = cbt.filter(
        (F.col("cum_before") < F.col("budget"))
        & (F.col("cum_before") + F.col("band_tokens") > F.col("budget"))
    ).select("quality", "cum_before", "budget")
    # Full bands: membership is a broadcast join — no window touches
    # the corpus-sized side at all.
    full = q.join(F.broadcast(full_bands), "quality").select(
        F.col(id_col), "quality", "n_tokens",
        F.lit("full_band").alias("keep_tier"),
    )
    # Marginal band (≤1 band of docs): two-level cumsum sharded by the
    # md5 key's own leading hex chars, so shard order ⊕ in-shard order
    # IS the global md5 order.
    # NULL-id guard: the marginal fill is ordered by this key; a NULL
    # key would misroute the row to a NULL sub-shard (silently kept or
    # dropped at the budget line, engine-dependent).
    order_key = F.md5(
        F.concat(_require_key(F.col(id_col), "budget_select"), F.lit(":" + salt))
    )
    m = (
        q.join(F.broadcast(marginal), "quality")
        .withColumn("__okey", order_key)
        .withColumn(
            "__mshard", F.conv(F.substring("__okey", 1, 2), 16, 10).cast("int")
        )
    )
    wloc = (
        Window.partitionBy("__mshard")
        .orderBy(F.col("__okey").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = m.withColumn(
        "__loc_cum",
        F.coalesce(F.sum("n_tokens").over(wloc), F.lit(0).cast("long")),
    )
    shard_tot = m.groupBy("__mshard").agg(F.sum("n_tokens").alias("__sh_tokens"))
    # Shard-offset window: ≤256 rows by construction (plan-lint exempt).
    wsh = (
        Window.orderBy(F.col("__mshard").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    shard_off = shard_tot.withColumn(
        "__sh_before",
        F.coalesce(F.sum("__sh_tokens").over(wsh), F.lit(0).cast("long")),
    ).select("__mshard", "__sh_before")
    partial = (
        m.join(F.broadcast(shard_off), "__mshard")
        .withColumn("doc_cum", F.col("__sh_before") + F.col("__loc_cum"))
        .filter(
            F.col("cum_before") + F.col("doc_cum") + F.col("n_tokens")
            <= F.col("budget")
        )
        .select(
            F.col(id_col), "quality", "n_tokens",
            F.lit("partial_band").alias("keep_tier"),
        )
    )
    return full.unionByName(partial)


def pack_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    shards: int = 8,
    salt: str = "pack:v1",
    shuffle_salt: str | None = None,
) -> DataFrame:
    """The writer manifest for :func:`pack_offsets`: one row per
    (document, context window) fragment — which token slice of each
    doc lands in which pack. This is the table a tokenized-shard
    writer actually consumes: scan it ordered by (shard, pack_no) and
    emit ``slice_len`` tokens of each doc starting at ``slice_start``.

    Docs spanning a cut produce one row per pack they touch, so the
    explode fans out by ceil(n_tokens/budget) per doc — bounded and
    payload-free (the manifest carries offsets, never text). No
    shuffle beyond the single packing cumsum; the per-pack fragment
    arithmetic is map-side integer expressions.
    """
    off = pack_offsets(
        df,
        id_col=id_col,
        text_col=text_col,
        budget=budget,
        shards=shards,
        salt=salt,
        shuffle_salt=shuffle_salt,
    )
    return (
        off.select(
            id_col,
            "shard",
            "n_tokens",
            "tok_offset",
            F.explode(
                F.sequence(F.col("pack_first"), F.col("pack_last"))
            ).alias("pack_no"),
        )
        .select(
            id_col,
            "shard",
            "pack_no",
            F.greatest(
                F.lit(0).cast("long"),
                F.col("pack_no") * budget - F.col("tok_offset"),
            ).alias("slice_start"),
            (
                F.least(
                    F.col("n_tokens"),
                    (F.col("pack_no") + 1) * budget - F.col("tok_offset"),
                )
                - F.greatest(
                    F.lit(0).cast("long"),
                    F.col("pack_no") * budget - F.col("tok_offset"),
                )
            ).alias("slice_len"),
        )
    )


def source_weights(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
) -> DataFrame:
    """Inverse-frequency mixture weights: per stratum, the upsampling
    factor that balances it against the largest stratum — the
    data-driven side of mixture reweighting (:func:`mixture_sample`
    applies given fractions; this computes them).

    One aggregation plus a broadcast scalar max; half-up integer
    micro-units (exact `div` on longs, never double division) so the
    weights hash identically on every engine and retry.

    Kept narrow in the r13 token-scale audit, with the bound: the
    ``mx·2e6`` numerator is a ROW count times 2e6, wrapping BIGINT
    only past 4.6e12 documents per stratum — below a 22-byte average
    document at 100 TB, outside the defended envelope (SCALING.md
    "Round-13 token-scale overflow audit").
    """
    c = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n_docs"))
    m = c.agg(F.max("n_docs").alias("mx"))
    return c.crossJoin(F.broadcast(m)).select(
        *group_cols,
        "n_docs",
        F.expr("(mx * 2000000 + n_docs) div (2 * n_docs)").alias(
            "upsample_micro"
        ),
    )


def oversample(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    id_col: str = "doc_id",
    salt: str = "oversample:v1",
) -> DataFrame:
    """Deterministic inverse-frequency oversampling: repeat each row
    per its stratum's :func:`source_weights` upsample weight with
    hash-grid stochastic rounding — floor(w) copies, plus one when
    the row's md5 grid position falls below w's fractional part (the
    upsampling half of mixture reweighting). Emits the group columns,
    the input's other columns, and ``copy_no`` (1-based)."""
    group_cols = list(group_cols)
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


def mixture_plan(
    avail: DataFrame,
    weights_df: DataFrame,
    key: str = "source",
    avail_col: str = "tokens_avail",
) -> DataFrame:
    """Availability-constrained mixture planning (water-filling).

    ``avail`` holds per-source token inventories (``key``,
    ``avail_col``); ``weights_df`` holds (``key``, ``w`` BIGINT) target
    weights. The largest total budget every weighted source can still
    supply is total_max = min over sources of avail·W div w (W = Σ w);
    emits (key, w, tokens_avail, planned_tokens, utilization_micro)
    in exact integers. One aggregation + two broadcast scalars.
    """
    # LEFT join FROM the weight table: a weighted source entirely
    # ABSENT from the availability frame must surface as NULL
    # availability and hit the guard below — an inner join would
    # silently drop it and renormalize the remaining sources over
    # its share with no signal. No broadcast hint on the
    # availability side: it is keyed per group key of the INPUT, so
    # its cardinality grows with the data (per-domain sources can be
    # millions of keys) — a forced broadcast there is the
    # grows-with-corpus anti-pattern. AQE broadcasts it at runtime
    # when it is actually small; the weight side cannot carry the
    # hint either (the LEFT side of a left-outer join is never
    # broadcastable).
    a = weights_df.join(
        avail.select(key, F.col(avail_col).cast("long").alias("tokens_avail")),
        key,
        "left",
    )
    # A weighted source with zero/negative/NULL availability makes
    # the water-filling min collapse total_max to 0 (or silently
    # NULLs its own utilization) with no signal. Guard IN the plan —
    # raise_error fires when the pipeline actually runs — so building
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
    # 128-bit products (r13 token-scale audit): at 100-TB token
    # inventories tokens_avail·big_w, total_max·w and planned·1e6 all
    # pass 2^63; every emitted value (token counts, utilization ≤ 1e6)
    # fits BIGINT. The per-row MIN argument stays DECIMAL through the
    # MIN (ADVICE r13): `... div w` coerces each quotient to BIGINT,
    # and for a non-constraining tiny-weight source (avail·big_w/w
    # ≳ 9.2e18) Spark WRAPS it to a garbage negative (measured, ANSI
    # and non-ANSI both) which would then WIN the MIN — while DuckDB
    # carries exact HUGEINT. (prod − prod % w) / w is exactly
    # divisible, so the decimal division is exact and integer-valued,
    # and the min provably fits BIGINT (Σ planned = total_max ≤
    # Σ tokens_avail), so the post-MIN cast cannot overflow.
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


def hash_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "shuffle:v1",
    shards: int = 8,
) -> DataFrame:
    """Deterministic corpus shuffle: every row gets a shard and an
    ordinal position inside it, ordered by md5(id ":" salt) — a
    reproducible pseudo-random permutation (same salt → same order on
    any engine or retry; new salt → fresh epoch order), which is what
    training-data layout needs where ``ORDER BY rand()`` is neither
    stable nor replayable.

    Decorrelation matters because ingest order is heavily clustered
    (by crawl, by source, by time); feeding it unshuffled skews every
    training batch. Position is per-shard so the sort stays
    partition-parallel at corpus scale — the (shard, pos) pair is the
    global layout, exactly how sharded training data is laid out on
    disk. Compose with :func:`pack_offsets` downstream to pack context
    windows in shuffled order.
    """
    from pyspark.sql import Window

    # NULL-id guard: same identity contract as pack_offsets — a NULL
    # id would land in a NULL shard with a NULL sort key, silently
    # clustering every malformed row at one position.
    rid = _require_key(F.col(id_col), "hash_shuffle")
    key = F.md5(F.concat(rid, F.lit(":" + salt)))
    w = Window.partitionBy("shard").orderBy("sort_key", id_col)
    return (
        df.select(
            F.col(id_col),
            hash_bucket(rid, salt + ":shard", shards).alias("shard"),
            key.alias("sort_key"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos", "sort_key")
    )


def _isqrt_expr(x: str) -> str:
    """SQL for the exact integer square root of a non-negative BIGINT
    expression (x < 2⁵²): seed with floor(sqrt(double)) — correctly
    rounded IEEE sqrt puts the seed within ±1 of the true isqrt — then
    correct both directions with integer comparisons. Engine-exact
    where raw floor(sqrt(x)) is one ulp away from a hash mismatch at
    perfect-square boundaries."""
    s0 = f"CAST(FLOOR(SQRT(CAST(({x}) AS DOUBLE))) AS BIGINT)"
    return (
        f"({s0} + (CASE WHEN ({s0} + 1) * ({s0} + 1) <= ({x}) THEN 1 ELSE 0 END)"
        f" - (CASE WHEN {s0} * {s0} > ({x}) THEN 1 ELSE 0 END))"
    )


def temperature_sample(
    df: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "temp:v1",
) -> DataFrame:
    """Temperature-flattened mixture sampling at α = 1/2 (the
    multilingual-corpus rebalancing of mBERT/XLM-R: sample strata
    proportionally to n^α so head languages stop drowning the tail).

    Down-sampling-only formulation: the smallest stratum keeps
    everything and every other stratum keeps a deterministic
    √(n_min/n) fraction, so post-sample counts are ∝ √n. The keep
    fraction is computed as an EXACT integer on the 1/10000 md5 grid —
    cut = isqrt((grid² · n_min) div n) with a corrected integer sqrt —
    so the decision replays bit-for-bit on any engine or retry (a
    float sqrt cut is one ulp from flipping a row at perfect-square
    boundaries). One count aggregation + a broadcast scalar min + a
    broadcast cuts join; membership itself is map-side, same contract
    as :func:`mixture_sample` but with the fractions DERIVED from the
    data rather than supplied.
    """
    c = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    mn = c.agg(F.min("n_docs").alias("mn"))
    cuts = (
        c.crossJoin(F.broadcast(mn))
        .select(
            group_col,
            "n_docs",
            # mn is a stratum ROW count that reaches 1e12 at lake
            # scale, so 1e8·mn passes 2^63 (Spark wraps silently,
            # DuckDB raises — the divergent pair); the quotient
            # (≤ 1e8 = grid²) fits the isqrt contract (r13 audit)
            F.expr(
                _isqrt_expr(
                    "(CAST(100000000 AS DECIMAL(38,0)) * mn) div n_docs"
                )
            ).alias("keep_cut"),
        )
    )
    b = hash_bucket(
        _require_key(F.col(id_col), "temperature_sample"), salt, 10_000
    ).alias("bucket")
    return (
        df.select(F.col(id_col), F.col(group_col), b)
        .join(F.broadcast(cuts), group_col)
        .filter(F.col("bucket") < F.col("keep_cut"))
        .select(id_col, group_col, "bucket", "n_docs", "keep_cut")
    )


def length_buckets(
    df: DataFrame,
    text_col: str = "text",
    caps: tuple[int, ...] = (32, 64, 128, 256, 512, 1024, 2048),
) -> DataFrame:
    """Length-bucketed batching layout: assign every document to the
    smallest power-of-two context cap that holds it (overlong docs
    truncate to the largest cap) and report, per bucket, the padding
    economics a dynamic-batching trainer needs — document count,
    payload tokens, padded slots wasted, and the waste ratio in exact
    integer micro-units.

    This is the other half of :func:`pack_offsets`: packing
    concatenates (zero padding, document fragments); length bucketing
    pads within a bucket (whole documents, bounded waste). The whole
    computation is one map-side projection plus one small aggregation
    — nothing here grows with corpus size except the scan.
    """
    if not caps or list(caps) != sorted(set(caps)) or caps[0] <= 0:
        raise ValueError(f"caps must be positive and strictly increasing; got {caps}")
    n = F.size(F.split(F.col(text_col), " ")).cast("long")
    n_eff = F.least(n, F.lit(caps[-1]).cast("long"))
    cap = F.lit(caps[-1]).cast("long")
    for c in reversed(caps[:-1]):
        cap = F.when(n_eff <= c, F.lit(c).cast("long")).otherwise(cap)
    return (
        df.select(n_eff.alias("n_tokens"), cap.alias("bucket_cap"))
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_total"),
            F.sum(F.col("bucket_cap") - F.col("n_tokens")).alias("pad_waste"),
        )
        .select(
            "bucket_cap",
            "n_docs",
            "tokens_total",
            "pad_waste",
            # pad_waste sums token-scale slot counts (r13 audit):
            # widen the micro product; the ratio (≤ 1e6) fits BIGINT
            F.expr(
                "(CAST(pad_waste AS DECIMAL(38,0)) * 1000000)"
                " div (n_docs * bucket_cap)"
            ).alias("waste_micro"),
        )
    )


def stratified_n(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
    salt: str = "strat:v1",
) -> DataFrame:
    """Exactly-n-per-stratum sample (balanced eval sets, per-source
    golden subsets): rank rows inside each stratum by md5(id:salt) and
    keep the first n. Hash-order ranking is the deterministic stand-in
    for "uniformly random without replacement" — reproducible across
    engines and retries, and re-running with a larger n EXTENDS the
    sample (prefix property), the same contract hash_sample gives
    fractions. One window partitioned by the strata — partition-
    parallel; no stratum ever routes through a global sort.
    """
    from pyspark.sql import Window

    if n_per_stratum <= 0:
        raise ValueError(f"n_per_stratum must be positive; got {n_per_stratum}")
    # NULL-id guard: a NULL id's NULL order key would sort NULLS FIRST
    # and deterministically STEAL a sample slot in every stratum.
    order = F.md5(
        F.concat(_require_key(F.col(id_col), "stratified_n"), F.lit(":" + salt))
    )
    w = (
        Window.partitionBy(*strata_cols).orderBy(order.asc(), F.col(id_col).asc())
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def pack_rehydrate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    shards: int = 8,
    salt: str = "pack:v1",
    shuffle_salt: str | None = None,
) -> DataFrame:
    """The READER side of :func:`pack_manifest`: join the manifest
    back to payloads and emit each (doc, pack) fragment's actual
    token slice — what a training-shard writer materializes, and the
    proof the manifest arithmetic reconstructs content (fragments of
    a doc, concatenated in pack order, are exactly the doc; pinned
    by test). One id-keyed join manifest↔payload (both sides share
    the id key), slicing is in-plan array arithmetic — text crosses
    the plan once, never per-pack-copied on the driver."""
    man = pack_manifest(
        df,
        id_col=id_col,
        text_col=text_col,
        budget=budget,
        shards=shards,
        salt=salt,
        shuffle_salt=shuffle_salt,
    )
    return (
        man.join(df.select(id_col, text_col), id_col)
        .select(
            id_col,
            "shard",
            "pack_no",
            "slice_start",
            "slice_len",
            F.array_join(
                F.slice(
                    F.split(F.col(text_col), " "),
                    (F.col("slice_start") + 1).cast("int"),
                    F.col("slice_len").cast("int"),
                ),
                " ",
            ).alias("fragment"),
        )
    )
