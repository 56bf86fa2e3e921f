"""Deduplication for LLM corpora: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design (the whole point of these operators):

- **exact**: content hash + one per-key window — shuffles once on the
  hash, no pairwise anything.
- **MinHash+LSH**: per-doc signatures are ONE wide aggregate (H
  partial mins, map-side combined); banding turns O(n²) candidate
  generation into an equi-join on (band_id, band_hash) — only
  colliding docs ever meet. Collision-group sizes are bounded by a
  cap before pair expansion so a degenerate bucket can't explode.
- **SimHash**: 64 per-bit sums in one aggregate pass; near-dups share
  fingerprints within small Hamming distance (bucket on fingerprint
  prefix at scale).
- **n-gram Jaccard**: exact verification on candidate pairs only —
  the token-inverted-index join is written to run AFTER an LSH/exact
  prefilter at scale (here it runs whole-corpus because n is small).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from configdrivendatapipeline_spark.partitioning import scan_split_count


def with_shingles(
    df: DataFrame, text_col: str = "text", k: int = 3, out: str = "shingles"
) -> DataFrame:
    """Distinct word k-shingles per document (array<string>)."""
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
    return df.withColumn(
        out,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
        ),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (lowest id) per exact text content."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingle_hash_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, hs array<long>) — the distinct 32-bit k-shingle hash set
    of each document, computed row-local. The only shuffle ever
    added is a width-normalizing repartition when the input arrives
    narrower than the session's parallelism (single-file local scan,
    or an in-memory frame — file-backed scans at lake scale arrive
    pre-split and are left untouched).

    Shingle hashes WITHOUT materializing shingle strings: hash each
    token once, then combine k consecutive token-hashes arithmetically
    (odd-multiplier mix, masked per term so ANSI long arithmetic can't
    overflow) — skips building and re-hashing ~n·k characters of
    concatenated shingle text per doc. Token-hash primitive: xxhash64
    (fastest, JVM-native) is the production default; "md5_32" (first
    8 hex chars of md5 as an int) is the same 32-bit family but
    replayable bit-for-bit by any SQL engine — the cross-engine
    verification member. This set is the ground truth MinHash
    estimates Jaccard over (see :func:`minhash_signatures` /
    ``minhash_calibration``).
    """
    if shingle_k < 1:
        raise ValueError(f"shingle_k must be >= 1, got {shingle_k}")
    if token_hash not in ("xxhash64", "md5_32"):
        # a typo'd family (`md532`) would silently hash with
        # xxhash64 — breaking the cross-engine replay the md5_32
        # member exists for, with no signal until hashes mismatch.
        raise ValueError(
            f"token_hash must be xxhash64|md5_32, got {token_hash!r}"
        )
    src = df.select(id_col, text_col)
    # Widen narrow local scans before this CPU-heavy map stage; split
    # count comes from the scan's file list, never df.rdd (a
    # plan-to-RDD conversion per builder call — see partitioning.py).
    # In-memory frames report no files (splits is None); those are
    # typically a handful of parallelize splits, so widen them too —
    # one (id, text) hash shuffle is noise next to the shingle map
    # it parallelizes, and file-backed lake-scale scans never take
    # this branch. Streaming frames are left alone (repartition
    # would break the incremental plan).
    target = df.sparkSession.sparkContext.defaultParallelism
    splits = scan_split_count(src)
    if (splits is None and not df.isStreaming) or (
        splits is not None and splits < target
    ):
        src = src.repartition(target, id_col)
    return _token_hashes(src, id_col, text_col, token_hash).select(
        id_col, F.array_distinct(_shingle_hashes(shingle_k)).alias("hs")
    )


def _token_hashes(
    df: DataFrame, id_col: str, text_col: str, token_hash: str
) -> DataFrame:
    """(id, __th) — the 32-bit hash of each space-separated token of
    every non-NULL ``text_col`` (array<long>): xxhash64 masked to 32
    bits, or ``"md5_32"`` — the first 8 hex chars of md5 as an int,
    replayable by any SQL engine."""
    toks = F.split(F.col(text_col), " ")
    if token_hash == "md5_32":
        th = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
        )
    else:
        th = F.transform(toks, lambda t: F.xxhash64(t).bitwiseAND(F.lit(0xFFFFFFFF)))
    # NULL-text guard BEFORE the token-hash projection, phrased on the
    # raw column. The previous form — .filter(F.size("__th") > 0)
    # after the projection — was row-equivalent (split() never yields
    # an empty array for non-null input, so size(__th) > 0 ⇔ text IS
    # NOT NULL) but the optimizer pushed it below the widening
    # exchange by SUBSTITUTING the whole per-token md5/xxhash
    # transform into the filter condition: every token of every doc
    # was hashed twice, once of those in the narrow pre-shuffle stage
    # (guide §4.4's duplicated-evaluation trap, expression flavor).
    # Filtering on text itself pushes a plain IsNotNull to the scan.
    return df.filter(F.col(text_col).isNotNull()).select(id_col, th.alias("__th"))


def _shingle_hashes(k: int) -> Column:
    """32-bit hash of every k consecutive token hashes in the
    ``__th`` column (array<long>, one per shingle start; a doc shorter
    than k yields one zero-padded shingle). Each term is an
    odd-multiplier mix masked to 48 bits so ANSI long arithmetic
    cannot overflow."""
    mixers = [((j + 1) * 2654435761) % (2**29) | 1 for j in range(k)]

    def shingle_hash(i: Column) -> Column:
        acc = None
        for j in range(k):
            term = (
                F.coalesce(F.get(F.col("__th"), i + j), F.lit(0)) * F.lit(mixers[j])
            ).bitwiseAND(F.lit(0xFFFFFFFFFFFF))
            acc = term if acc is None else acc + term
        return acc.bitwiseAND(F.lit(0xFFFFFFFF))

    idx = F.sequence(F.lit(0), F.greatest(F.size(F.col("__th")) - k, F.lit(0)))
    return F.transform(idx, shingle_hash)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_k: int = 3,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, signature array<long>) — H permutation-mins computed
    entirely row-local: ZERO shuffle.

    Each token is hashed ONCE (xxhash64, masked to 32 bits) and
    k-shingle hashes are arithmetic mixes of k consecutive token
    hashes — no shingle strings are ever built. The H permutations
    are affine mod 2³² (odd multiplier → a true permutation of
    [0, 2³²), the textbook minhash family) applied by ``transform``
    and reduced by ``array_min`` — a tight codegen loop per row, no
    row explosion, no groupBy, no division (mods are bitmasks). At
    100 TB this
    is a pure map stage: signatures stream out partition-parallel
    with nothing crossing the network until LSH banding. A
    repartition spreads the CPU-heavy shingle expansion when the
    source arrives in fewer splits than cores (single small file
    locally; already-split at lake scale).
    """
    hashed = shingle_hash_sets(df, id_col, text_col, shingle_k, token_hash)
    return hashed.select(
        id_col, _signature_expr(n_hashes).alias("signature")
    )


def _signature_expr(n_hashes: int) -> Column:
    """The H-permutation minhash signature as one Column over a
    shingle-hash-set column named ``hs`` — shared by
    :func:`minhash_signatures` and the audit functions that need
    signature AND shingle set side by side without running the
    shingle map stage once per consumer.

    The ``n_hashes >= 1`` guard lives HERE so it travels with the
    shared expression: every caller (minhash_signatures,
    minhash_calibration) gets the dedicated minhash error instead of
    failing later in ``_banded`` with a misleading bands-vs-signature
    message (ADVICE r11)."""
    if n_hashes < 1:
        # sequence(0, -1) DESCENDS in Spark, so n_hashes=0 would
        # silently emit 2-slot signatures built from permutation
        # index -1 — garbage that still LOOKS like a signature.
        raise ValueError(f"minhash n_hashes must be >= 1, got {n_hashes}")
    mask32 = F.lit(0xFFFFFFFF)

    def sig_i(i: Column) -> Column:
        # Same affine family as always (a = ((i·2654435761) mod 2³⁰)|1,
        # b = (i·40503·65537) mod 2³¹), but derived IN-PLAN from the
        # permutation index: one nested transform over [0, H) replaces
        # H unrolled array_min expressions — measured 2.4× faster at
        # sf0.1 (0.81 s vs 1.95 s signature stage) because the
        # expression tree is H× smaller, with bit-identical output.
        # a stays below 2³⁰ so h·a < 2⁶² — no ANSI long overflow.
        a = ((i * F.lit(2654435761)) % F.lit(2**30)).bitwiseOR(F.lit(1))
        b = (i * F.lit(40503 * 65537)) % F.lit(2**31)
        return F.array_min(
            F.transform("hs", lambda h: (h * a + b).bitwiseAND(mask32))
        )

    perm_ids = F.sequence(F.lit(0), F.lit(n_hashes - 1))
    return F.transform(perm_ids, sig_i)


def _banded(
    sigs: DataFrame,
    id_col: str,
    bands: int,
    sig_len: int,
    band_key: str = "xxhash64",
) -> DataFrame:
    """(id, band_id, band_hash) — one row per doc per band.

    ``sig_len`` is the signature length, so band boundaries are
    literal slot indices. ``band_key="concat"`` keeps the raw CSV of
    the band's signature slots as the bucket key instead of hashing
    it — identical grouping semantics (equal strings ⇔ equal hashes,
    minus the ~2⁻⁶⁴ collision), replayable by any SQL engine;
    xxhash64 shortens the shuffle key and is the scale default.
    """
    if bands < 1:
        raise ValueError(f"LSH bands must be >= 1, got {bands}")
    if band_key not in ("xxhash64", "concat"):
        # same silent-family-fallback trap as token_hash: a typo'd
        # band_key would quietly bucket with xxhash64.
        raise ValueError(f"band_key must be xxhash64|concat, got {band_key!r}")
    if bands > sig_len:
        # rows-per-band = sig_len // bands = 0: every band key would
        # be the empty CSV, so EVERY doc collides in one giant bucket
        # per band — the cap then drops it and the candidate set is
        # silently empty. A config this wrong must fail, not recall-0.
        raise ValueError(
            f"LSH bands ({bands}) must be <= signature length ({sig_len})"
        )
    r = sig_len // bands

    def key_of(b: int):
        csv = F.concat_ws(
            ",",
            *[
                F.element_at("signature", b * r + j + 1).cast("string")
                for j in range(r)
            ],
        )
        return csv if band_key == "concat" else F.xxhash64(csv)

    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            key_of(b).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bh")
    ).select(id_col, "bh.band_id", "bh.band_hash")


def _capped_bucket_ids(
    rows: DataFrame, keys: list[str], id_col: str, max_bucket: int
) -> DataFrame:
    """Per-bucket sorted id arrays, capped BEFORE any array exists.

    Collect-then-filter would buffer a corpus-sized id array in one
    aggregation state for a degenerate bucket (boilerplate shingles,
    flat-image hash bands) — an unspillable executor-OOM at scale.
    Instead a partitioned window counts each bucket (WindowExec
    buffers one key group at a time and SPILLS oversized groups to
    disk), the cap filter drops rows from fat buckets before any
    aggregation, and the follow-up groupBy reuses the window's
    partitioning — one shuffle, one pass over the (expensive)
    upstream signature stage, bounded aggregation state. Callers
    guarantee one row per (bucket, id), so row count == distinct-id
    count and the cap is exact. Measured at sf0.1: 1.6 s vs 2.1 s
    for the count-aggregate-then-join two-pass form."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    capped = rows.withColumn("__n", F.count(F.lit(1)).over(w)).filter(
        (F.col("__n") > 1) & (F.col("__n") <= max_bucket)
    )
    grouped = capped.groupBy(*keys).agg(
        F.array_sort(F.collect_set(id_col)).alias("ids")
    )
    # Contract violations (duplicate rows per id — e.g. un-deduped
    # hashes) must degrade to "no pairs from this bucket", not kill
    # the job: a bucket whose __n > 1 rows collapse to ONE distinct
    # id would otherwise reach _expand_pairs, where
    # sequence(0, size-2) = sequence(0, -1) descends and
    # element_at(ids, 0) raises INVALID_INDEX_OF_ZERO.
    return grouped.filter(F.size("ids") > 1)


def _expand_pairs(bounded: DataFrame) -> DataFrame:
    """All unordered (id_a, id_b) pairs from a bounded bucket's
    sorted ``ids`` array — the shared m(m-1)/2 expansion behind the
    LSH / winnowing / pHash candidate generators (one definition, so
    cap or overflow fixes can't miss a twin copy). Input must be the
    capped frame from :func:`_capped_bucket_ids`; returns one row per
    pair per bucket, NOT deduplicated (callers dedup or aggregate)."""
    return bounded.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.size("ids") - 2),
                    lambda i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids")),
                        lambda other: F.struct(
                            F.element_at("ids", i + 1).alias("id_a"),
                            other.alias("id_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")


def lsh_dropped_buckets(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    max_bucket: int = 1000,
    *,
    sig_len: int,
    band_key: str = "xxhash64",
) -> DataFrame:
    """(band_id, band_hash, n_ids) for every collision bucket that
    :func:`lsh_candidate_pairs` would DROP under the same
    ``max_bucket`` cap.

    The cap is the skew defense (an m-doc bucket expands to m² pairs)
    but it silently costs recall: every pair inside a degenerate
    bucket vanishes. This companion makes the tradeoff observable —
    run it beside the pair query and alert when ``count > 0`` or
    ``sum(n_ids)`` is material. Same one-shuffle shape as the pair
    path; no pair expansion ever happens for oversized buckets.
    """
    banded = _banded(sigs, id_col, bands, sig_len, band_key)
    return (
        banded.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_ids"))
        .filter(F.col("n_ids") > max_bucket)
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    max_bucket: int = 1000,
    *,
    sig_len: int,
    band_key: str = "xxhash64",
) -> DataFrame:
    """Banded LSH: docs whose signature agrees on any full band.

    Returns distinct (id_a, id_b) with id_a < id_b. ``max_bucket``
    caps degenerate collision groups before pair expansion (a bucket
    of size m yields m² pairs — unbounded m is the classic LSH
    skew bomb at corpus scale); :func:`lsh_dropped_buckets` reports
    what the cap discarded. ``sig_len`` is the signature length
    (``n_hashes`` of the signatures).
    """
    banded = _banded(sigs, id_col, bands, sig_len, band_key)
    bounded = _capped_bucket_ids(
        banded, ["band_id", "band_hash"], id_col, max_bucket
    )
    return _expand_pairs(bounded).distinct()


def minhash_calibration(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Estimator calibration audit for the MinHash dedup path: for
    every LSH candidate pair, the MinHash Jaccard ESTIMATE (matching
    signature slots / H) next to the EXACT shingle-set Jaccard and
    their signed error — all in integer micro-units. This is the
    evidence a dedup rollout reads before trusting (H, bands)
    parameters: a fat error tail means more permutations or a higher
    band threshold before the dedup verdicts are trustworthy.

    Cost shape: signatures and shingle sets are the same zero-shuffle
    map stages the dedup path already runs; candidates are the same
    capped bucket pairs; scoring joins the candidate list (bounded,
    never O(n²)) back to two per-id maps — four id-keyed joins over
    pair-sized data. Arrays stay internal; the output is scalar.
    """
    # Signature and shingle set come from ONE frame (the signature is
    # an expression over the shingle-hash column), so each join side
    # runs the shingle map stage once and the candidate scoring is
    # two id-keyed joins, not four — the map stage has no exchange
    # for ReuseExchange to dedup, so the sharing must happen in the
    # logical plan.
    hs = shingle_hash_sets(df, id_col, text_col, shingle_k, token_hash)
    feat = hs.select(
        id_col, "hs", _signature_expr(n_hashes).alias("signature")
    )
    pairs = lsh_candidate_pairs(
        feat.select(id_col, "signature"),
        id_col=id_col,
        bands=bands,
        sig_len=n_hashes,
        band_key="concat" if token_hash == "md5_32" else "xxhash64",
    )
    j = pairs.join(
        feat.select(
            F.col(id_col).alias("id_a"),
            F.col("signature").alias("sig_a"),
            F.col("hs").alias("hs_a"),
        ),
        "id_a",
    ).join(
        feat.select(
            F.col(id_col).alias("id_b"),
            F.col("signature").alias("sig_b"),
            F.col("hs").alias("hs_b"),
        ),
        "id_b",
    )
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
    scored = j.select(
        "id_a",
        "id_b",
        matches.alias("__m"),
        inter.alias("__i"),
        (F.size("hs_a") + F.size("hs_b")).cast("long").alias("__ab"),
    )
    return scored.select(
        "id_a",
        "id_b",
        F.expr(f"(__m * 1000000) div {n_hashes}").alias("est_micro"),
        F.expr("(__i * 1000000) div (__ab - __i)").alias("exact_micro"),
        (
            F.expr(f"(__m * 1000000) div {n_hashes}")
            - F.expr("(__i * 1000000) div (__ab - __i)")
        ).alias("err_micro"),
    )


def lsh_recall(
    df: DataFrame,
    threshold_micro: int = 500_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """One-row recall/precision audit of the banded-LSH candidate set
    against GROUND TRUTH: pairs whose exact shingle-set Jaccard is ≥
    the threshold. Complements :func:`minhash_calibration` (per-pair
    estimate error) with the aggregate answer a dedup rollout needs:
    of the true near-dups, how many did banding surface, and how much
    of the candidate budget was spent on non-dups?

    The truth side joins exploded shingle hashes pairwise — the
    deliberately-exhaustive verifier, run on a sample or a small SF,
    never the production path (the threshold comparison is cross-
    multiplied integers, so truth membership is engine-exact). The
    candidate side is the production banding itself. Counts roll up
    through 1-row broadcast frames.
    """
    sigs = minhash_signatures(
        df, id_col, text_col, n_hashes, shingle_k, token_hash
    )
    cand = lsh_candidate_pairs(
        sigs,
        id_col=id_col,
        bands=bands,
        sig_len=n_hashes,
        band_key="concat" if token_hash == "md5_32" else "xxhash64",
    )
    # Truth side reuses jaccard_pairs' PPJoin prefix filter over the
    # shingle-hash sets — provably lossless for J ≥ t and the same
    # exact integer cross-multiply threshold (t6 = round(t·1e6) =
    # threshold_micro for integral micro inputs), so the truth SET is
    # bit-identical to the naive exploded self-join the oracle
    # replays, while join groups are bounded by rare-shingle df
    # instead of the hottest shingle's df.
    hs = shingle_hash_sets(df, id_col, text_col, shingle_k, token_hash)
    truth = jaccard_pairs(
        hs,
        id_col=id_col,
        threshold=threshold_micro / 1_000_000,
        tokens_col="hs",
    ).select("id_a", "id_b")
    # Each expensive side (truth = the exhaustive pair join, cand =
    # the banding) appears exactly once in the plan: both are
    # distinct pair sets, so one full-outer join classifies every
    # pair as true-only / candidate-only / hit in a single pass.
    # (Wall-clock equals the previous three-frame count shape —
    # ReuseExchange already deduped the repeated subplans; measured
    # 33–34 s either way at sf0.1 — but this form needs no 1-row
    # crossJoin scaffolding and can't regress if a plan change ever
    # defeats exchange reuse.)
    merged = truth.withColumn("__t", F.lit(1)).join(
        cand.withColumn("__c", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    return merged.agg(
        F.count("__t").alias("n_true"),
        F.count("__c").alias("n_candidates"),
        F.count(F.when(F.col("__t").isNotNull() & F.col("__c").isNotNull(), 1)).alias(
            "n_hit"
        ),
    ).select(
        "n_true",
        "n_candidates",
        "n_hit",
        F.expr("(n_hit * 1000000) div greatest(n_true, 1)").alias("recall_micro"),
        F.expr("(n_hit * 1000000) div greatest(n_candidates, 1)").alias(
            "precision_micro"
        ),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    tokens_col: str | None = None,
    raw_counts: bool = False,
) -> DataFrame:
    """Exact token-set Jaccard ≥ threshold via prefix filtering.

    Candidate generation is the PPJoin-style prefix filter (Xiao et
    al., WWW'08) plus its length filter, run over DISTINCT token
    sets: docs with identical sets are grouped first (Jaccard is a
    function of the set alone), one representative per set goes
    through candidate generation and scoring, and member pairs are
    expanded afterwards — the standard set-dedup preprocessing of
    similarity joins, and exactly the corpora this operator targets
    (duplicate-heavy). The group table is materialized eagerly
    (within-run scratch parquet — see scratch.scratch_parquet for why
    not localCheckpoint at corpus scale): it feeds several consumers
    whose subtrees prune different columns (so ReuseExchange cannot
    dedup them), and the scan boundary stops InferFiltersFromGenerate's
    ``size(s) > 0`` predicate from pushing the full element
    expression below the source's widening exchange (guide §4.4's
    duplicated-evaluation trap — measured 3.5 s → 66 s on the
    shingle-hash corpus when the shingle transform leaks into a
    narrow-stage filter).

    Scoring is then DATA-ADAPTIVE (one cheap stats pass over the
    materialized groups, AQE-style — plans derive from measured
    input shape, never a fixture constant):

    - **Dense vocabulary** (mean token set-frequency ≥ 32 — stopword
      corpora, small controlled vocabularies): tokens are
      dictionary-coded in canonical rarity order (set frequency asc,
      token asc), the prefix is a ``slice`` of the sorted code
      array, the inverted-index join keys on an int, and exact
      intersections are popcounts over sparse bitmaps
      (``map<word, long>`` in dense code space, one
      ``map_zip_with``/``bit_count`` fold per pair — no exploded
      token join, no per-pair hash set of strings). Measured at
      sf0.1 (5 000 docs, 31-token vocab, t = 0.8): 113 s exploded
      build → ~9 s, bit-identical pairs.
    - **Sparse vocabulary** (shingle/hash sets, most tokens near-
      unique): the dictionary would cost more than it saves, so the
      prefix slices the naturally-sorted element array directly —
      the prefix theorem is valid for ANY consistent global token
      order; rarity order only tightens candidate counts, which
      sparse corpora don't need — and pairs are scored with one
      ``array_intersect`` of the two (null-stripped) element
      arrays. Candidate volume stays bounded by prefix df, which in
      this regime is ~1.

    Both paths produce the same exact pair set; the threshold
    comparison is the integer cross-multiply of
    :func:`filter_jaccard`, so output is row-identical to the naive
    all-shared-token spec either way. The dense path's dictionary
    window (``row_number`` over the distinct-token table) is a
    single task sized by VOCABULARY, not corpus — and by
    construction the dense branch only runs when vocab ≤ tokens/32.
    Zero-intersection pairs never reach the output, matching the
    join semantics of the exploded-join formulation. ``tokens_col``
    names a ready-made array column of set elements (e.g. k-token
    shingles); null ELEMENTS count toward set size but never
    intersect (a null token equi-joins nothing). ``raw_counts=True``
    returns the pre-round integer columns ``(id_a, id_b, n_inter,
    n_a, n_b)`` instead of the 6-dp jaccard readout — the stageable
    shape (see :func:`filter_jaccard`).
    """
    t6 = int(round(threshold * 1_000_000))
    M = F.lit(1_000_000)
    elems = (
        F.col(tokens_col)
        if tokens_col is not None
        else F.split(F.col(text_col), " ")
    )
    # Per-doc sorted distinct element array (array_sort puts null
    # elements last) plus the non-null size. NO size/null filter
    # here — see the checkpoint rationale in the docstring; explode
    # membership (docs whose array is null, empty, or all-null never
    # appear in pairs) is enforced by joins/filters downstream.
    nn_of = F.size(F.filter("s", lambda x: x.isNotNull()))
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_sort(F.array_distinct(elems)).alias("s"),
    )

    # n_inter via sparse bitmaps: Σ popcount(bits_a & bits_b).
    def inter_bitmap(wa, wb) -> Column:
        zero = F.lit(0).cast("long")
        return F.aggregate(
            F.map_values(
                F.map_zip_with(
                    wa,
                    wb,
                    lambda _, x, y: F.bit_count(
                        F.coalesce(x, zero).bitwiseAND(F.coalesce(y, zero))
                    ),
                )
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("long")

    # n_inter via direct set intersection. Arrays arrive ALREADY
    # null-stripped: the strip runs in the scan-side projection of
    # each join side (once per set row), never inside the pair-level
    # select where it would traverse both arrays once per pair
    # (guide §4.4 duplicated-work flavor, r18).
    def inter_direct(sa, sb) -> Column:
        return F.size(F.array_intersect(sa, sb)).cast("long")

    # Corpus-sized frames below materialize to within-run scratch
    # parquet, NOT localCheckpoint (r17 verdict item 5): same eager
    # §3.3 materialize-once semantics and the same RDD/scan boundary
    # that stops InferFiltersFromGenerate's pushdown trap, but the
    # bytes sit in committed files instead of non-replicated executor
    # block storage — at 100 TB one lost executor re-reads instead of
    # failing the whole build, and each differently-pruned consumer
    # scans only its columns.
    from configdrivendatapipeline_spark.scratch import scratch_parquet

    # One representative per distinct set; members expand after
    # scoring. gid = min member id, so rep pairs order as id pairs.
    # r18: the set-dedup groupBy itself is now DATA-ADAPTIVE (guide
    # §2.4 — a `distinct` on data that is already unique is a wasted
    # shuffle, and this one shuffles the full element arrays through
    # an exchange + collect_list). The materialized per-doc set table
    # is one cheap count/approx-distinct aggregate away from knowing
    # whether dedup pays: duplicate-heavy corpora (the regime this
    # operator targets) keep the exact groupBy; near-unique corpora
    # (shingle sets — a 3-shingle set is unique unless docs are copies)
    # skip it and treat every doc as its own singleton group, which is
    # value-identical by construction (a group of size 1). Routing is
    # approximate and PERFORMANCE-ONLY — both branches produce the
    # same exact pair set either way.
    sets_m = scratch_parquet(sets, "jaccard_sets")
    dup_stat = sets_m.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.approx_count_distinct(F.xxhash64("s")).alias("n_sets"),
    ).collect()[0]
    dup_heavy = dup_stat["n_docs"] >= 1.05 * max(dup_stat["n_sets"], 1)
    if dup_heavy:
        groups = scratch_parquet(
            sets_m.groupBy("s")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .select(
                F.col("ids")[0].alias("gid"),
                "s",
                F.size("s").alias("n_tok"),
                nn_of.alias("nn"),
                "ids",
            ),
            "jaccard_groups",
        )
    else:
        # Singleton groups: a pure projection over the materialized
        # set table — no exchange, no collect_list, no second write.
        groups = sets_m.select(
            F.col("id").alias("gid"),
            "s",
            F.size("s").alias("n_tok"),
            nn_of.alias("nn"),
            F.array("id").alias("ids"),
        )

    # ⌈t·n⌉ in exact integer arithmetic: ceil(threshold*n) computed
    # as floor((t6·n + 999999) / 1e6) with t6 = round(t·1e6).
    # Double ceil(lit(t)*n) overshoots for many (t, n) — e.g.
    # t=0.55, n=100: 0.55*100 = 55.000000000000007 → ceil 56 —
    # which shortens the indexed prefix by one token and silently
    # drops pairs with J ≥ t. The division below is exact: both
    # operands are integers < 2⁵³ and a correctly-rounded IEEE
    # quotient within ~1e-12 of a point ≥ 1e-6 away from any
    # integer cannot cross one.
    ceil_tn = F.floor(
        (F.lit(t6) * F.col("n_tok") + F.lit(999_999)) / F.lit(1_000_000)
    )
    plen = F.greatest(F.lit(0), F.col("n_tok") - ceil_tn + 1)

    # Regime stats on the MATERIALIZED groups (milliseconds): mean
    # token set-frequency = token occurrences / approx vocabulary.
    # Routing only — correctness is identical on both paths, so the
    # approximation cannot affect results.
    stat = (
        groups.select(F.explode("s").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .agg(
            F.count(F.lit(1)).alias("t"),
            F.approx_count_distinct("tok").alias("v"),
        )
        .collect()[0]
    )
    dense = stat["v"] > 0 and (stat["t"] / stat["v"]) >= 32.0

    def cand_pairs(prefix: DataFrame) -> DataFrame:
        """(gid_a, gid_b) sharing ≥1 prefix token, length-compatible
        (t·n_a ≤ n_b ∧ t·n_b ≤ n_a — lossless: J ≥ t ⟹ min ≥ t·max),
        deduped, then pruned by the PPJoin POSITIONAL filter (r18,
        guide §2.3 — fewer pairs reach the array-shipping scoring
        join): ``prefix`` carries each token's 1-based position
        ``pos`` in the full sorted array. For a pair's FIRST shared
        token (positions pa, pb): any earlier shared token would sort
        before it in BOTH arrays — contradiction — so nothing before
        (pa, pb) is shared and overlap ≤ 1 + min(n_a − pa, n_b − pb).
        J ≥ t needs overlap·(1e6 + t6) ≥ t6·(n_a + n_b) (exact
        integer form of o ≥ t·(n_a+n_b)/(1+t)); pairs whose bound
        cannot reach that are dropped losslessly. The first shared
        token minimizes BOTH positions, so min(pa)/min(pb) over the
        pair's join rows IS the first match — the dedup becomes a
        groupBy carrying two ints instead of a distinct."""
        pa = prefix.select(
            F.col("gid").alias("gid_a"),
            F.col("n_tok").alias("na"),
            F.col("pos").alias("pa"),
            "tok",
        )
        pb = prefix.select(
            F.col("gid").alias("gid_b"),
            F.col("n_tok").alias("nb"),
            F.col("pos").alias("pb"),
            "tok",
        )
        return (
            pa.join(pb, "tok")
            .filter(
                (F.col("gid_a") < F.col("gid_b"))
                & (F.lit(t6) * F.col("na") <= M * F.col("nb"))
                & (F.lit(t6) * F.col("nb") <= M * F.col("na"))
            )
            .groupBy("gid_a", "gid_b")
            .agg(
                F.min("pa").alias("pa"),
                F.min("pb").alias("pb"),
                F.min("na").alias("na"),
                F.min("nb").alias("nb"),
            )
            .filter(
                (F.lit(1) + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")))
                * F.lit(1_000_000 + t6)
                >= F.lit(t6) * (F.col("na") + F.col("nb"))
            )
            .select("gid_a", "gid_b")
        )

    if dense:
        # Dictionary-code tokens by rarity; sets become sorted code
        # arrays (cs) + sparse bitmaps (wm). Codes live in a dense
        # [1, vocab] space, so a 31-token vocab packs every set into
        # ONE 64-bit word and n_inter is a single AND+popcount.
        toks = groups.select("gid", F.explode("s").alias("tok")).filter(
            F.col("tok").isNotNull()
        )
        codes = (
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .withColumn(
                "code", F.row_number().over(Window.orderBy("df", "tok"))
            )
            .select("tok", "code")
        )
        enc = (
            toks.join(codes, "tok")
            .withColumn("word", F.expr("(code - 1) div 64"))
            .withColumn("bit", F.expr("shiftleft(1L, int((code - 1) % 64))"))
        )
        words = enc.groupBy("gid", "word").agg(F.bit_or("bit").alias("bits"))
        wmap = words.groupBy("gid").agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("word", "bits")))
            ).alias("wm")
        )
        csets = enc.groupBy("gid").agg(
            F.sort_array(F.collect_list("code")).alias("cs")
        )
        # Materialized for the same two reasons as groups: four
        # differently-pruned consumers below, and the prefix explode
        # would re-infer a pushable size predicate.
        keyed = scratch_parquet(
            groups.select("gid", "n_tok", "ids")
            .join(csets, "gid")
            .join(wmap, "gid"),
            "jaccard_keyed_dense",
        )
        prefix = keyed.select(
            "gid",
            "n_tok",
            F.posexplode(F.slice("cs", F.lit(1), plen)).alias("pos0", "tok"),
        ).select("gid", "n_tok", (F.col("pos0") + 1).alias("pos"), "tok")
        cand = cand_pairs(prefix)
        ga = keyed.select(
            F.col("gid").alias("gid_a"),
            F.col("wm").alias("wa"),
            F.col("n_tok").alias("n_ga"),
            F.col("ids").alias("ids_a"),
        )
        gb = keyed.select(
            F.col("gid").alias("gid_b"),
            F.col("wm").alias("wb"),
            F.col("n_tok").alias("n_gb"),
            F.col("ids").alias("ids_b"),
        )
        rep_pairs = filter_jaccard(
            cand.join(ga, "gid_a")
            .join(gb, "gid_b")
            .select(
                "ids_a",
                "ids_b",
                inter_bitmap(F.col("wa"), F.col("wb")).alias("n_inter"),
                F.col("n_ga").cast("long").alias("n_a"),
                F.col("n_gb").cast("long").alias("n_b"),
            ),
            threshold,
        )
    else:
        # Sparse: prefix = first p elements of the naturally-sorted
        # set (any consistent global order is lossless; nulls sort
        # last so they never enter a non-degenerate prefix, and a
        # null prefix token equi-joins nothing). No dictionary, no
        # bitmap build; intersections are direct.
        prefix = groups.select(
            "gid",
            "n_tok",
            F.posexplode(F.slice("s", F.lit(1), plen)).alias("pos0", "tok"),
        ).select("gid", "n_tok", (F.col("pos0") + 1).alias("pos"), "tok")
        cand = cand_pairs(prefix)
        # Null-strip in the SCAN-SIDE projection — once per group row,
        # not once per candidate pair (guide §4.4 duplicated-work
        # flavor: the old inter_direct re-filtered both full arrays
        # inside the pair-level select, 2 traversals × every pair).
        ga = groups.select(
            F.col("gid").alias("gid_a"),
            F.filter("s", lambda x: x.isNotNull()).alias("sa"),
            F.col("n_tok").alias("n_ga"),
            F.col("ids").alias("ids_a"),
        )
        gb = groups.select(
            F.col("gid").alias("gid_b"),
            F.filter("s", lambda x: x.isNotNull()).alias("sb"),
            F.col("n_tok").alias("n_gb"),
            F.col("ids").alias("ids_b"),
        )
        rep_pairs = filter_jaccard(
            cand.join(ga, "gid_a")
            .join(gb, "gid_b")
            .select(
                "ids_a",
                "ids_b",
                inter_direct(F.col("sa"), F.col("sb")).alias("n_inter"),
                F.col("n_ga").cast("long").alias("n_a"),
                F.col("n_gb").cast("long").alias("n_b"),
            )
            .filter(F.col("n_inter") > 0),
            threshold,
        )

    # Expand rep pairs to member pairs; counts are set-level, the
    # smaller id keeps its own set's size in n_a.
    cross = (
        rep_pairs.select(
            "n_inter",
            "n_a",
            "n_b",
            F.explode("ids_a").alias("x"),
            "ids_b",
        )
        .select("x", "n_inter", "n_a", "n_b", F.explode("ids_b").alias("y"))
        .select(
            F.least("x", "y").alias("id_a"),
            F.greatest("x", "y").alias("id_b"),
            "n_inter",
            F.when(F.col("x") < F.col("y"), F.col("n_a"))
            .otherwise(F.col("n_b"))
            .alias("n_a"),
            F.when(F.col("x") < F.col("y"), F.col("n_b"))
            .otherwise(F.col("n_a"))
            .alias("n_b"),
        )
    )
    # Identical-set pairs: J = nn / (2·n_tok − nn) — equal to 1
    # unless the set holds a null element (which never matches
    # itself under join semantics). n_inter > 0 mirrors the
    # exploded join: a pair with no matching token never had a row.
    within = filter_jaccard(
        groups.filter(F.size("ids") > 1)
        .select(
            "nn",
            "n_tok",
            "ids",
            F.posexplode("ids").alias("i", "id_a"),
        )
        .select(
            "id_a",
            F.explode(
                F.slice("ids", F.col("i") + F.lit(2), F.size("ids"))
            ).alias("id_b"),
            F.col("nn").cast("long").alias("n_inter"),
            F.col("n_tok").cast("long").alias("n_a"),
            F.col("n_tok").cast("long").alias("n_b"),
        )
        .filter(F.col("n_inter") > 0),
        threshold,
    )
    scored = cross.unionByName(within).select(
        "id_a", "id_b", "n_inter", "n_a", "n_b"
    )
    if raw_counts:
        # Raw integer counts, pre-round: a staged/materialized pair
        # table in this shape can be re-thresholded EXACTLY at any
        # t' ≥ threshold via filter_jaccard (prefix filtering at the
        # weaker t is lossless for the stronger t'), so one expensive
        # PPJoin build serves every downstream consumer — the rounded
        # 6-dp readout could not (rounding admits J = t' − 4e-7).
        return scored
    return jaccard_readout(scored)


def jaccard_readout(scored: DataFrame) -> DataFrame:
    """6-dp rounded jaccard readout over raw-count pair rows — the
    output shape of :func:`jaccard_pairs`, recoverable from a staged
    raw-count table. The rounded value is the human-facing readout
    ONLY; thresholding always goes through :func:`filter_jaccard`."""
    return scored.withColumn(
        "jaccard",
        F.round(
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            6,
        ),
    ).select("id_a", "id_b", "jaccard")


def filter_jaccard(scored: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard-threshold filter over raw-count pair rows
    ``(id_a, id_b, n_inter, n_a, n_b)``.

    The cut is the EXACT integer cross-multiply n_inter·1e6 ≥
    t6·union with t6 = round(t·1e6) — never a comparison against the
    rounded 6-dp jaccard readout, which admits pairs just below t
    (J = t − 4e-7 rounds up to t). Shared by :func:`jaccard_pairs`
    and every consumer that re-thresholds a staged raw-count pair
    table at a stronger threshold."""
    t6 = int(round(threshold * 1_000_000))
    return scored.filter(
        F.col("n_inter") * F.lit(1_000_000)
        >= F.lit(t6) * (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    )


#: Rounds the most recent duplicate_clusters call used to converge —
#: probe-facing instrumentation only (tools/cc_probe.py records it at
#: 1x/5x/25x to show round count tracks graph DIAMETER, not rows).
LAST_CC_ROUNDS = 0


def duplicate_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, component),
    component = min doc id in the cluster; singletons keep their own
    id. The canonical "pick one representative per duplicate cluster"
    step after MinHash/Jaccard.

    Each round combines min-label propagation (every node takes the
    min of its own label and its neighbors' labels) with **pointer
    doubling** on the label table (``comp ← label(comp)``). Labels are
    min-monotone, so ``label(comp) ≤ comp`` always holds and the
    contraction is safe; chasing one link per round through the
    already-halved table halves the remaining chain depth, giving
    O(log diameter) rounds total — a path graph of diameter 2^20
    converges within the default ``max_iter=20``, so the cap is a
    runaway backstop, not a correctness bound. Near-dup graphs at
    100 TB contain long drift chains (A~B~C~…); plain propagation's
    O(diameter) bound silently splits those at any fixed cap.

    If the loop still exits without converging (pathological
    ``max_iter`` override), this RAISES rather than returning split
    clusters — non-convergence is always observable.

    Each round is a bounded number of shuffles over the label table;
    ``localCheckpoint`` truncates the lineage so plans don't grow
    (SURVEY.md §4: iterative algorithms are the one sanctioned use of
    a driver-side loop — the loop is over *rounds*, never rows).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # Materialize once: every round joins against the edge set, and
        # without this the whole upstream pair-generation plan (LSH /
        # prefix-filtered Jaccard — the expensive part) would re-execute
        # per round.
        .localCheckpoint(eager=True)
    )
    # Right-size the iterative stage (same reasoning as bpe_train):
    # every propagation round is ~3 full jobs over the edge/label
    # frames, so per-task overhead multiplies by rounds. ~500k edges
    # per partition keeps real graphs parallel while a small dedup
    # graph collapses to 1 partition instead of paying
    # default-parallelism empty tasks every round. count() is free —
    # the checkpoint above already materialized the edges.
    spark = pairs.sparkSession
    parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            int(edges.count() // 500_000) + 1,
        ),
    )
    edges = edges.coalesce(parts)
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("comp")
    ).coalesce(parts)
    converged = False
    global LAST_CC_ROUNDS
    LAST_CC_ROUNDS = 0
    for _ in range(max_iter):
        LAST_CC_ROUNDS += 1
        neighbor = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "comp")
        )
        # Thread each node's ROUND-START label through the aggregation
        # (every id has exactly one "own" row, so min-over-own is that
        # label): the convergence check then reads the checkpointed
        # frame directly instead of re-joining old vs new labels —
        # one fewer label-table shuffle+join per round, measured on
        # the 6-round near-dup graphs that every CC consumer pays.
        new_labels = (
            labels.withColumn("__own", F.lit(True))
            .unionByName(neighbor.withColumn("__own", F.lit(False)))
            .groupBy("id")
            .agg(
                F.min("comp").alias("comp"),
                F.min(F.when(F.col("__own"), F.col("comp"))).alias("__old"),
            )
        )
        # Pointer doubling: comp ← label(comp). Every comp value is
        # itself a node id (it is a min over node ids and every node
        # has a label row), so the self-join is total; label
        # monotonicity guarantees the looked-up label is ≤ comp.
        lookup = new_labels.select(
            F.col("id").alias("__cid"), F.col("comp").alias("__ccomp")
        )
        new_labels = (
            new_labels.join(lookup, new_labels.comp == lookup.__cid)
            .select("id", F.col("__ccomp").alias("comp"), "__old")
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        # take(1), not limit(1).count(): a limit inside a codegen
        # stage gets a fresh counter name per plan, so its class never
        # hits the codegen cache and every round compiled it again;
        # take(1) plans CollectLimit over a limit-free scan+filter
        # stage that is compiled once per session.
        changed = new_labels.filter(F.col("comp") != F.col("__old")).take(1)
        labels = new_labels.select("id", "comp")
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge within max_iter={max_iter} "
            "rounds; clusters would be silently split. Raise max_iter "
            "(rounds needed ≈ log2(graph diameter) with pointer doubling)."
        )
    return labels.select(F.col("id").alias(id_col), F.col("comp").alias("component"))


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with an eval/benchmark set (the standard n-gram
    membership test used before training runs).

    Scale shape: real benchmark suites are tiny next to a 100 TB
    corpus, so the distinct benchmark n-gram set is **broadcast** and
    the whole check is one map-side-joined aggregation over the train
    scan — no corpus shuffle. Returns (id, n_overlap) for contaminated
    docs only; overlap counts DISTINCT shared n-grams.
    """
    def grams(df: DataFrame, keep_id: bool) -> DataFrame:
        toks = F.split(F.col(text_col), " ")
        # Docs shorter than n tokens emit NO grams (standard n-gram
        # decontamination semantics — a truncated "gram" of the whole
        # short doc would flag sub-n-token overlaps). Mirrored in the
        # SQL oracle.
        idx = F.sequence(F.lit(0), F.size(toks) - n)
        g = F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        )
        cols = [F.col(id_col)] if keep_id else []
        return (
            df.filter(F.size(toks) >= n)
            .select(*cols, F.explode(g).alias("__gram"))
        )

    bench_grams = grams(benchmark, keep_id=False).distinct()
    return (
        grams(train, keep_id=True)
        .join(F.broadcast(bench_grams), "__gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )


def cross_corpus_dedup(
    new: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental dedup: drop new-batch docs whose exact content
    already exists in the base corpus (every nightly training-data
    refresh does this before anything else).

    One anti-join on sha2(text) — both sides shuffle once on the
    256-bit content key, so collision groups are single rows and the
    join never expands. At 100 TB the base side would be the
    pre-materialized hash column of the corpus manifest, not a rescan.
    """
    key = F.sha2(F.col(text_col), 256)
    return new.withColumn("__k", key).join(
        existing.select(key.alias("__k")).distinct(), "__k", "left_anti"
    ).drop("__k")


def graph_rank(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "vec_id",
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Deterministic fixed-point PageRank over an undirected pair
    graph — centrality in the near-duplicate graph, the signal that
    picks the CANONICAL representative of a duplicate neighborhood
    (keep the most-connected doc, not the lowest id) and surfaces
    template/boilerplate hubs.

    ``pairs`` is (id_a, id_b) one row per undirected edge; ``nodes``
    supplies the full id universe so isolated docs score the floor.
    Ranks are exact integer micro-units: r₀ = 10⁶, each iteration
    r'(v) = (1-d)·10⁶ + (d·Σ_{u→v} r(u) div deg(u)) with damping and
    division as integer arithmetic — replayable bit-for-bit on any
    engine (float PageRank is summation-order-dependent). Dangling
    and isolated nodes leak their mass (no redistribution term):
    documented, deterministic, and irrelevant for ranking canonical
    representatives within a neighborhood.

    Each of the ``iters`` (fixed, small) iterations is one edge join
    + one aggregation — O(E) shuffle per round, the same cost shape
    as the label-propagation clustering above; no driver-side loops
    over data, only over the iteration count.
    """
    if iters <= 0 or not (0 <= damping_pct <= 100):
        raise ValueError(
            f"need iters > 0 and 0 <= damping_pct <= 100; got "
            f"{iters}, {damping_pct}"
        )
    # Materialize the edge list once: it is re-read every iteration
    # (plus the degree pass), and the pair-generation lineage behind
    # it (LSH banding / PPJoin) is far more expensive than the edges
    # themselves — same localCheckpoint discipline as the label-
    # propagation loop above. Bounded: O(E) rows of two longs.
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        # .distinct() for the same reason duplicate_clusters dedups
        # its edge list: a caller unioning two candidate generators
        # (or emitting both (a,b) and (b,a)) must not double-count
        # that edge's degree and rank contribution while every other
        # edge counts once.
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ids = nodes.select(F.col(id_col).alias("id"))
    floor = (100 - damping_pct) * 10_000
    ranks = ids.select("id", F.lit(1_000_000).cast("long").alias("r"))
    for i in range(iters):
        # Truncate the loop-carried lineage every few rounds (same
        # chunked-localCheckpoint discipline as bpe_train): at the
        # default iters=3 this never fires, but a config-surface
        # caller raising iters must not compound Catalyst re-plan
        # cost per round.
        if i and i % 8 == 0:
            ranks = ranks.localCheckpoint(eager=True)
        contrib = (
            edges.join(ranks, edges.src == ranks.id)
            .join(deg, "src")
            .select(F.col("dst").alias("id"), F.expr("r div d").alias("c"))
        )
        incoming = contrib.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = ids.join(incoming, "id", "left").select(
            "id",
            F.expr(
                f"CAST({floor} + ({damping_pct} * coalesce(s, CAST(0 AS BIGINT)))"
                f" div 100 AS BIGINT)"
            ).alias("r"),
        )
    return ranks.join(deg, ranks.id == deg.src, "left").select(
        F.col("id").alias(id_col),
        F.coalesce("d", F.lit(0).cast("long")).alias("n_neighbors"),
        F.col("r").alias("rank_micro"),
    )


def snapshot_diff(
    curr: DataFrame,
    prev: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff — the dataset-versioning primitive: per
    document id, whether it was added, removed, changed, or unchanged
    between two corpus snapshots, plus a content key for the surviving
    payload. A corpus release pairs this with the dataset card so a
    consumer can audit exactly what moved between versions.

    Each side is projected down to (id, content hashes) BEFORE the
    full-outer join, so the shuffle carries ~100-byte hash rows
    (hex sha2 + md5) instead of document payloads — at 100 TB both
    sides would read pre-materialized manifest hash columns, never
    the text itself.
    One shuffle on the id; change detection compares the 256-bit
    hashes, never the payloads.
    """
    # Presence is a dedicated non-nullable marker per side: testing
    # hash-nullness would misreport a present row whose TEXT is NULL
    # (sha2(NULL) is NULL) as absent — a curr-side NULL-text doc came
    # out "removed". Hash comparison below is null-safe eqNullSafe
    # for the same reason.
    c = curr.select(
        F.col(id_col).alias("__id"),
        F.sha2(F.col(text_col), 256).alias("__c_hash"),
        F.md5(F.col(text_col)).alias("__c_key"),
        F.lit(1).alias("__in_c"),
    )
    p = prev.select(
        F.col(id_col).alias("__id"),
        F.sha2(F.col(text_col), 256).alias("__p_hash"),
        F.md5(F.col(text_col)).alias("__p_key"),
        F.lit(1).alias("__in_p"),
    )
    status = (
        F.when(F.col("__in_c").isNull(), "removed")
        .when(F.col("__in_p").isNull(), "added")
        .when(
            ~F.col("__c_hash").eqNullSafe(F.col("__p_hash")), "changed"
        )
        .otherwise("unchanged")
    )
    return c.join(p, "__id", "full_outer").select(
        F.col("__id").alias(id_col),
        status.alias("status"),
        F.coalesce("__c_key", "__p_key").alias("content_key"),
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash fingerprint per document (one aggregate pass:
    64 per-bit signed sums).

    ``token_hash="md5_32x2"`` draws the 64 bits from two 32-bit md5
    words (hex chars 1-8 and 9-16) instead of xxhash64 — same
    independence properties, replayable by any SQL engine; xxhash64
    is the production default (one JVM-native hash per token instead
    of a cryptographic one).
    """
    if token_hash not in ("md5_32x2", "xxhash64"):
        # same loud-family rule as shingle_hash_sets/_banded: a typo
        # must not silently hash with a different (JVM-private)
        # family and produce oracle-unreplayable fingerprints
        raise ValueError(
            f"simhash token_hash must be md5_32x2|xxhash64, got {token_hash!r}"
        )
    if not 1 <= bits <= 64:
        # bits=0 would die later with an opaque AttributeError and
        # bits>64 silently duplicates low bits (JVM shifts are mod
        # 64) AND double-applies the sign-bit weight — corrupt
        # fingerprints that still look plausible
        raise ValueError(f"simhash bits must be in [1, 64], got {bits}")
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    if token_hash == "md5_32x2":
        toks = toks.withColumn(
            "h1", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        ).withColumn(
            "h2", F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long")
        )

        def bit_at(i: int):
            src = "h1" if i < 32 else "h2"
            return F.shiftright(src, i % 32).bitwiseAND(F.lit(1))

    else:
        toks = toks.withColumn("h", F.xxhash64("tok"))

        def bit_at(i: int):
            return F.shiftright("h", i).bitwiseAND(F.lit(1))

    bit_sums = [
        F.sum(F.when(bit_at(i) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(2**i if i < 63 else -(2**63)).cast("long")
        fp = term if fp is None else (fp + term)
    return agg.select(F.col(id_col), fp.alias("fingerprint"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer–Wilkerson–Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token shingle, then
    from each window of ``w`` consecutive shingle hashes keep the
    minimum (rightmost on ties) — a position-robust fingerprint set
    with guaranteed density ~2/(w+1) that catches PARTIAL overlap
    (a copied paragraph inside an otherwise-new doc) where whole-doc
    hashing and MinHash's unordered sets cannot localize it.

    Spark-first shape: the token/shingle hashing is the zero-shuffle
    md5_32 family map stage shared with :func:`shingle_hash_sets`; the
    window-min runs per document (partitioned by id — bounded by doc
    length, never corpus-sized). The min-with-rightmost-tie rule is
    made engine-exact by packing (hash asc, position desc) into ONE
    long — ``h·2²¹ + (2²⁰ − pos)`` — so a plain MIN() window replays
    the selection bit-for-bit in the DuckDB oracle. Positions are
    capped at 2²⁰ tokens/doc (1M; chunk longer docs upstream —
    ``llm_chunking`` exists for exactly that).
    """
    from pyspark.sql import Window

    sh = (
        _token_hashes(df, id_col, text_col, "md5_32")
        .select(F.col(id_col), F.posexplode(_shingle_hashes(k)).alias("p0", "h"))
        .select(
            id_col,
            (F.col("p0") + 1).alias("p"),
            "h",
        )
    )
    key = (
        F.col("h") * F.lit(1 << 21)
        + (F.lit((1 << 20) - 1) - F.least(F.col("p"), F.lit((1 << 20) - 1)))
    )
    wmin = (
        Window.partitionBy(id_col).orderBy("p").rowsBetween(-(w - 1), 0)
    )
    wall = Window.partitionBy(id_col)
    return (
        sh.withColumn("__key", key)
        .withColumn("mkey", F.min("__key").over(wmin))
        .withColumn("n_sh", F.max("p").over(wall))
        .filter((F.col("p") >= w) | (F.col("p") == F.col("n_sh")))
        .select(
            F.col(id_col),
            (F.lit((1 << 20) - 1) - (F.col("mkey") % F.lit(1 << 21))).alias("pos"),
            F.expr(f"mkey div {1 << 21}").alias("fp"),
        )
        .distinct()
    )


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
    min_shared: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Near-dup candidates from shared winnowing fingerprints: two
    docs pair when ≥ ``min_shared`` distinct fingerprints match — the
    practical MOSS usage, and the partial-overlap complement to
    MinHash (a copied paragraph pairs documents whose WHOLE-text
    Jaccard is far below any LSH threshold).

    Same scale discipline as :func:`lsh_candidate_pairs`: fingerprint
    buckets above ``max_bucket`` (boilerplate shingles every doc
    contains) are dropped BEFORE the m² pair expansion, and the
    shared-count aggregation runs on pair keys, never on payloads.
    Returns (id_a, id_b, n_shared) with id_a < id_b.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, w).select(
        F.col(id_col), "fp"
    ).distinct()
    bounded = _capped_bucket_ids(fps, ["fp"], id_col, max_bucket)
    pairs = _expand_pairs(bounded)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
