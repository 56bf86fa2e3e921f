"""Vector similarity search over embedding columns (array<float>).

All math runs JVM-side through array higher-order functions in
double precision with fixed left-fold order, so results are exactly
reproducible (and oracle-matchable) — no Python in the hot path.

Scale design:

- **brute-force top-k**: probe set broadcast against the corpus —
  each executor scores its partition, TakeOrderedAndProject keeps k.
  O(n·q) but embarrassingly parallel: the right baseline and the
  exact verifier.
- **LSH (random hyperplane)**: deterministic pseudo-random planes
  (hash-derived, no RNG state) → signature buckets → only same-bucket
  pairs scored. Sub-linear candidate generation for corpus-scale knn.
- **IVF-style coarse routing**: probe only the partitions whose
  centroid-proxy bucket matches; here the bucket is the hyperplane
  prefix (training-free).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def lsh_scale_params(
    n: int, target_bucket: int = 200, max_planes: int = 24
) -> tuple[int, int]:
    """(planes_per_table, max_bucket) sized for an n-vector corpus —
    the production sizing rule the hyperplane-LSH family documents
    ("size planes ~log₂ n") made executable.

    planes_per_table is the smallest p with EXPECTED bucket density
    n/2^p <= target_bucket, clamped to [1, max_planes]; max_bucket is
    4x the target — headroom for ordinary occupancy variance while
    still truncating pathological buckets. Both matter, for different
    failure modes (measured, r17 ann_probe at 25x sf0.1,
    docs/SCALE_PROBE_r17_census_top.txt): with FIXED planes a k×
    corpus is k× denser per bucket and candidate volume grows ~k²
    (1.2B pairs at x25); re-sizing planes restores the EXPECTED
    density, but on clustered corpora locality lands tight cosine
    clusters whole in a bucket at any granularity (4→9 planes
    recovered only 2.3×) — the cap is what bounds those (1.2B →
    1.26M candidates, walls in seconds). Defaults keep expected
    per-anchor candidate work at ~target_bucket · n_tables,
    independent of corpus size.
    """
    import math

    if n <= 0:
        raise ValueError(f"corpus size must be positive, got {n}")
    if target_bucket < 1:
        raise ValueError(f"target_bucket must be >= 1, got {target_bucket}")
    p = max(1, math.ceil(math.log2(max(n / target_bucket, 2.0))))
    return min(p, max_planes), 4 * target_bucket


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ, fixed left-fold order (engine-reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def _label_out(df: DataFrame, label_col: str) -> Column:
    """Output form of a configurable label column: numeric labels
    normalize to long (int32 fixtures ↔ BIGINT oracles), everything
    else passes through UNCAST — `CAST('en' AS BIGINT)` would throw
    under Spark 4's default ANSI mode (and silently NULL the column
    with ANSI off), breaking string-labeled config-surface callers."""
    from pyspark.sql import types as T

    dt = df.schema[label_col].dataType
    col = F.col(label_col)
    return col.cast("long") if isinstance(dt, T.NumericType) else col


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with the zero-vector convention cos = 0.

    The guard matters operationally: one all-zero embedding (a failed
    or padded embed row) would otherwise kill the whole job under
    Spark 4's default ANSI mode (DIVIDE_BY_ZERO) — and every topk /
    neardup / kmeans / semdedup operator funnels through here. For
    non-zero vectors the arithmetic is unchanged (bit-identical to
    the unguarded form).

    Cost note: inlined like this, each norm() appears twice (guard +
    value) and array-lambda expressions are excluded from codegen
    subexpression elimination, so a pair-scoring projection pays ~4
    norm traversals per PAIR. Everywhere the two sides of the pair
    come from separate frames, prefer attaching :func:`norm` columns
    per SIDE before the join and scoring with :func:`cosine_dn` —
    O(n·d) norm work instead of O(pairs·d·4), identical doubles."""
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine_dn(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine` with precomputed norm columns.

    ``na``/``nb`` MUST be plain column references to norms computed
    by :func:`norm` on ``a``/``b`` in an upstream operator (a select
    on each join side — the join boundary stops CollapseProject from
    re-inlining them). The expression tree is then
    ``when(na·nb > 0, dot/(na·nb))`` — the same multiply, compare and
    divide on the same doubles as :func:`cosine`, so results are
    bit-identical while each pair pays one dot traversal instead of
    one dot plus four norm traversals."""
    d = na * nb
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def _bucket_pair_scores(
    banded: DataFrame,
    vn: DataFrame,
    keys: list[str],
    max_bucket: int | None,
    keep: Column,
    a: dict[str, str],
    b: dict[str, str],
) -> DataFrame:
    """Scored candidate pairs of an LSH self-join over
    :func:`banded_norms` frames: rows of the bucket-capped ``banded``
    that agree on every ``keys`` column and satisfy ``keep`` pair up,
    deduplicated across tables, plus ``__cs`` = :func:`cosine_dn` of
    the two sides' ``vn`` vectors. ``a``/``b`` map ``banded`` columns
    to each side's output names; the first entry is the side's id.

    Slim candidate generation: the pair join and multi-table dedup
    move 16-byte id pairs (plus carried columns), NOT the 64-double
    vectors — each pair appears in up to n_tables buckets before
    dedup; measured 1.7× faster at sf0.1 (identical pairs). Vectors
    and norms join back onto the deduped pairs afterwards."""
    id_col = next(iter(a))
    banded = _cap_buckets(banded, keys, max_bucket)
    sa, sb = (
        banded.select(*keys, *[F.col(c).alias(o) for c, o in side.items()])
        for side in (a, b)
    )
    scored = (
        sa.join(sb, keys)
        .filter(keep)
        .select(*a.values(), *b.values())
        .dropDuplicates([a[id_col], b[id_col]])
    )
    cols = scored.columns
    for tag, side in (("a", a), ("b", b)):
        scored = scored.join(
            vn.select(
                F.col(id_col).alias(side[id_col]),
                F.col("__v").alias(f"__v{tag}"),
                F.col("__n").alias(f"__n{tag}"),
            ),
            side[id_col],
        )
    return scored.select(
        *cols,
        cosine_dn(
            F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
        ).alias("__cs"),
    )


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "probe_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for every probe vector.

    ``probes``: (probe_id, probe_vec). The probe side broadcasts;
    the corpus is scanned once; per-probe top-k via one window.
    """
    # Norms are attached per SIDE before the join (cosine_dn): the
    # corpus pays n norm traversals instead of 4·n·|probes| inside
    # the scoring projection. Same doubles, same ranks.
    c = corpus.select(
        F.col(id_col), as_double(vec_col).alias("__v")
    ).withColumn("__nv", norm(F.col("__v")))
    p = probes.select(
        F.col(probe_id), as_double("probe_vec").alias("__q")
    ).withColumn("__nq", norm(F.col("__q")))
    scored = c.crossJoin(F.broadcast(p)).select(
        probe_id,
        id_col,
        F.round(
            cosine_dn(
                F.col("__v"), F.col("__q"), F.col("__nv"), F.col("__nq")
            ),
            6,
        ).alias("cos_sim"),
    )
    return _rank_topk(scored, probe_id, id_col, k)


def _rank_topk(scored: DataFrame, part_col: str, id_out: str, k: int) -> DataFrame:
    """Shared per-partition top-k tail for the cosine-scored family
    (brute_force_topk / lsh_topk / ivf_topk / knn_join): rank by
    cos_sim desc with the deterministic id tie-break, keep k, emit
    rank as long. One site, four operators — so a tie-break or
    rank-typing fix cannot drift between them (the hard_negatives
    max_bucket omission was exactly this class of four-copy miss).

    ``k >= 1`` is validated HERE so all four operators share the
    guard: ``rn <= 0`` matches nothing, so a zero/negative k would
    silently return an EMPTY result from every ANN surface instead
    of naming the misconfig (round-12; same contract as the
    degenerate-count guards in dedup.py)."""
    if k < 1:
        raise ValueError(f"top-k requires k >= 1, got {k}")
    w = Window.partitionBy(part_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_out).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            part_col, id_out, "cos_sim", F.col("rn").cast("long").alias("rank")
        )
    )


def _weight_from(x: Column) -> Column:
    """x (small non-negative int) → double in [-1, 1): top 11 bits of
    (x·2654435761 mod 2³²), every step exact integer arithmetic.

    Weight d of hyperplane p is ``_weight_from(p·100_003 + d)`` — a
    deterministic pseudo-random plane family derived by multiplicative
    hashing (Knuth's constant), identical on every executor and across
    task retries (the property a seeded RNG can't guarantee), AND
    reproducible in any SQL engine: the twin oracle computes the very
    same planes, which upgrades every hyperplane-LSH operator from
    rows-only to hash-checked."""
    y = (x * F.lit(2_654_435_761)) % F.lit(4_294_967_296)
    hi = (y - y % F.lit(2_097_152)) / F.lit(2_097_152)  # exact: < 2^53
    return (hi - F.lit(1024.0)) / F.lit(1024.0)


def _table_buckets(vec: Column, n_tables: int, planes_per_table: int) -> Column:
    """Array of per-table bucket ids (table t uses planes
    [t·k, (t+1)·k) — disjoint deterministic hyperplanes).

    Nested over tables (one ``transform`` with the table id derived
    in-plan) instead of n_tables unrolled expressions: measured 1.6×
    faster at sf0.1 with bit-identical buckets — the expression tree
    shrinks by the table count, same win as the minhash signature
    stage."""
    if n_tables < 1:
        # sequence(0, -1) DESCENDS, so n_tables=0 would silently
        # bucket every vector under a garbage table id of -1.
        raise ValueError(f"LSH n_tables must be >= 1, got {n_tables}")
    if planes_per_table < 1:
        # zero planes → bucket 0 for every vector → one corpus-sized
        # bucket per table, which the cap then drops: silently empty
        # candidates instead of a loud config error.
        raise ValueError(
            f"LSH planes_per_table must be >= 1, got {planes_per_table}"
        )
    tables = F.sequence(F.lit(0), F.lit(n_tables - 1))

    def table_bucket(t: Column) -> Column:
        b = F.lit(0).cast("long")
        for j in range(planes_per_table):
            p = t * F.lit(planes_per_table) + F.lit(j)
            # Plane length derives from the VECTOR, not a 64 literal:
            # zip_with null-pads mismatched lengths, so a hardcoded
            # 64 would fold every dim≠64 projection to NULL and
            # silently collapse all vectors into one bucket per
            # table (the all-pairs join the banding exists to avoid).
            # For 64-dim inputs the weights are bit-identical.
            w = F.transform(
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda d: _weight_from(p * F.lit(100_003) + d),
            )
            proj = dot(vec, w)
            b = b + F.when(proj > 0, F.lit(2**j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return b

    return F.transform(tables, table_bucket)


def _cap_buckets(
    banded: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """Optional skew defense for the hyperplane-LSH family, applied
    BEFORE any pair join: rows in buckets larger than ``max_bucket``
    are dropped (a window count — spill-safe, no arrays). One hot
    bucket (duplicate-heavy corpus, a degenerate plane family)
    otherwise expands quadratically in the candidate join, the same
    bomb the minhash path caps by default. Default None preserves
    exact recall; production corpora should set it (the dropped
    buckets trade bounded recall for a bounded join, exactly like
    ``lsh_candidate_pairs``'s cap in llm/dedup.py)."""
    if max_bucket is None:
        return banded
    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= max_bucket)
        .drop("__bn")
    )


def banded_norms(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra: tuple[str, ...] = (),
    n_tables: int = 6,
    planes_per_table: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """(banded, vn) — the two frames every LSH self-join consumer
    needs, each materialized ONCE via a lazy ``localCheckpoint``.

    Why (guide §3.3 / §4.4 shape, r17 plan evidence): a candidate
    self-join references its input twice, and each leg of a
    pos/neg miner references it again — the UNtruncated llm_triplets
    plan held 16 parquet scans and 4 full banding evaluations
    (24 hyperplane dot products per vector EACH) of the same
    2 000-row table (`plans/r17/llm_triplets_before.txt`). Lineage
    truncation makes the expensive banding a compute-once artifact:
    one corpus scan, one banding pass, however many consumers.
    At 100 TB the banded frame is (id, table, bucket) — ~20 bytes/row
    × n_tables, a small multiple of the id column, NOT the vectors —
    and ``vn`` holds vector + norm exactly once instead of once per
    join side. localCheckpoint is lazy (eager=False): nothing runs
    at plan-build time, the first action materializes, later
    references read the persisted partitions. Results are rows-
    identical by construction (checkpointing never changes values) —
    r17 fingerprint A/B pinned identical hashes for every consumer.

    ``banded`` is UNcapped: per-consumer skew caps key on different
    column sets (knn_join caps within the group, hard_negatives
    across it), so :func:`_cap_buckets` stays a cheap window applied
    by each caller on top of the shared frame.

    Tradeoff accepted here (r17 advice): localCheckpoint blocks are
    non-replicated executor storage with lineage severed — executor
    loss after materialization fails the job rather than recomputing,
    and single-use callers pay materialization for frames that could
    stream. Both are fine for THESE frames because they are id-sized
    (ids + buckets + one vector row per id), cheap to rebuild by
    rerunning the job, and multi-consumer in every hot caller.
    Corpus-sized intermediates must NOT use this pattern — see
    :mod:`configdrivendatapipeline_spark.scratch` for the
    storage-backed alternative the PPJoin build uses.
    """
    v = emb.select(
        F.col(id_col), *[F.col(c) for c in extra], as_double(vec_col).alias("__v")
    )
    vn = v.withColumn("__n", norm(F.col("__v"))).localCheckpoint(eager=False)
    banded = vn.select(
        id_col,
        *extra,
        F.posexplode(
            _table_buckets(F.col("__v"), n_tables, planes_per_table)
        ).alias("table_id", "bucket"),
    ).localCheckpoint(eager=False)
    # Stamp the banding parameters on both frames so a consumer
    # receiving them via ``shared=`` can fail loudly at plan time on a
    # parameter mismatch (wrong plane family silently changes the
    # candidate set — the explicit n_tables/planes arguments would be
    # ignored otherwise). Plain Python attributes: they ride the
    # DataFrame handle, never the plan.
    params = {
        "id_col": id_col,
        "extra": tuple(extra),
        "n_tables": n_tables,
        "planes_per_table": planes_per_table,
    }
    banded._banding_params = params  # type: ignore[attr-defined]
    vn._banding_params = params  # type: ignore[attr-defined]
    return banded, vn


def _shared_or_banded(
    emb: DataFrame,
    shared: tuple[DataFrame, DataFrame] | None,
    id_col: str,
    vec_col: str,
    need_extra: tuple[str, ...],
    n_tables: int,
    planes_per_table: int,
) -> tuple[DataFrame, DataFrame]:
    """The consumer's (banded, vn): ``banded_norms(emb, ...)`` when
    ``shared`` is None, else ``shared`` validated against the
    consumer's own banding parameters. Frames from
    :func:`banded_norms` carry a ``_banding_params`` stamp —
    mismatched plane family / id column / missing extra columns raise
    here, at plan-build time, instead of silently mining a different
    candidate set. Hand-built frames (no stamp) are only checked
    structurally (required columns)."""
    if shared is None:
        return banded_norms(
            emb, id_col, vec_col, need_extra, n_tables, planes_per_table
        )
    banded, vn = shared
    p = getattr(banded, "_banding_params", None)
    if p is not None:
        if (
            p["id_col"] != id_col
            or p["n_tables"] != n_tables
            or p["planes_per_table"] != planes_per_table
            or any(c not in p["extra"] for c in need_extra)
        ):
            raise ValueError(
                "shared banded frames were built with incompatible "
                f"parameters {p} — consumer expects id_col={id_col!r}, "
                f"n_tables={n_tables}, planes_per_table={planes_per_table}, "
                f"extra covering {need_extra!r}"
            )
    missing = [
        c for c in (id_col, *need_extra, "table_id", "bucket")
        if c not in banded.columns
    ]
    missing += [c for c in (id_col, "__v", "__n") if c not in vn.columns]
    if missing:
        raise ValueError(
            f"shared banded/norm frames are missing column(s) {missing}"
        )
    return shared


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_tables: int = 4,
    planes_per_table: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "probe_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH.

    L independent tables of k planes each; candidates = union of
    same-bucket matches across tables (the standard recall amplifier:
    P(candidate) = 1 − (1 − p^k)^L). At corpus scale each table is an
    equi-join on (table_id, bucket) — candidates shrink ~2^k-fold per
    table, and the crossJoin never happens.
    """
    # Slim candidate generation (same discipline as knn_join /
    # neardup_pairs): only (probe_id, id) pairs flow through the
    # bucket join and the multi-table dedup — each candidate appears
    # in up to n_tables buckets, and shuffling the 64-double vectors
    # through that dedup was the measured 1.7× overhead on the
    # sibling ops. Vectors join back onto the deduped pairs.
    # banded_norms materializes the corpus scan + banding once: the
    # corpus frame is otherwise referenced twice (candidate source
    # and score join) and would scan + band twice (§3.3).
    c, cv = banded_norms(corpus, id_col, vec_col, (), n_tables, planes_per_table)
    c = _cap_buckets(c, ["table_id", "bucket"], max_bucket)
    pv = probes.select(
        F.col(probe_id), as_double("probe_vec").alias("__q")
    ).withColumn("__nq", norm(F.col("__q")))
    p = pv.select(
        probe_id,
        F.posexplode(_table_buckets(F.col("__q"), n_tables, planes_per_table)).alias(
            "table_id", "bucket"
        ),
    )
    candidates = (
        c.join(F.broadcast(p), ["table_id", "bucket"])
        .select(probe_id, id_col)
        .dropDuplicates([probe_id, id_col])
    )
    scored = candidates.join(cv, id_col).join(F.broadcast(pv), probe_id).select(
        probe_id,
        id_col,
        F.round(
            cosine_dn(
                F.col("__v"), F.col("__q"), F.col("__n"), F.col("__nq")
            ),
            6,
        ).alias("cos_sim"),
    )
    return _rank_topk(scored, probe_id, id_col, k)


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "probe_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantize, probe few lists.

    Default quantizer is training-free: the ``n_centroids`` lowest-id
    corpus vectors serve as centroids (deterministic). Pass
    ``centroids`` — (cluster, __c array<double>), e.g. from
    :func:`kmeans_centroids` — to route through a TRAINED coarse
    quantizer instead; the plan shape is identical either way. Every
    corpus vector is assigned to its nearest centroid (inverted
    list); each query scores only its ``n_probe`` nearest lists — an
    equi-join on the list id replaces the crossJoin, scanning
    ~n_probe/n_centroids of the corpus.
    """
    if n_centroids < 1 or n_probe < 1:
        # limit(0) centroids → empty lists → every probe silently
        # returns zero neighbors; fail at plan time instead
        raise ValueError(
            f"ivf_topk requires n_centroids >= 1 and n_probe >= 1; "
            f"got n_centroids={n_centroids}, n_probe={n_probe}"
        )
    c = corpus.select(
        F.col(id_col), as_double(vec_col).alias("__v")
    ).withColumn("__nv", norm(F.col("__v")))
    if centroids is not None:
        cents = centroids.select(
            F.col("cluster").alias("cent_id"), F.col("__c")
        )
    else:
        cents = (
            c.orderBy(id_col)
            .limit(n_centroids)
            .select(F.col(id_col).alias("cent_id"), F.col("__v").alias("__c"))
        )
    # Centroid norms once per centroid (k rows) instead of 4× per
    # (vector, centroid) score — see cosine_dn.
    cents = cents.withColumn("__nc", norm(F.col("__c")))
    bc = F.broadcast(cents)

    # invert: each corpus vector → nearest centroid's list
    assigned = (
        c.crossJoin(bc)
        .withColumn(
            "__sim",
            cosine_dn(
                F.col("__v"), F.col("__c"), F.col("__nv"), F.col("__nc")
            ),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.col("__sim").desc(), F.col("cent_id"))
            ),
        )
        .filter(F.col("__rn") == 1)
        .select(id_col, "__v", "__nv", F.col("cent_id").alias("list_id"))
    )

    # route each probe to its n_probe nearest lists
    p = probes.select(
        F.col(probe_id), as_double("probe_vec").alias("__q")
    ).withColumn("__nq", norm(F.col("__q")))
    routed = (
        p.crossJoin(bc)
        .withColumn(
            "__sim",
            cosine_dn(
                F.col("__q"), F.col("__c"), F.col("__nq"), F.col("__nc")
            ),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(probe_id).orderBy(F.col("__sim").desc(), F.col("cent_id"))
            ),
        )
        .filter(F.col("__rn") <= n_probe)
        .select(probe_id, "__q", "__nq", F.col("cent_id").alias("list_id"))
    )

    scored = assigned.join(F.broadcast(routed), "list_id").select(
        probe_id,
        id_col,
        F.round(
            cosine_dn(
                F.col("__v"), F.col("__q"), F.col("__nv"), F.col("__nq")
            ),
            6,
        ).alias("cos_sim"),
    )
    return _rank_topk(scored, probe_id, id_col, k)


def knn_join(
    emb: DataFrame,
    k: int = 3,
    n_tables: int = 6,
    planes_per_table: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = None,
    max_bucket: int | None = None,
    shared: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate k-NN self-join: top-k neighbors for EVERY vector.

    Candidates come from multi-table hyperplane LSH — two vectors
    meet only when they share (table_id, bucket) in some table
    (optionally also matching ``group_col``) — so the pair space is an
    equi-join bounded by bucket granularity (~n/2^planes per table per
    group), never the label-quadratic or O(n²) self-join: a hot group
    (e.g. one dominant language label) subdivides across buckets
    instead of forming one k² pair bomb. The deterministic arithmetic
    planes (:func:`_weight_from`) mean a SQL oracle replays the
    identical candidate set, keeping the operator hash-checkable.

    ``shared``: a (banded, vn) pair from :func:`banded_norms` built
    with compatible params (same plane family; ``extra`` covering
    ``group_col``) — lets a multi-miner caller (triplet prep) band
    the corpus once for all legs. Default None builds (and
    materializes) them here.
    """
    extra = [group_col] if group_col else []
    banded, vn = _shared_or_banded(
        emb, shared, id_col, vec_col, tuple(extra), n_tables, planes_per_table
    )
    scored = _bucket_pair_scores(
        banded,
        vn,
        extra + ["table_id", "bucket"],
        max_bucket,
        F.col("left_id") != F.col("right_id"),
        {id_col: "left_id"},
        {id_col: "right_id"},
    ).select("left_id", "right_id", F.round("__cs", 6).alias("cos_sim"))
    return _rank_topk(scored, "left_id", "right_id", k)


def neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 6,
    planes_per_table: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b).

    Default path is LSH-bucketed: both sides explode to (table_id,
    bucket) hyperplane signatures and only same-bucket pairs are
    scored — an equi-join, never the O(n²) theta self-join, so the
    pair space stays bounded at corpus scale (size planes ~log₂ n).
    Candidate recall is the standard 1 − (1 − p^k)^L amplifier; the
    deterministic arithmetic planes mean an oracle can replay the
    exact same candidate set.

    Threshold contract: the cutoff applies to the 6-dp ROUNDED
    cosine (a pair whose true cosine is within 5e-7 below the
    threshold is admitted). Deliberate, not an oversight: two
    engines computing the same dot/norm arithmetic agree on the
    rounded value but can disagree at the last float ulp, so an
    unrounded threshold would make boundary pairs engine-dependent —
    the same determinism rule as the scale-6 DEC convention in
    queries/__init__.py. Callers needing a strict raw-cosine cutoff
    should over-ask by 1e-6 and re-filter.
    """
    # banded_norms materializes the scan+band subtree once for both
    # join sides (§3.3).
    banded, vn = banded_norms(
        emb, id_col, vec_col, (), n_tables, planes_per_table
    )
    return (
        _bucket_pair_scores(
            banded,
            vn,
            ["table_id", "bucket"],
            max_bucket,
            F.col("id_a") < F.col("id_b"),
            {id_col: "id_a"},
            {id_col: "id_b"},
        )
        .select("id_a", "id_b", F.round("__cs", 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization summary — the
    compression step before shipping an embedding corpus to an ANN
    index (4× smaller than float32, dot products stay int32).

    q_i = half-up-round(v_i · 127 / max|v|), clamped to [−127, 127].
    Pure map-side array arithmetic, no shuffle, no Python. Emits
    scalar diagnostics instead of the quantized array (sum / L1 norm
    of q, max |reconstruction error|) so the output is hashable
    cross-engine; a production sink would keep the array<tinyint>.
    Half-up rounding is floor(x + ½) — exact in both engines, unlike
    banker's-rounding `round()` variants.
    """
    v = as_double(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # All-zero vector guard: 127/0 = Inf, then 0·Inf = NaN would flow
    # through floor/least/greatest with engine-specific NaN ordering.
    # scale=1 makes q_i = floor(0+0.5) = 0 and recon_err = |0 − 0/1| =
    # 0 exactly — mirrored in the SQL oracle (llm_embed_quantize).
    scale = F.when(max_abs == 0, F.lit(1.0)).otherwise(F.lit(127.0) / max_abs)
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.floor(x * scale + 0.5).cast("double"))
        ),
    )
    recon_err = F.array_max(
        F.zip_with(v, q, lambda x, qi: F.abs(x - qi / scale))
    )
    return emb.select(
        F.col(id_col),
        F.round(max_abs, 6).alias("max_abs"),
        F.aggregate(q, F.lit(0.0), lambda s, x: s + x).cast("long").alias("q_sum"),
        F.aggregate(q, F.lit(0.0), lambda s, x: s + F.abs(x)).cast("long").alias("q_l1"),
        F.round(recon_err, 6).alias("max_recon_err"),
    )


def semdedup(
    emb: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = ("label",),
    n_tables: int = 6,
    planes_per_table: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Semantic dedup over an embedding column (SemDeDup-style):
    drop every vector that has a LOWER-id neighbor with cosine ≥
    ``threshold`` inside any shared LSH bucket.

    Greedy-by-id is the deterministic variant of cluster-and-keep-one
    (retry-safe, engine-replayable); candidates come from the same
    hyperplane LSH as :func:`neardup_pairs`, so the pair space is
    bucket-bounded — never O(n²) — and the dropped set is exactly
    `{id_b of scored pairs ≥ threshold}`. Emits every row with a
    ``kept`` flag so downstream can filter or audit the drop rate.

    Survivor semantics — deliberately ONE PASS, which over-drops
    relative to iterative greedy selection on chains: with pairs
    A~B and B~C (but not A~C), iterative greedy keeps {A, C} (C's
    only neighbor B was already dropped), while this keeps only {A}
    — C is dropped because it has SOME lower-id neighbor, dropped
    or not. At corpus scale that trade is intentional: iterative
    greedy is O(chain-length) sequential join rounds, whereas one
    pass is a single distinct + anti-join, and the extra drops are
    confined to near-duplicate chains you were thinning anyway. Use
    connected components (:func:`dedup.duplicate_clusters`) plus a
    per-component canonical pick when exact
    one-representative-per-neighborhood semantics matter.
    """
    pairs = neardup_pairs(
        emb,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        n_tables=n_tables,
        planes_per_table=planes_per_table,
        max_bucket=max_bucket,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct().withColumn(
        "__drop", F.lit(True)
    )
    return (
        emb.select(id_col, *keep_cols)
        .join(dropped, id_col, "left")
        .select(
            id_col,
            *keep_cols,
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
        )
    )


def kmeans_assign(
    emb: DataFrame,
    n_clusters: int = 8,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means cluster assignment over an embedding
    column — the trained-quantizer path that :func:`ivf_topk`'s
    training-free centroid pick stands in for, and the clustering
    step of cluster-then-dedup curation (SemDeDup's real shape).

    Everything is retry-safe and engine-replayable — no RNG state:

    - **seeds**: the ``n_clusters`` lowest-id vectors (k-means++ on a
      sample in a production tuning pass; the plan shape is identical);
    - **assignment**: nearest centroid by cosine, ties to the lowest
      cluster id — an n×k broadcast crossJoin + per-vector top-1
      window, never a shuffle of the corpus;
    - **refinement**: per-cluster mean on a 2⁻²⁰ fixed-point grid:
      components quantize exactly (`floor(v·2²⁰)` is exact for any
      float v), per-dimension BIGINT sums are order-independent, and
      the final division produces the identical double on every
      engine — the float-sum mean would depend on partition order.

    Per iteration: one explode (n·dim rows, 16-byte values) + one
    aggregation — both partition-parallel; centroids re-assemble via
    a k·dim-bounded collect_list. Returns (id, cluster, cos_sim) for
    every vector; ``cluster`` is the seed vector's id.
    """
    a = _kmeans_iterate(
        emb, n_clusters, refine_iters, id_col, vec_col
    )[0]
    # cluster = a seed vector's id, so its type follows id_col and
    # _label_out keeps string ids uncast
    return a.select(
        id_col,
        _label_out(a, "cluster").alias("cluster"),
        F.round("__cos", 6).alias("cos_sim"),
    )


def kmeans_centroids(
    emb: DataFrame,
    n_clusters: int = 8,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The refined centroid frame (cluster, __c array<double>) from
    the same deterministic k-means as :func:`kmeans_assign` — feed to
    :func:`ivf_topk` as the trained coarse quantizer."""
    return _kmeans_iterate(emb, n_clusters, refine_iters, id_col, vec_col)[1]


def _fixed_point_means(df: DataFrame, keys: list[str]) -> DataFrame:
    """``(keys…, __c)``: the per-``keys`` mean of the ``__v`` vectors,
    each component averaged on the 2⁻²⁰ fixed-point grid. ``floor(v·2²⁰)``
    is exact for any float v and the BIGINT sums are order-independent,
    so the one final division yields the identical double on every
    engine; the centroid re-assembles via a key·dim-bounded sorted
    collect_list."""
    q = 1 << 20
    ex = df.select(*keys, F.posexplode("__v").alias("dim", "val"))
    comp = ex.groupBy(*keys, "dim").agg(
        (
            F.sum(F.floor(F.col("val") * q).cast("long")).cast("double")
            / (F.count(F.lit(1)) * q)
        ).alias("mean")
    )
    return comp.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean"))),
            lambda s: s.getField("mean"),
        ).alias("__c")
    )


def _kmeans_iterate(
    emb: DataFrame,
    n_clusters: int,
    refine_iters: int,
    id_col: str,
    vec_col: str,
    group_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(assignments with __cos, refined centroids) — shared core.

    ``group_col`` trains one INDEPENDENT codebook per group value in
    a single pipeline: seeds are the per-group ``n_clusters`` lowest
    ids (identical selection to the ungrouped orderBy+limit), the
    assignment crossJoin becomes an equi-join on the group, and the
    fixed-point refinement keys on (group, cluster, dim). Per group
    the arithmetic — and therefore every code and cosine — is
    bit-identical to running the ungrouped trainer on that group's
    rows alone; what changes is the job count: pq_encode's ``m``
    subspace codebooks train in ONE scan + ONE refinement pass
    instead of ``m`` sequential pipelines (guide §1.2 — fewer passes
    over the data; measured 33 → 11 Spark jobs at sf0.1).
    """
    grp = [group_col] if group_col else []
    v = emb.select(F.col(id_col), *grp, as_double(vec_col).alias("__v"))
    vn = v.withColumn("__nv", norm(F.col("__v")))
    if group_col:
        ws = Window.partitionBy(group_col).orderBy(id_col)
        cents = (
            v.withColumn("__srn", F.row_number().over(ws))
            .filter(F.col("__srn") <= n_clusters)
            .select(
                group_col, F.col(id_col).alias("cluster"), F.col("__v").alias("__c")
            )
        )
    else:
        cents = (
            v.orderBy(id_col)
            .limit(n_clusters)
            .select(F.col(id_col).alias("cluster"), F.col("__v").alias("__c"))
        )

    def assign(cdf: DataFrame) -> DataFrame:
        # Vector norms once per row, centroid norms once per centroid
        # (k rows) — not 4× per (row, centroid) score; see cosine_dn.
        cn = cdf.withColumn("__nc", norm(F.col("__c")))
        if group_col:
            scored = vn.join(F.broadcast(cn), group_col)
        else:
            scored = vn.crossJoin(F.broadcast(cn))
        scored = scored.select(
            id_col,
            *grp,
            "__v",
            "cluster",
            cosine_dn(
                F.col("__v"), F.col("__c"), F.col("__nv"), F.col("__nc")
            ).alias("__cos"),
        )
        w = Window.partitionBy(*grp, id_col).orderBy(
            F.col("__cos").desc(), F.col("cluster")
        )
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    a = assign(cents)
    for _ in range(refine_iters):
        cents = _fixed_point_means(a, [*grp, "cluster"])
        # Truncate the loop-carried lineage at the NEW centroid table
        # (k·dim rows — trivially small): the next round's assignment
        # then builds on a materialized frame, so plan depth stays
        # constant no matter how many refinement rounds a
        # config-surface caller requests. Eager, deliberately: the
        # centroid table feeds a BROADCAST — with a lazy checkpoint
        # the materialization lands inside the broadcast build on the
        # driver's exchange thread (measured 10 → 13-19 s on
        # pq_encode's codebooks, r17 A/B); eagerly it is one small
        # parallel job per round.
        cents = cents.localCheckpoint(eager=True)
        a = assign(cents)
    return a, cents


def centroid_drift(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding centroid drift between two deterministic halves of
    the corpus (id parity — at a real deployment the halves are two
    snapshot dates or model versions): per label, the cosine between
    the two half-centroids plus an EXACT integer drift magnitude.
    This is the embedding-space regression tripwire — a re-embedded
    corpus or upstream distribution shift moves centroids long before
    per-vector outlier flags fire.

    Centroid components use the same 2^-20 fixed-point sums as
    k-means (order-independent BIGINT, engine-identical); the exact
    magnitude Σ_dim |s_a·n_b − s_b·n_a| is pure integer arithmetic
    (the cross-multiplied mean difference, scale n_a·n_b·2²⁰), so it
    hash-matches even where any float distance would not. One
    explode + one (label, dim) aggregation + a label-sized rollup —
    labels present in only one half are excluded (no centroid to
    compare; the mean divisor is floored at 1 so ANSI mode cannot
    raise on those pre-filter rows).
    """
    q = 1 << 20
    v = emb.select(
        F.col(label_col),
        (F.col(id_col) % 2).alias("__half"),
        as_double(vec_col).alias("__v"),
    )
    ex = v.select(
        label_col, "__half", F.posexplode("__v").alias("dim", "val")
    ).withColumn("fx", F.floor(F.col("val") * q).cast("long"))
    comp = ex.groupBy(label_col, "dim").agg(
        F.sum(F.when(F.col("__half") == 0, F.col("fx")).otherwise(0)).alias("s_a"),
        F.sum(F.when(F.col("__half") == 1, F.col("fx")).otherwise(0)).alias("s_b"),
        F.sum(F.when(F.col("__half") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("__half") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    lab = (
        comp.groupBy(label_col)
        .agg(
            F.max("n_a").alias("n_first"),
            F.max("n_b").alias("n_second"),
            # DECIMAL(38,0) cross-multiply: s ~ n·2²⁰·|v| per dim, so
            # s_a·n_b ~ n²·2²⁰ overflows BIGINT once a label's half
            # reaches ~3M rows (ANSI raises; non-ANSI silently wraps
            # to a wrong drift) — and the summed magnitude itself
            # outgrows BIGINT on real corpora, so the exact value is
            # emitted as canonical digits (38 digits ≈ 10¹² rows per
            # label). Still exact integer arithmetic, still
            # oracle-replayable.
            F.sum(
                F.abs(
                    F.col("s_a").cast("decimal(38,0)") * F.col("n_b")
                    - F.col("s_b").cast("decimal(38,0)") * F.col("n_a")
                )
            )
            .cast("decimal(38,0)")
            .cast("string")
            .alias("drift_l1"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "dim",
                            (
                                F.col("s_a").cast("double")
                                / (F.greatest(F.col("n_a"), F.lit(1))
                                   * F.lit(float(q)))
                            ).alias("m"),
                        )
                    )
                ),
                lambda s: s.getField("m"),
            ).alias("__ca"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "dim",
                            (
                                F.col("s_b").cast("double")
                                / (F.greatest(F.col("n_b"), F.lit(1))
                                   * F.lit(float(q)))
                            ).alias("m"),
                        )
                    )
                ),
                lambda s: s.getField("m"),
            ).alias("__cb"),
        )
        .filter((F.col("n_first") > 0) & (F.col("n_second") > 0))
    )
    return lab.select(
        _label_out(emb, label_col).alias(label_col),
        "n_first",
        "n_second",
        "drift_l1",
        (F.round(cosine(F.col("__ca"), F.col("__cb")), 6) + F.lit(0.0)).alias(
            "cos_drift"
        ),
    )


def label_outliers(
    emb: DataFrame,
    threshold: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Semantic outlier detection: flag vectors far (cosine below
    ``threshold``) from their OWN group's centroid — the
    embedding-space quality gate that catches mislabeled or
    off-distribution samples a text heuristic can't see.

    Centroids use the same 2^-20 fixed-point mean as k-means (exact
    integer sums → order-independent, engine-identical), so the flag
    is retry-stable. One explode+aggregate for the centroids (labels
    are few — the centroid frame broadcasts), one map-side cosine per
    vector. Nothing pairwise, nothing quadratic.
    """
    v = emb.select(
        F.col(id_col), F.col(label_col), as_double(vec_col).alias("__v")
    )
    cents = _fixed_point_means(v, [label_col])
    scored = (
        v.withColumn("__nv", norm(F.col("__v")))
        .join(
            F.broadcast(cents.withColumn("__nc", norm(F.col("__c")))),
            label_col,
        )
        .select(
            id_col,
            label_col,
            cosine_dn(
                F.col("__v"), F.col("__c"), F.col("__nv"), F.col("__nc")
            ).alias("__cs"),
        )
    )
    return scored.select(
        id_col,
        _label_out(emb, label_col).alias(label_col),
        (F.round("__cs", 6) + F.lit(0.0)).alias("cos_centroid"),
        (F.col("__cs") < threshold).alias("is_outlier"),
    )


def hard_negatives(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_tables: int = 6,
    planes_per_table: int = 4,
    max_bucket: int | None = None,
    shared: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: each anchor's
    most-similar vector carrying a DIFFERENT label — the negatives
    that actually teach an embedding model (random negatives are
    trivially separable; the hard ones sit just across the boundary).

    Candidates come from shared hyperplane-LSH buckets with the label
    inequality applied IN the join (an equi-join on (table, bucket),
    never an O(n²) cross-label product); per-anchor top-1 is one
    window over the bounded candidate set. Anchors with no cross-label
    bucketmate produce no row — at training time those contribute
    only easy negatives anyway. Deterministic planes mean the oracle
    replays the identical candidate set.

    ``shared``: (banded, vn) from :func:`banded_norms` built with
    ``extra=(label_col,)`` — the triplet miners band once and feed
    both the positive and negative leg. Default None builds here.
    """
    banded, vn = _shared_or_banded(
        emb, shared, id_col, vec_col, (label_col,), n_tables, planes_per_table
    )
    scored = _bucket_pair_scores(
        banded,
        vn,
        ["table_id", "bucket"],
        max_bucket,
        F.col("anchor_label") != F.col("neg_label"),
        {id_col: "anchor_id", label_col: "anchor_label"},
        {id_col: "neg_id", label_col: "neg_label"},
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("__cs").desc(), F.col("neg_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "anchor_id",
            _label_out(scored, "anchor_label").alias("anchor_label"),
            "neg_id",
            _label_out(scored, "neg_label").alias("neg_label"),
            (F.round("__cs", 6) + F.lit(0.0)).alias("cos_sim"),
        )
    )


def pq_encode(
    emb: DataFrame,
    m: int = 4,
    n_clusters: int = 8,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encode (Jégou et al., PAMI'11): split
    each vector into ``m`` contiguous subspaces, train an independent
    deterministic k-means codebook per subspace (:func:`kmeans_assign`
    — lowest-id seeds, cosine assignment, fixed-point refined means),
    and emit each vector's per-subspace code + fit. ``m`` codes of
    ``log2(k)`` bits replace the full vector — the memory-side
    compression IVF's routing is the compute-side of; at 100 TB of
    embeddings the PQ table is what actually fits in serving RAM.

    Scale shape: ONE pipeline trains all ``m`` codebooks — each
    vector explodes into its ``m`` tagged subvectors and
    :func:`_kmeans_iterate` runs with the subspace id as the group
    column (per-group seeds / broadcast assignment / fixed-point
    refinement — arithmetic identical per subspace to the standalone
    trainer, r17 fingerprint A/B). The corpus is scanned once instead
    of ``m`` times, the refinement is one aggregation instead of
    ``m`` sequential driver-paced pipelines (33 → 11 Spark jobs at
    sf0.1), and the final per-id code row is one pivot-style
    aggregation instead of an ``m``-way join chain. Codes are
    seed-vector ids, fits are round-6 cosines; everything replays in
    the SQL oracle.
    """
    # The LAST subspace takes the remainder (identical to the even
    # split when m divides the dim), so no dimension is ever silently
    # dropped from the encoding; m > dim fails loudly in-plan instead
    # of producing empty subvectors.
    def width(i: int) -> str:
        return (
            f"size({vec_col}) - {m - 1} * (size({vec_col}) div {m})"
            if i == m - 1
            else f"size({vec_col}) div {m}"
        )

    slices = ", ".join(
        f"CASE WHEN size({vec_col}) < {m} THEN "
        f"raise_error('pq_encode: m={m} exceeds vector "
        f"dimension — choose m <= dim') "
        f"ELSE slice({vec_col}, 1 + {i} * (size({vec_col}) div {m}), "
        f"{width(i)}) END"
        for i in range(m)
    )
    subs = emb.select(
        F.col(id_col),
        F.posexplode(F.expr(f"array({slices})")).alias("__sub_id", "__sub"),
    )
    a = _kmeans_iterate(
        subs, n_clusters, refine_iters, id_col, "__sub", group_col="__sub_id"
    )[0]
    coded = a.select(
        id_col,
        "__sub_id",
        _label_out(a, "cluster").alias("__code"),
        F.round("__cos", 6).alias("__fit"),
    )
    # Pivot invariant (r17 advice): every id yields exactly m
    # assignment rows — posexplode emits one __sub per subspace
    # unconditionally, and the assignment window keeps exactly one
    # row per (__sub_id, id), so no (id, i) slot below can be empty.
    # If that ever changed, min(when(...)) would emit a silent NULL
    # code_i/fit_i where the old m-way inner-join chain dropped the
    # id; tests/test_similarity_edges.py pins non-null codes.
    aggs = []
    for i in range(m):
        aggs.append(
            F.min(F.when(F.col("__sub_id") == i, F.col("__code"))).alias(
                f"code_{i}"
            )
        )
        aggs.append(
            F.min(F.when(F.col("__sub_id") == i, F.col("__fit"))).alias(
                f"fit_{i}"
            )
        )
    return coded.groupBy(id_col).agg(*aggs)
