"""Edge behaviors of the similarity family fixed in the round-8
adversarial review: zero-vector cosine, dim-agnostic LSH planes,
string labels, PQ subspace coverage, and the opt-in bucket cap."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from configdrivendatapipeline_spark.llm import similarity as S


def _emb(spark, rows, dim_type="array<float>"):
    return spark.createDataFrame(
        rows, f"vec_id LONG, embedding {dim_type}"
    )


def test_zero_vector_does_not_crash_cosine_ops(spark):
    """One all-zero embedding (a failed embed) must not kill the job
    under Spark 4's default ANSI mode; convention: cos = 0."""
    corpus = _emb(
        spark,
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
    )
    probes = spark.createDataFrame(
        [(10, [1.0, 0.0])], "probe_id LONG, probe_vec array<float>"
    )
    got = {
        r["vec_id"]: r["cos_sim"]
        for r in S.brute_force_topk(corpus, probes, k=3).collect()
    }
    assert got[1] == 1.0 and got[3] == 0.0


def test_lsh_planes_follow_vector_dim(spark):
    """dim != 64 must still spread vectors across buckets — a
    hardcoded 64-plane length null-padded shorter vectors and
    collapsed every table to bucket 0 (the silent all-pairs join)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(40)
    ]
    banded = _emb(spark, rows).select(
        F.posexplode(
            S._table_buckets(S.as_double("embedding"), 2, 4)
        ).alias("table_id", "bucket")
    )
    per_table = (
        banded.groupBy("table_id")
        .agg(F.countDistinct("bucket").alias("n"))
        .collect()
    )
    assert all(r["n"] > 1 for r in per_table)


def test_string_labels_survive_label_ops(spark):
    """Configurable label columns must accept strings: the old
    CAST(label AS BIGINT) threw under ANSI mode (CAST_INVALID_INPUT)
    for 'en'/'fr'-style labels."""
    rows = [
        (1, [1.0, 0.0], "en"),
        (2, [0.9, 0.1], "en"),
        (3, [0.0, 1.0], "fr"),
        (4, [0.1, 0.9], "fr"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding array<float>, label STRING"
    )
    out = S.label_outliers(emb).collect()
    assert {r["label"] for r in out} == {"en", "fr"}
    hn = S.hard_negatives(emb, n_tables=8, planes_per_table=2).collect()
    assert all(r["anchor_label"] != r["neg_label"] for r in hn)
    drift = S.centroid_drift(emb).collect()
    assert {r["label"] for r in drift} <= {"en", "fr"}
    # drift_l1 is exact integer digits as a string (BIGINT outgrows
    # real corpora)
    assert all(r["drift_l1"].isdigit() for r in drift)


def test_pq_encode_covers_every_dimension(spark):
    """dim % m != 0: the last subspace takes the remainder instead of
    silently dropping trailing dimensions; m > dim fails loudly."""
    rows = [(i, [float(i + d) for d in range(10)]) for i in range(6)]
    emb = _emb(spark, rows)
    out = S.pq_encode(emb, m=3, n_clusters=2).collect()
    assert len(out) == 6  # 10 dims over 3 subspaces (3+3+4) encodes
    # Pivot invariant (r17 advice): every id yields exactly m
    # assignment rows, so the min(when(__sub_id==i)) pivot can never
    # emit a silent NULL code/fit slot.
    for r in out:
        for i in range(3):
            assert r[f"code_{i}"] is not None
            assert r[f"fit_{i}"] is not None
    with pytest.raises(Exception, match="exceeds vector dimension"):
        S.pq_encode(emb, m=11, n_clusters=2).collect()


def test_max_bucket_caps_hot_lsh_buckets(spark):
    """An identical-vector pile (one hot bucket) pairs quadratically
    without the cap and not at all with a cap below the pile size."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(12)]
    emb = _emb(spark, rows)
    uncapped = S.neardup_pairs(emb, threshold=0.5, n_tables=2).count()
    assert uncapped == 12 * 11 // 2
    capped = S.neardup_pairs(
        emb, threshold=0.5, n_tables=2, max_bucket=5
    ).count()
    assert capped == 0


def test_asof_join_supports_empty_by_and_breaks_ties_deterministically(spark):
    """by=[] is a global as-of (was: NULL join condition matching
    nothing); tied right timestamps pick deterministic take values."""
    from configdrivendatapipeline_spark.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "id LONG, ts STRING"
    ).selectExpr("id", "CAST(ts AS TIMESTAMP) AS ts")
    right = spark.createDataFrame(
        [("2024-01-01 09:00:00", "a"), ("2024-01-01 09:00:00", "b")],
        "ts STRING, v STRING",
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "v")
    out = asof_join(
        left, right, by=[], left_key="id", take={"val": "v"}
    ).collect()
    assert len(out) == 1 and out[0]["val"] == "a"  # tie → lowest value


def test_bloom_empty_build_side_is_all_false(spark):
    """bit_or over zero rows is NULL; the bitmap must still answer
    false (not NULL) for every probe."""
    from pyspark.sql import functions as F

    from configdrivendatapipeline_spark.joins import bloom_build, bloom_might_contain

    empty = spark.createDataFrame([], "k LONG")
    bloom = bloom_build(empty, "k", n_bits=256, k=3)
    probe = spark.createDataFrame([(7,), (8,)], "k LONG").crossJoin(
        F.broadcast(bloom)
    )
    flags = [
        r[0]
        for r in probe.select(
            bloom_might_contain(F.col("k"), F.col("bloom"), 256, 3, "bloom:v1")
        ).collect()
    ]
    assert flags == [False, False]


def test_snapshot_diff_null_text_is_present(spark):
    """A row whose TEXT is NULL is still PRESENT on its side — the
    old hash-nullness presence test called it 'removed'."""
    from configdrivendatapipeline_spark.llm.dedup import snapshot_diff

    curr = spark.createDataFrame(
        [(7, None), (8, "x")], "doc_id LONG, text STRING"
    )
    prev = spark.createDataFrame([(7, "old")], "doc_id LONG, text STRING")
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(curr, prev).collect()}
    assert got == {7: "changed", 8: "added"}


def test_jaccard_threshold_is_exact_not_rounded(spark):
    """A pair just BELOW threshold must not round its way in:
    J = 4999996/10000000 < 0.5 but rounds to 0.500000."""
    from configdrivendatapipeline_spark.llm.dedup import jaccard_pairs

    # two docs sharing 2 of their 4-token union: J = 0.5 exactly -> kept
    a = "w x y z"
    b = "w x p q"  # inter=2, union=6 -> J=1/3
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, a)], "doc_id LONG, text STRING"
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_pairs(docs, threshold=1 / 3).collect()}
    assert (1, 3) in got and got[(1, 3)] == 1.0
    # J = 1/3 exactly meets threshold 1/3 under the integer compare
    # (the old rounded-then-filter shape compared 0.333333 < 1/3 and
    # dropped these true pairs); the rounded column is display-only.
    assert (1, 2) in got and (2, 3) in got


def test_lsh_and_minhash_reject_degenerate_counts(spark):
    """sequence(0, -1) DESCENDS in Spark, so zero-count LSH/minhash
    parameters don't produce empty structures — they produce garbage
    built from index -1 (or one corpus-sized bucket the cap then
    silently drops). Every such config must fail at plan time."""
    import pytest

    from configdrivendatapipeline_spark.llm.dedup import (
        _banded,
        minhash_signatures,
        shingle_hash_sets,
    )
    from configdrivendatapipeline_spark.llm.similarity import _table_buckets
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="n_hashes"):
        minhash_signatures(df, n_hashes=0)
    # The guard lives in _signature_expr (ADVICE r11), so the
    # calibration path — which builds signatures directly from the
    # shared expression — gets the dedicated minhash error too, not
    # a misleading bands-vs-signature-length failure in _banded.
    from configdrivendatapipeline_spark.llm.dedup import minhash_calibration

    with pytest.raises(ValueError, match="n_hashes"):
        minhash_calibration(df, n_hashes=0)
    with pytest.raises(ValueError, match="shingle_k"):
        shingle_hash_sets(df, shingle_k=0)
    sigs = minhash_signatures(df, n_hashes=8)
    with pytest.raises(ValueError, match="bands"):
        _banded(sigs, "doc_id", 0, 8)
    with pytest.raises(ValueError, match="signature length"):
        _banded(sigs, "doc_id", 16, 8)
    with pytest.raises(ValueError, match="n_tables"):
        _table_buckets(F.col("v"), 0, 4)
    with pytest.raises(ValueError, match="planes_per_table"):
        _table_buckets(F.col("v"), 6, 0)

    # round-12: k<=0 silently emptied every ANN top-k surface
    # (rn <= 0 matches nothing); n_centroids/n_probe<=0 silently
    # emptied the IVF route — all loud now
    from configdrivendatapipeline_spark.llm.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    probes = spark.createDataFrame(
        [(1, [1.0, 0.0])], ["probe_id", "probe_vec"]
    )
    with pytest.raises(ValueError, match="k >= 1"):
        brute_force_topk(emb, probes, k=0)
    with pytest.raises(ValueError, match="n_centroids"):
        ivf_topk(emb, probes, n_centroids=0)
    with pytest.raises(ValueError, match="n_probe"):
        ivf_topk(emb, probes, n_probe=0)


def test_hash_family_params_reject_typos(spark):
    """token_hash / band_key name the cross-engine hash FAMILY; a
    typo'd value silently fell back to xxhash64, breaking oracle
    replay with no signal until hashes mismatched downstream."""
    import pytest

    from configdrivendatapipeline_spark.llm.dedup import (
        _banded,
        minhash_signatures,
        shingle_hash_sets,
    )

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="token_hash"):
        shingle_hash_sets(df, token_hash="md532")
    sigs = minhash_signatures(df, n_hashes=8)
    with pytest.raises(ValueError, match="band_key"):
        _banded(sigs, "doc_id", 4, 8, band_key="concatt")


def test_lsh_scale_params_sizing_rule():
    """r17: the executable form of the LSH sizing contract ("size
    planes ~log2 n", measured in docs/SCALE_PROBE_r17_census_top.txt).
    Expected bucket density n/2^p comes out at or under target_bucket,
    planes grow ~log2 of the corpus ratio (constant expected density
    at any scale), the cap is 4x target, clamps hold, and degenerate
    inputs are loud."""
    import pytest

    from configdrivendatapipeline_spark.llm.similarity import lsh_scale_params

    for n in (100, 2_000, 50_000, 10_000_000, 10**12):
        p, cap = lsh_scale_params(n)
        assert cap == 800
        assert n / 2**p <= 200 or p == 24  # density target (or clamp)
        assert p >= 1
    # the r17 probe's shapes: sf0.1 corpus vs its x25 replication —
    # planes grow ~log2 of the corpus ratio (4 ≈ log2 25), expected
    # density constant to within the power-of-two rounding
    p1, _ = lsh_scale_params(2_000)
    p25, _ = lsh_scale_params(50_000)
    assert p25 - p1 == 4
    assert abs(2_000 / 2**p1 - 50_000 / 2**p25) < 2_000 / 2**p1
    # clamps: tiny corpus floors at 1 plane, huge corpus ceils
    assert lsh_scale_params(1)[0] == 1
    assert lsh_scale_params(10**12, target_bucket=1, max_planes=24)[0] == 24
    with pytest.raises(ValueError, match="positive"):
        lsh_scale_params(0)
    with pytest.raises(ValueError, match="target_bucket"):
        lsh_scale_params(100, target_bucket=0)


def test_jaccard_identical_sets_with_null_element(spark):
    """r17 internals: identical sets are expanded from one scored
    representative. A null ELEMENT counts toward set size but never
    matches (a null token equi-joins nothing), so two copies of
    {a, b, null} score J = 2/(3+3-2) = 0.5 — NOT the J = 1 a naive
    'identical sets are duplicates' expansion would emit."""
    from configdrivendatapipeline_spark.llm.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(1, ["a", "b", None]), (2, ["a", "b", None]), (3, ["a", "b"])],
        "doc_id LONG, toks ARRAY<STRING>",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, tokens_col="toks", threshold=0.5).collect()
    }
    # (1,2): inter=2 (null excluded), sizes 3 and 3 -> J=0.5 kept at t=0.5
    assert got[(1, 2)] == 0.5
    # (1,3)/(2,3): inter=2, sizes 3 and 2 -> J=2/3
    assert got[(1, 3)] == round(2 / 3, 6) and got[(2, 3)] == round(2 / 3, 6)
    # at a stronger threshold the null-bearing identical pair drops out
    got2 = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, tokens_col="toks", threshold=0.6).collect()
    }
    assert (1, 2) not in got2 and (1, 3) in got2


def test_jaccard_duplicate_set_groups_expand_all_pairs(spark):
    """r17 internals: k docs sharing one token set must yield all
    C(k,2) within-group pairs at J=1 plus every cross-group member
    pair, with raw counts carried set-level."""
    from configdrivendatapipeline_spark.llm.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(i, "p q r s") for i in (1, 5, 9)] + [(3, "p q r z"), (7, "p q r s t")],
        "doc_id LONG, text STRING",
    )
    rows = jaccard_pairs(docs, threshold=0.6, raw_counts=True).collect()
    got = {(r["id_a"], r["id_b"]): (r["n_inter"], r["n_a"], r["n_b"]) for r in rows}
    assert len(got) == len(rows)  # no duplicate pairs emitted
    for pair in ((1, 5), (1, 9), (5, 9)):
        assert got[pair] == (4, 4, 4)
    # cross-group: 3/5 = 0.6 kept for the 4-token copies vs doc 3
    for pair in ((1, 3), (3, 5), (3, 9)):
        assert got[pair] == (3, 4, 4)
    # n_a belongs to the smaller id on both orientations: doc 7 (5 toks)
    for pair, na, nb in (((1, 7), 4, 5), ((5, 7), 4, 5), ((7, 9), 5, 4)):
        assert got[pair] == (4, na, nb)


def test_shared_banded_frames_validate_params(spark):
    """r17 advice: a `shared` (banded, vn) pair built with a
    DIFFERENT plane family / missing extra column must fail loudly at
    plan time — the explicit n_tables/planes arguments are otherwise
    silently ignored and the candidate set changes."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], "en") for i in range(4)],
        "vec_id LONG, embedding array<float>, label STRING",
    )
    ok = S.banded_norms(emb, extra=("label",), n_tables=2, planes_per_table=3)
    # compatible consumer: fine
    S.knn_join(emb, k=1, n_tables=2, planes_per_table=3,
               group_col="label", shared=ok)
    # plane-family mismatch: loud
    with pytest.raises(ValueError, match="incompatible"):
        S.knn_join(emb, k=1, n_tables=6, planes_per_table=4,
                   group_col="label", shared=ok)
    # extra does not cover the consumer's label column: loud
    bare = S.banded_norms(emb, n_tables=2, planes_per_table=3)
    with pytest.raises(ValueError, match="incompatible"):
        S.hard_negatives(emb, n_tables=2, planes_per_table=3, shared=bare)


def test_compiler_shares_banded_frames_within_one_compile(spark, memo, monkeypatch):
    """r18: two ANN steps over the same source in one pipeline band
    the corpus once (the compiler twin of llm_triplets' explicit
    sharing) — and the shared plan is value-identical to unshared."""
    from configdrivendatapipeline_spark import compiler as C

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0], i % 2) for i in range(30)],
        "vec_id LONG, embedding array<float>, label LONG",
    )
    builds = []
    real = S.banded_norms

    def counting(*args, **kwargs):
        builds.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "banded_norms", counting)
    a = C.OPS["knn_join"](spark, [emb], {"k": 1, "group_column": "label"})
    b = C.OPS["hard_negatives"](spark, [emb], {})
    assert len(builds) == 1  # one banding served both steps
    monkeypatch.undo()
    unshared_a = S.knn_join(emb, k=1, group_col="label")
    unshared_b = S.hard_negatives(emb)
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, unshared_a.collect())
    )
    assert sorted(map(tuple, b.collect())) == sorted(
        map(tuple, unshared_b.collect())
    )
