"""Property-based algebraic invariants (SURVEY.md §5 item 5,
honoring the reference's intended hypothesis tooling,
/root/reference/.gitignore:50)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

rows = st.lists(
    st.tuples(
        st.integers(min_value=-100, max_value=100),
        st.sampled_from(["a", "b", "c", None]),
    ),
    min_size=0,
    max_size=30,
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, data):
    return spark.createDataFrame(data, "x INT, s STRING")


@given(data=rows)
@SLOW
def test_filter_commutes_with_project(spark, data):
    df = _df(spark, data)
    a = df.select("x").filter(F.col("x") > 0)
    b = df.filter(F.col("x") > 0).select("x")
    assert sorted(r.x for r in a.collect()) == sorted(r.x for r in b.collect())


@given(data=rows, data2=rows)
@SLOW
def test_union_counts_add(spark, data, data2):
    a, b = _df(spark, data), _df(spark, data2)
    assert a.unionByName(b).count() == a.count() + b.count()


@given(data=rows)
@SLOW
def test_semi_plus_anti_partition_left(spark, data):
    left = _df(spark, data)
    right = _df(spark, [(i, "z") for i in range(0, 50, 3)])
    semi = left.join(right, "x", "left_semi").count()
    anti = left.join(right, "x", "left_anti").count()
    assert semi + anti == left.count()


@given(data=rows)
@SLOW
def test_dedup_idempotent(spark, data):
    df = _df(spark, data)
    once = df.dropDuplicates(["x"])
    assert once.count() == once.dropDuplicates(["x"]).count()
    assert once.count() == df.select("x").distinct().count()


@given(data=rows)
@SLOW
def test_split_is_partition(spark, data):
    """Quarantine split: valid + invalid == total, no overlap."""
    from configdrivendatapipeline_spark.validation import Rule, run_rules

    df = _df(spark, data)
    res = run_rules(
        df,
        [Rule("pos", "range", {"column": "x", "min": 0}, on_fail="quarantine")],
        split=True,
    )
    assert res.valid.count() + res.invalid.count() == df.count()
    assert res.valid.join(res.invalid, ["x", "s"], "inner").count() >= 0


# ---------------------------------------------------------------------------
# Sampling family (VERDICT r2 item 8): these ops guard training-data
# integrity and sit outside the driver's oracle window, so their
# invariants are proven here. The 10k-grid bucket of every doc id is
# computed ONCE by the real Spark expression; hypothesis then sweeps
# fractions against those Spark-computed buckets, applying the same
# `bucket < round(f·10000)` cut hash_sample plans.
# ---------------------------------------------------------------------------

_BUCKET_CACHE: dict[str, dict] = {}


def _spark_buckets(spark, sf_dir) -> dict:
    if "b" not in _BUCKET_CACHE:
        from configdrivendatapipeline_spark.llm.sampling import hash_bucket

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rows = docs.select(
            "doc_id",
            hash_bucket(F.col("doc_id"), "sample:v1", 10_000).alias("b"),
        ).collect()
        _BUCKET_CACHE["b"] = {r.doc_id: r.b for r in rows}
    return _BUCKET_CACHE["b"]


@given(
    f1=st.floats(min_value=0.0, max_value=1.0),
    f2=st.floats(min_value=0.0, max_value=1.0),
)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hash_sample_nested_for_any_fractions(spark, sf_dir, f1, f2):
    """f1 ≤ f2 (same salt) ⇒ sample(f1) ⊆ sample(f2), for ANY grid
    fractions — the monotone-growth property training subsets need."""
    bk = _spark_buckets(spark, sf_dir)
    lo, hi = sorted((f1, f2))
    cut_lo, cut_hi = int(round(lo * 10_000)), int(round(hi * 10_000))
    assert cut_lo <= cut_hi
    s_lo = {i for i, b in bk.items() if b < cut_lo}
    s_hi = {i for i, b in bk.items() if b < cut_hi}
    assert s_lo <= s_hi
    # fraction realized within grid tolerance (md5 ≈ uniform)
    n = len(bk)
    assert abs(len(s_hi) - hi * n) <= 0.06 * n + 5


@given(train=st.integers(min_value=0, max_value=100),
       val=st.integers(min_value=0, max_value=100))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hash_split_total_and_tolerant(spark, sf_dir, train, val):
    """Every row lands in exactly one split; realized per-split
    fractions track the requested percentages; inconsistent
    percentages raise at plan time instead of yielding an empty
    test split."""
    import pytest

    from configdrivendatapipeline_spark.llm import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    if train + val > 100:
        with pytest.raises(ValueError):
            sampling.hash_split(docs, train_pct=train, val_pct=val)
        return
    out = sampling.hash_split(docs, train_pct=train, val_pct=val)
    counts = {r.split: r.n for r in
              out.groupBy(F.col("split")).agg(F.count(F.lit(1)).alias("n")).collect()}
    n = docs.count()
    assert sum(counts.values()) == n
    tol = 0.06 * n + 5
    assert abs(counts.get("train", 0) - train / 100 * n) <= tol
    assert abs(counts.get("val", 0) - val / 100 * n) <= tol
    assert abs(counts.get("test", 0) - (100 - train - val) / 100 * n) <= tol


@given(budget=st.integers(min_value=1, max_value=5000),
       shards=st.integers(min_value=1, max_value=32))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pack_offsets_conserves_tokens_and_budget_independent(
    spark, sf_dir, budget, shards
):
    """Per-shard offsets are a gapless cumsum whose total equals the
    shard's token mass, for ANY (budget, shards); offsets depend on
    the shard assignment only, never on the budget."""
    from configdrivendatapipeline_spark.llm.sampling import pack_offsets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = pack_offsets(docs, budget=budget, shards=shards).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for members in by_shard.values():
        members.sort(key=lambda r: r.doc_id)
        off = 0
        for r in members:
            assert r.tok_offset == off
            assert r.pack_first == off // budget
            assert r.pack_last == (off + r.n_tokens - 1) // budget
            off += r.n_tokens


def test_hash_shuffle_is_stable_permutation(spark, sf_dir):
    """Same salt ⇒ identical order across invocations; positions are
    1..n per shard; a different salt produces a different order."""
    from configdrivendatapipeline_spark.llm.sampling import hash_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {r.doc_id: (r.shard, r.pos) for r in hash_shuffle(docs).collect()}
    b = {r.doc_id: (r.shard, r.pos) for r in hash_shuffle(docs).collect()}
    assert a == b
    c = {r.doc_id: (r.shard, r.pos) for r in hash_shuffle(docs, salt="epoch2").collect()}
    assert c != a
    per_shard: dict[int, set] = {}
    for shard, pos in a.values():
        per_shard.setdefault(shard, set()).add(pos)
    for positions in per_shard.values():
        assert positions == set(range(1, len(positions) + 1))


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(xs=st.lists(st.integers(min_value=0, max_value=(1 << 50)), min_size=1, max_size=25))
def test_isqrt_expr_exact_for_any_bigint(spark, xs):
    """The corrected floor(sqrt(double)) SQL expression equals
    math.isqrt for arbitrary inputs — including perfect squares and
    off-by-one-ulp neighbourhoods where raw floor(sqrt) drifts."""
    import math

    from configdrivendatapipeline_spark.llm.sampling import _isqrt_expr

    # deliberately include perfect squares and their neighbours
    probe = list(xs)
    for x in xs[:5]:
        r = math.isqrt(x)
        probe += [r * r, max(r * r - 1, 0), r * r + 1]
    df = spark.createDataFrame([(x,) for x in probe], ["x"])
    got = {r["x"]: r["s"] for r in df.select("x", F.expr(_isqrt_expr("x")).alias("s")).collect()}
    for x in probe:
        assert got[x] == math.isqrt(x), x


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    counts=st.lists(st.integers(min_value=1, max_value=100_000), min_size=1, max_size=6)
)
def test_temperature_cuts_order_and_bounds(spark, counts):
    """Derived keep cuts are monotone-decreasing in stratum size,
    capped at the grid, and the smallest stratum always keeps all."""
    import math

    mn = min(counts)
    cuts = [math.isqrt(100_000_000 * mn // n) for n in counts]
    for n, c in zip(counts, cuts):
        assert 0 < c <= 10_000
        if n == mn:
            assert c == 10_000
    for (n1, c1) in zip(counts, cuts):
        for (n2, c2) in zip(counts, cuts):
            if n1 <= n2:
                assert c1 >= c2


@given(
    st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=40).map(
            lambda cs: " ".join("".join([c]) for c in cs)
        ),
        min_size=1,
        max_size=6,
    )
)
@SLOW
def test_winnow_coverage_and_density(spark, docs):
    """Winnowing invariants on arbitrary token streams: every
    position selected is a valid shingle position; consecutive
    selected positions are never more than w apart (the coverage
    guarantee); identical docs produce identical fingerprint sets."""
    from configdrivendatapipeline_spark.llm.dedup import winnow_fingerprints

    k, w = 2, 3
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    out = winnow_fingerprints(df, k=k, w=w).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["pos"])
    for i, text in enumerate(docs):
        n_sh = max(len(text.split(" ")) - k, 0) + 1
        pos = sorted(by_doc.get(i, []))
        assert pos, f"doc {i} produced no fingerprints"
        assert all(1 <= p <= n_sh for p in pos)
        # coverage: first selection within the first full window,
        # last within the last, gaps bounded by the window width
        assert pos[0] <= min(w, n_sh)
        assert pos[-1] >= n_sh - w + 1 or n_sh < w
        for x, y in zip(pos, pos[1:]):
            assert y - x <= w


_pts = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=999),
        st.integers(min_value=-40, max_value=40),
        st.integers(min_value=-40, max_value=40),
    ),
    min_size=0,
    max_size=25,
    unique_by=lambda t: t[0],
)


@given(pts=_pts)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_spatial_grid_equals_brute_force(spark, pts):
    """Grid-bucketed pairing == brute-force within-radius pairing on
    arbitrary integer point sets (the 3x3 probe neighborhood loses
    nothing when cell >= radius)."""
    from configdrivendatapipeline_spark.analytics import spatial_grid_pairs

    radius = 7
    df = spark.createDataFrame(pts, "id INT, lat_u LONG, lon_u LONG")
    got = {
        (r["id_a"], r["id_b"]): r["dist_sq_u"]
        for r in spatial_grid_pairs(df, radius_u=radius).collect()
    }
    want = {}
    for i, (ida, la, lo) in enumerate(pts):
        for idb, lb, lob in pts[i + 1:]:
            d = (la - lb) ** 2 + (lo - lob) ** 2
            if d <= radius * radius:
                a, b = sorted((ida, idb))
                want[(a, b)] = d
    assert got == want


@given(pts=_pts)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_skyline_equals_naive_dominance(spark, pts):
    """Bucket-pruned skyline == naive dominance filter, including
    duplicate coordinates and single-point frames."""
    from configdrivendatapipeline_spark.analytics import skyline_2d

    df = spark.createDataFrame(pts, "id INT, x LONG, y LONG")
    got = {r["id"] for r in skyline_2d(df, "x", "y", keep_cols=["id"]).collect()}
    want = {
        i for i, x, y in pts
        if not any(
            qx >= x and qy >= y and (qx > x or qy > y)
            for j, qx, qy in pts if j != i
        )
    }
    assert got == want


bucket_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # bucket key
        st.integers(min_value=0, max_value=40),  # id
    ),
    min_size=0,
    max_size=40,
).map(lambda xs: sorted(set(xs)))  # one row per (bucket, id) — the helper's contract


@given(data=bucket_rows, cap=st.integers(min_value=1, max_value=8))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_capped_bucket_ids_equals_collect_then_filter(spark, data, cap):
    """The spill-safe window-count cap == the naive
    collect_set-then-size-filter shape on every input (empty frames,
    all-singleton buckets, buckets exactly at the cap)."""
    from configdrivendatapipeline_spark.llm.dedup import _capped_bucket_ids

    df = spark.createDataFrame(data or [(0, 0)], "k INT, id INT")
    if not data:
        df = df.filter(F.lit(False))
    got = {
        (r["k"], tuple(r["ids"]))
        for r in _capped_bucket_ids(df, ["k"], "id", cap).collect()
    }
    naive = (
        df.groupBy("k")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= cap))
    )
    want = {(r["k"], tuple(r["ids"])) for r in naive.collect()}
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.integers(min_value=1, max_value=12), min_size=1, max_size=8
        ),
        min_size=2,
        max_size=10,
    ),
    t6=st.sampled_from([200_000, 500_000, 550_000, 800_000, 999_999]),
)
def test_jaccard_prefix_filter_equals_naive_for_any_sets(spark, docs, t6):
    """PPJoin losslessness, the property llm_lsh_recall's truth side
    now rides on: for ANY token multisets and threshold, prefix-
    filtered jaccard_pairs == the naive all-pairs exact Jaccard
    (set semantics via array_distinct, id_a < id_b)."""
    from configdrivendatapipeline_spark.llm.dedup import jaccard_pairs

    rows_ = [(i, [f"t{x}" for x in toks]) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows_, "doc_id INT, toks ARRAY<STRING>")
    t = t6 / 1_000_000
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(df, threshold=t, tokens_col="toks").collect()
    }
    sets = {i: set(toks) for i, toks in rows_}
    naive = {
        (a, b)
        for a in sets
        for b in sets
        if a < b
        and len(sets[a] & sets[b]) * 1_000_000
        >= t6 * len(sets[a] | sets[b])
    }
    assert got == naive


words = st.lists(
    st.text(alphabet="abcz", min_size=0, max_size=6),
    min_size=1,
    max_size=12,
)


@given(texts=st.lists(words, min_size=1, max_size=4))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bpe_local_equals_distributed_on_random_corpora(spark, texts):
    """Recipe #1's bit-identity claim, swept over random corpora: a
    tiny alphabet maximizes pair collisions, count ties (the
    lexicographic tie-break), self-overlaps ('a a a') and
    back-to-back shared-delimiter occurrences — every semantic edge
    the module docstring documents must agree between the in-memory
    and the distributed trainer."""
    from configdrivendatapipeline_spark.llm.bpe import (
        bpe_train,
        bpe_train_local,
    )

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(texts)],
        ["doc_id", "text"],
    )
    assert bpe_train_local(df, n_merges=6) == bpe_train(df, n_merges=6)


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=-(10**15), max_value=10**15),
            st.integers(min_value=1, max_value=10**9),
        ),
        min_size=1,
        max_size=20,
    )
)
@SLOW
def test_sign_decomposed_div_equals_trunc_for_any_ints(spark, pairs):
    """The r13 division discipline (queries/__init__.py docstring):
    ``sign(x)·(abs(x) div d)`` equals Python-int truncation toward
    zero for EVERY numerator sign and magnitude — the identity every
    sign-decomposed micro ratio (agg_trend, agg_ab_lift,
    agg_jackknife shift, agg_wow_growth…) stands on. Hypothesis
    drives both signs and the exact-division boundary cases."""
    df = spark.createDataFrame(pairs, "num LONG, den LONG")
    got = {
        (r["num"], r["den"]): r["q"]
        for r in df.selectExpr(
            "num",
            "den",
            "CAST((CASE WHEN num >= 0 THEN 1 ELSE -1 END)"
            " * (abs(num) div den) AS BIGINT) AS q",
        ).collect()
    }
    for num, den in pairs:
        want = -((-num) // den) if num < 0 else num // den  # trunc
        assert got[(num, den)] == want, (num, den)


@given(
    pairs=st.lists(
        st.tuples(
            # token-scale numerators: past the ~9.2e18/1e6 cliff where
            # BIGINT·1e6 wraps, up to the 1e14-token 100-TB regime x100
            st.integers(min_value=0, max_value=10**16),
            st.integers(min_value=1, max_value=10**16),
        ),
        min_size=1,
        max_size=20,
    )
)
@SLOW
def test_widened_micro_ratio_equals_python_int_for_any_magnitude(
    spark, pairs
):
    """The r13 token-scale widening (llm_vocab_coverage,
    llm_tokenizer_fertility, llm_ccnet_buckets…): micro ratios whose
    numerator is a token count go through
    ``(CAST(cnt AS DECIMAL(38,0)) * 1000000) div total`` so the
    128-bit product survives numerators past 2^63/1e6. Property:
    for ANY magnitudes with cnt ≤ total·2^43-ish (quotient fits
    BIGINT — here cnt, total ≤ 1e16 keeps cnt·1e6/total ≤ 1e22 only
    when total is tiny, so clamp cnt to ≤ total·9e12 below), the
    Spark expression, the DuckDB HUGEINT twin, and Python int ground
    truth agree exactly."""
    import duckdb

    # keep every quotient inside BIGINT (the expressions' documented
    # envelope: emitted ratios are ≤ 1e6-scale shares)
    pairs = [
        (min(cnt, total * (2**62 // 10**6)), total) for cnt, total in pairs
    ]
    df = spark.createDataFrame(pairs, "cnt LONG, total LONG")
    got = {
        (r["cnt"], r["total"]): r["f"]
        for r in df.selectExpr(
            "cnt",
            "total",
            "(CAST(cnt AS DECIMAL(38,0)) * 1000000) div total AS f",
        ).collect()
    }
    con = duckdb.connect()
    try:
        vals = ",".join(f"({c},{t})" for c, t in pairs)
        duck = {
            (c, t): f
            for c, t, f in con.execute(
                f"SELECT cnt, total, CAST(CAST(cnt AS HUGEINT) * 1000000"
                f" // total AS BIGINT) FROM (VALUES {vals}) v(cnt, total)"
            ).fetchall()
        }
    finally:
        con.close()
    for cnt, total in pairs:
        want = cnt * 1_000_000 // total
        assert got[(cnt, total)] == duck[(cnt, total)] == want, (cnt, total)


@given(
    rows_=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**15),  # tokens_avail
            st.integers(min_value=1, max_value=10**9),   # weight w
        ),
        min_size=1,
        max_size=12,
    )
)
@SLOW
def test_mixture_decimal_min_quotient_equals_python_for_any_weights(
    spark, rows_
):
    """ADVICE r13 (mixture_plan), property form: the water-filling
    MIN argument ``(prod − prod % w) / w`` with
    prod = avail·big_w as DECIMAL(38,0) equals Python's exact
    avail·big_w // w for EVERY row — including rows whose quotient
    passes 2^63, where the old ``div`` form wraps — and
    min-of-floors == floor-of-min, so the aggregated total_max
    matches the Python ground truth (and DuckDB's HUGEINT carry)
    regardless of weight skew."""
    import duckdb

    big_w = sum(w for _, w in rows_)
    want_rows = [a * big_w // w for a, w in rows_]
    want_min = min(want_rows)
    dec = f"CAST(avail AS DECIMAL(38,0)) * {big_w}"
    df = spark.createDataFrame(rows_, "avail LONG, w LONG")
    got_rows = [
        int(r["q"])
        for r in df.selectExpr(
            f"({dec} - ({dec}) % w) / w AS q"
        ).collect()
    ]
    assert sorted(got_rows) == sorted(want_rows)
    got_min = df.selectExpr(
        f"CAST(MIN(({dec} - ({dec}) % w) / w) AS DECIMAL(38,0)) AS m"
    ).collect()[0]["m"]
    assert int(got_min) == want_min
    con = duckdb.connect()
    try:
        vals = ",".join(f"({a},{w})" for a, w in rows_)
        duck_min = con.execute(
            f"SELECT MIN(CAST(avail AS HUGEINT) * {big_w} // w)"
            f" FROM (VALUES {vals}) v(avail, w)"
        ).fetchone()[0]
    finally:
        con.close()
    assert int(duck_min) == want_min


@given(
    cents=st.lists(
        # ±1e8 dollars in cents: ULP of the double stays ≤ ~1.5e-8,
        # far inside the 5e-7 half-grid margin the scale-6 cast needs
        st.integers(min_value=-(10**10), max_value=10**10),
        min_size=1,
        max_size=25,
    )
)
@SLOW
def test_dsum_davg_equal_decimal_replay_on_random_money(spark, cents):
    """The core money path (dsum/davg and their DuckDB twins) as a
    property, not a single-magnitude pin: for ANY vector of 2-dp
    money doubles, both engines must emit exactly the Python Decimal
    replay of the documented arithmetic — per-element scale-6
    quantize of the ACTUAL double, exact integer sum, one
    identically-rounded IEEE division to cents (floor((s6+5000)/1e4),
    matching the ADVICE-r13-corrected derivation in
    test_money_sum_magnitude). Negative sums exercise floor's
    toward-negative-infinity branch on both engines."""
    import decimal
    import math

    import duckdb

    from configdrivendatapipeline_spark.queries import (
        davg,
        dsum,
        odavg,
        odsum,
    )

    vals = [c / 100 for c in cents]
    n = len(vals)
    q6 = decimal.Decimal("1.000000")
    s6 = sum(
        int(
            decimal.Decimal(v).quantize(q6, rounding=decimal.ROUND_HALF_UP)
            * 10**6
        )
        for v in vals
    )
    want_sum = float(math.floor(float(s6 + 5000) / 10000)) / 100
    want_avg = (
        float(math.floor(float(s6 * 2 + n * 10000) / (n * 20000))) / 100
    )

    df = spark.createDataFrame([(v,) for v in vals], "v DOUBLE")
    row = df.agg(dsum("v", "s"), davg("v", "a")).collect()[0]
    # repr round-trips doubles exactly; CAST(... AS DOUBLE) makes
    # DuckDB parse the literal as the identical IEEE double (a bare
    # decimal literal would become DECIMAL and change the cast input)
    lits = ",".join(f"(CAST({v!r} AS DOUBLE))" for v in vals)
    con = duckdb.connect()
    try:
        orow = con.execute(
            f"SELECT {odsum('v', 's')}, {odavg('v', 'a')}"
            f" FROM (VALUES {lits}) t(v)"
        ).fetchone()
    finally:
        con.close()
    assert row["s"] == orow[0] == want_sum, (vals, s6)
    assert row["a"] == orow[1] == want_avg, (vals, s6)


@given(
    keys=st.lists(
        st.text(min_size=0, max_size=24).filter(
            # Spark CAST AS STRING and DuckDB VARCHAR literals must
            # carry the same code points; exclude surrogates (invalid
            # UTF-8, unrepresentable in either engine's string type)
            lambda s: all(not 0xD800 <= ord(c) <= 0xDFFF for c in s)
        ),
        min_size=1,
        max_size=15,
        unique=True,
    ),
    buckets=st.integers(min_value=1, max_value=10**9),
)
@SLOW
def test_hash_bucket_matches_duckdb_twin_for_any_key(spark, keys, buckets):
    """Every hash-routed operator (splits, samples, shards, Bloom
    probes, banded LSH keys) stands on hash_bucket ≡ omd5bucket.
    Property: for ANY unicode key (empty string, colons — the salt
    separator — embedded NULs excluded only by DuckDB literal
    escaping below) and ANY bucket count, the Spark md5-fold and the
    DuckDB twin assign the identical bucket. A drift here would not
    fail loudly anywhere — splits would silently route differently
    per engine — so the parity deserves its own property."""
    import duckdb

    from configdrivendatapipeline_spark.llm.sampling import hash_bucket
    from configdrivendatapipeline_spark.queries import omd5bucket

    keys = [k.replace("\x00", "") or "k" for k in keys]
    df = spark.createDataFrame([(k,) for k in keys], "k STRING")
    got = {
        r["k"]: r["bucket"]
        for r in df.select(
            "k", hash_bucket(F.col("k"), "prop:v1", buckets)
        ).collect()
    }
    con = duckdb.connect()
    try:
        # parameter binding sidesteps literal-escaping pitfalls for
        # arbitrary unicode keys
        duck = dict(
            con.execute(
                "SELECT k, "
                + omd5bucket("k", "prop:v1", buckets)
                + " FROM (SELECT unnest(?) AS k)",
                [keys],
            ).fetchall()
        )
    finally:
        con.close()
    assert got == duck, buckets


def _winnow_py(text: str, k: int, w: int) -> set[tuple[int, int]]:
    """Pure-Python replay of winnow_fingerprints' exact arithmetic
    (md5-prefix token hashes, mixer-weighted shingle hash, packed
    (hash asc, pos desc) window-min) — an independent twin, so any
    off-by-one in the Spark window frame or rightmost tie-break
    diverges here."""
    import hashlib

    m48, m32 = (1 << 48) - 1, (1 << 32) - 1
    toks = text.split(" ")
    th = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
    mixers = [((j + 1) * 2654435761) % (2**29) | 1 for j in range(k)]
    hs = []
    for i in range(max(len(th) - k, 0) + 1):
        acc = 0
        for j in range(k):
            v = th[i + j] if i + j < len(th) else 0
            acc += (v * mixers[j]) & m48
        hs.append(acc & m32)
    cap = (1 << 20) - 1
    keys = [h * (1 << 21) + (cap - min(p, cap)) for p, h in enumerate(hs, 1)]
    n_sh = len(hs)
    out = set()
    for p in range(1, n_sh + 1):
        mkey = min(keys[max(0, p - w):p])
        if p >= w or p == n_sh:
            out.add((cap - (mkey % (1 << 21)), mkey // (1 << 21)))
    return out


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "aa", "ab", "z"]),
            min_size=1, max_size=30,
        ).map(" ".join),
        min_size=1, max_size=5,
    ),
    k=st.integers(min_value=1, max_value=4),
    w=st.integers(min_value=1, max_value=6),
)
@SLOW
def test_winnow_equals_python_replay(spark, docs, k, w):
    """VERDICT r14 item 5a: winnow_fingerprints must equal an
    independent pure-Python replay EXACTLY — (pos, fp) set per doc —
    for any token stream and any (k, w). The duplicate-token corpora
    the sampled alphabet forces exercise the rightmost-tie-break
    packing; short docs exercise the p == n_sh boundary emission."""
    from configdrivendatapipeline_spark.llm.dedup import winnow_fingerprints

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for i, text in enumerate(docs):
        assert got.get(i, set()) == _winnow_py(text, k, w), (i, text, k, w)


@given(
    passage=st.lists(
        st.sampled_from(["p", "q", "r", "s"]), min_size=8, max_size=16
    ),
    pre_a=st.integers(min_value=0, max_value=12),
    pre_b=st.integers(min_value=0, max_value=12),
    post_a=st.integers(min_value=0, max_value=6),
    post_b=st.integers(min_value=0, max_value=6),
)
@SLOW
def test_winnow_pair_recovery_is_position_shift_invariant(
    spark, passage, pre_a, pre_b, post_a, post_b
):
    """VERDICT r14 item 5a: the SWA guarantee — a shared passage of
    >= w + k - 1 tokens yields at least one shared fingerprint — must
    hold at ANY byte offset in either document, because the packed
    tie-break is by RELATIVE position within the window (a absolute-
    position tie-break would select different shingles per doc and
    silently lose the pair). Junk alphabets are disjoint per doc, so
    the passage is the only shared content."""
    from configdrivendatapipeline_spark.llm.dedup import winnow_candidate_pairs

    k, w = 4, 5
    assert len(passage) >= w + k - 1
    doc_a = " ".join(
        [f"ja{i}" for i in range(pre_a)] + passage
        + [f"xa{i}" for i in range(post_a)]
    )
    doc_b = " ".join(
        [f"jb{i}" for i in range(pre_b)] + passage
        + [f"xb{i}" for i in range(post_b)]
    )
    df = spark.createDataFrame([(0, doc_a), (1, doc_b)], ["doc_id", "text"])
    pairs = winnow_candidate_pairs(df, k=k, w=w, min_shared=1).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 1 for r in pairs), (
        doc_a, doc_b
    )


def test_winnow_density_approaches_two_over_w_plus_one(spark):
    """Winnowing's published density guarantee (SWA SIGMOD'03 §5):
    on a random stream the expected fraction of shingle positions
    selected is 2/(w+1). Seeded 3000-token stream, w=5 -> expect
    ~1/3 of 2997 shingles; a window off-by-one shifts density to
    2/w or 2/(w+2), both outside the +/-12% band asserted here."""
    import random

    from configdrivendatapipeline_spark.llm.dedup import winnow_fingerprints

    rng = random.Random(20260816)
    toks = [f"t{rng.randrange(10**9)}" for _ in range(3000)]
    k, w = 4, 5
    df = spark.createDataFrame([(0, " ".join(toks))], ["doc_id", "text"])
    n_fp = winnow_fingerprints(df, k=k, w=w).count()
    n_sh = len(toks) - k + 1
    density = n_fp / n_sh
    expected = 2 / (w + 1)
    assert abs(density - expected) / expected < 0.12, density
    # the off-by-one densities the band must exclude
    assert abs(density - 2 / w) / (2 / w) > 0.12
    assert abs(density - 2 / (w + 2)) / (2 / (w + 2)) > 0.12


@given(
    data=st.data(),
    dim=st.integers(min_value=2, max_value=6),
    m=st.integers(min_value=1, max_value=3),
    n=st.integers(min_value=3, max_value=8),
)
@SLOW
def test_pq_encode_picks_argmax_centroid_per_subspace(spark, data, dim, m, n):
    """VERDICT r14 item 5b: pq_encode's code_i must be the argmax-
    cosine seed over subspace i's slice [i*(dim div m), +width] with
    the last subspace taking the remainder, ties to the LOWEST seed
    id — replayed here with the same left-fold float arithmetic. An
    off-by-one in the slice start/width (the classic 1-based slice()
    bug) or a wrong tie direction fails the code comparison."""
    import math

    from configdrivendatapipeline_spark.llm.similarity import pq_encode

    if m > dim:
        m = dim
    vecs = [
        (
            i,
            data.draw(
                st.lists(
                    st.integers(min_value=-3, max_value=3),
                    min_size=dim, max_size=dim,
                ).map(lambda xs: [float(x) for x in xs])
            ),
        )
        for i in range(n)
    ]
    n_clusters = min(3, n)
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: r.asDict()
        for r in pq_encode(
            df, m=m, n_clusters=n_clusters, refine_iters=0
        ).collect()
    }

    def cos(x, y):
        d = 0.0
        for a, b in zip(x, y):  # left fold, same order as dot()
            d += a * b
        nx = 0.0
        for a in x:
            nx += a * a
        ny = 0.0
        for b in y:
            ny += b * b
        denom = math.sqrt(nx) * math.sqrt(ny)
        return d / denom if denom > 0 else 0.0

    step = dim // m
    for i in range(m):
        start = i * step
        width = dim - (m - 1) * step if i == m - 1 else step
        seeds = [(vid, v[start:start + width]) for vid, v in vecs[:n_clusters]]
        for vid, v in vecs:
            sub = v[start:start + width]
            # argmax cosine, ties -> lowest seed id (window orders
            # __cos desc, cluster asc)
            best = max(seeds, key=lambda s: (cos(sub, s[1]), -s[0]))[0]
            assert out[vid][f"code_{i}"] == best, (
                vid, i, sub, seeds, out[vid]
            )
