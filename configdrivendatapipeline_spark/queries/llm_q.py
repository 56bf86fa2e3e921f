"""SURVEY.md §2.11 — LLM-training-data operators (+ multimodal
plumbing), routed through configdrivendatapipeline_spark.llm.

Oracle strategy: deterministic integer/fixed-fold formulas match SQL
exactly. Hash-family operators (MinHash, SimHash) declare their
md5-based family member so DuckDB replays the full pipeline
bit-for-bit; production defaults to the xxhash64 member (same
arithmetic, faster primitive, unit-test covered). Hyperplane LSH
buckets are pure integer arithmetic the oracle replays directly.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from configdrivendatapipeline_spark.llm import dedup, multimodal, similarity, textstats
from configdrivendatapipeline_spark.queries import declare, load

_SEC = "2.11"

# DuckDB helpers: dot/norm via index-folded list_reduce in double —
# identical left-fold order to Spark's F.aggregate.
_ODOT = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (s, x) -> s + x)"
)
_ONRM = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))), (s, x) -> s + x))"
)


def _ocos(a: str, b: str) -> str:
    # ``+ 0.0`` normalizes DuckDB's ``-0.0`` (C-style round keeps the
    # sign bit; Spark's BigDecimal round doesn't) — cosine can round to
    # zero from below, and the driver hashes raw double bits.
    return (
        f"ROUND({_ODOT.format(a=a, b=b)} / "
        f"({_ONRM.format(a=a)} * {_ONRM.format(a=b)}), 6) + 0.0"
    )


def _ocos_raw(a: str, b: str) -> str:
    """Unrounded cosine — for ORDER BY comparisons that must see the
    exact double both engines computed."""
    return (
        f"{_ODOT.format(a=a, b=b)} / "
        f"({_ONRM.format(a=a)} * {_ONRM.format(a=b)})"
    )


# DuckDB twins of similarity._plane_weights/_table_buckets: the
# hyperplanes are pure integer arithmetic (Knuth multiplicative mod
# 2³², top 11 bits), so the oracle replays the IDENTICAL planes and
# buckets — which is what lets the LSH operators be hash-checked
# instead of rows-only.


def _oproj(vec: str, plane: int) -> str:
    w = (
        f"(CAST((((({plane * 100_003} + i - 1)) * 2654435761) % 4294967296)"
        f" // 2097152 AS DOUBLE) - 1024.0) / 1024.0"
    )
    return (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ({w}))), (s, x) -> s + x)"
    )


def _obucket(vec: str, table: int, planes_per_table: int) -> str:
    terms = [
        f"CASE WHEN {_oproj(vec, table * planes_per_table + j)} > 0"
        f" THEN {2 ** j} ELSE 0 END"
        for j in range(planes_per_table)
    ]
    return "(" + " + ".join(terms) + ")"


def _obanded(n_tables: int, planes_per_table: int) -> str:
    """UNION-ALL CTE body: (vec_id, table_id, bucket) per LSH table."""
    return " UNION ALL ".join(
        f"SELECT vec_id, {t} AS table_id, "
        f"{_obucket('embedding', t, planes_per_table)} AS bucket FROM v"
        for t in range(n_tables)
    )


@declare(
    "llm_exact_dedup",
    """
    WITH doubled AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
    )
    SELECT MIN(doc_id) AS doc_id, md5(text) AS content_key, COUNT(*) AS n_copies
    FROM doubled GROUP BY text
    """,
    _SEC,
    "Exact dedup on a manufactured at-least-twice corpus: content-"
    "hash groups, keep lowest id (one shuffle on the hash).",
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 1000000)
    )
    # Group by the 16-byte digest, not the document text: the digest
    # IS this query's content identity (content_key in the output),
    # and hashing before the exchange ships ~16 B per distinct doc
    # per map partition instead of the full text (guide §2.3:
    # shuffle keys and metadata, not payloads — at corpus scale the
    # difference between a GB-scale and a MB-scale exchange).
    return doubled.groupBy(F.md5("text").alias("content_key")).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("doc_id", "content_key", "n_copies")


def _minhash_oracle(
    n_hashes: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    calibrate: bool = False,
    recall_t_micro: int | None = None,
) -> str:
    """DuckDB replay of the FULL minhash pipeline (md5_32 token-hash
    member): token hash → shingle mix → affine permutation mins →
    banding → capped bucket pairs. Every constant mirrors
    ``dedup.minhash_signatures`` / ``_banded`` exactly. With
    ``calibrate`` the candidate pairs are additionally scored with
    the MinHash estimate vs exact shingle-set Jaccard (the
    ``minhash_calibration`` twin)."""
    m48, m32 = (1 << 48) - 1, (1 << 32) - 1
    md5_32 = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(substr(md5(s), 1, 8), ''), "
        "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))), "
        "(a, b) -> a * 16 + b)"
    )
    mixers = [((j + 1) * 2654435761) % (2**29) | 1 for j in range(shingle_k)]
    shingle = " + ".join(
        f"((coalesce(th[i + {j + 1}], 0) * {mixers[j]}) & {m48})"
        for j in range(shingle_k)
    )
    sig_exprs = []
    for i in range(n_hashes):
        a = ((i * 2654435761) % (2**30)) | 1
        b = (i * 40503 * 65537) % (2**31)
        sig_exprs.append(
            f"list_min(list_transform(hs, h -> (h * {a} + {b}) & {m32})) AS s{i}"
        )
    r = n_hashes // bands
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || ',' || ".join(
            f"CAST(s{b * r + j} AS VARCHAR)" for j in range(r)
        )
        + " AS bkey FROM sigs"
        for b in range(bands)
    )
    prefix = f"""
    WITH th AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '), s -> {md5_32}) AS th
      FROM documents
    ), hs AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(th) - {shingle_k}, 0) + 1),
               i -> ({shingle}) & {m32})) AS hs
      FROM th WHERE len(th) > 0
    ), sigs AS (
      SELECT doc_id, {', '.join(sig_exprs)} FROM hs
    ), bandrows AS ({band_rows}
    ), bs AS (
      SELECT band_id, bkey, COUNT(*) AS m FROM bandrows GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandrows a
      JOIN bandrows b ON a.band_id = b.band_id AND a.bkey = b.bkey
                     AND a.doc_id < b.doc_id
      JOIN bs ON bs.band_id = a.band_id AND bs.bkey = a.bkey
      WHERE bs.m <= 1000
    )"""
    if recall_t_micro is not None:
        return (
            prefix
            + f""",
    ex AS (SELECT doc_id AS id, unnest(hs) AS h FROM hs),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM ex a JOIN ex b ON a.h = b.h AND a.id < b.id
      GROUP BY a.id, b.id),
    sizes AS (SELECT doc_id AS id, CAST(len(hs) AS BIGINT) AS n FROM hs),
    truth AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      WHERE n_inter * 1000000 >= {recall_t_micro} * (sa.n + sb.n - n_inter)),
    hit AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
            FROM cand c JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b),
    tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM truth),
    cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cand)
    SELECT tc.n AS n_true, cc.n AS n_candidates, hit.n AS n_hit,
           (hit.n * 1000000) // GREATEST(tc.n, 1) AS recall_micro,
           (hit.n * 1000000) // GREATEST(cc.n, 1) AS precision_micro
    FROM tc, cc, hit
    """
        )
    if not calibrate:
        return prefix + "\n    SELECT id_a, id_b FROM cand"
    est = "(CAST(" + " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)"
        for i in range(n_hashes)
    ) + f" AS BIGINT) * 1000000) // {n_hashes}"
    inter = "CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT)"
    uni = f"(CAST(len(ha.hs) AS BIGINT) + CAST(len(hb.hs) AS BIGINT) - {inter})"
    exact = f"({inter} * 1000000) // {uni}"
    return (
        prefix
        + f"""
    SELECT id_a, id_b, est_micro, exact_micro,
           est_micro - exact_micro AS err_micro
    FROM (
      SELECT c.id_a, c.id_b,
             {est} AS est_micro,
             {exact} AS exact_micro
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
      JOIN hs ha ON ha.doc_id = c.id_a
      JOIN hs hb ON hb.doc_id = c.id_b)
    """
    )


@declare(
    "llm_minhash_dedup",
    _minhash_oracle(),
    _SEC,
    "MinHash(32) + banded LSH(8): near-dup candidate pairs without "
    "any O(n²) comparison — the corpus-scale dedup path. This "
    "declared query runs the md5_32 member of the token-hash family "
    "so the oracle replays the ENTIRE pipeline (shingle mix, affine "
    "permutations, banding, bucket cap) bit-for-bit in DuckDB; "
    "production defaults to the xxhash64 member (same arithmetic, "
    "faster primitive), which tests/test_llm.py covers.",
)
def llm_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, n_hashes=32, shingle_k=3, token_hash="md5_32"
    )
    return dedup.lsh_candidate_pairs(sigs, bands=8, sig_len=32, band_key="concat")


#: Version token folded into the staged pair table's scratch key.
#: _scratch already keys on documents.parquet identity (mtime+size),
#: which tracks FIXTURE changes but not CODE changes — bump this on
#: any change to dedup.jaccard_pairs' tokenization, prefix filter, or
#: the raw-count schema so staged tables from the old code are never
#: served to the new (r16 advice: a stale stage would otherwise
#: surface only as a confusing oracle hash mismatch).
_NEARDUP_STAGE_VERSION = "v2"  # r17: set-dedup + coded-bitmap PPJoin build


def _staged_neardup_paths(sf_dir: str) -> tuple[str, str]:
    """(table_dir, marker_path) for the staged t=0.8 raw-count pair
    table — shared with tools/cc_probe.py so the probe can read and
    reset the staged state it is timing."""
    from configdrivendatapipeline_spark.queries.streaming_q import _scratch

    out = _scratch(
        sf_dir,
        f"neardup_scores_t80_{_NEARDUP_STAGE_VERSION}",
        src_table="documents",
    )
    return out, out + ".staged"


def _staged_neardup_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared near-dup pair table, staged to parquet once per
    documents fixture.

    Four declared queries consume the same expensive PPJoin pair
    build (llm_jaccard_neardup at t=0.8; llm_dup_clusters,
    llm_cluster_sizes and llm_dedup_canonical at t=0.95) — measured
    at sf0.1 the build is 113 s where the downstream CC loop is 7 s,
    so re-building per consumer made the family ~3× more expensive
    than the data requires (r15 verdict item 3; SCALING.md round-16
    note). The t=0.8 RAW-COUNT table (id_a, id_b, n_inter, n_a, n_b)
    is staged once per sf_dir — identity-keyed on documents.parquet
    via _scratch (mtime+size), the exact precedent the staged
    streaming feeds set — and each consumer recovers its threshold
    EXACTLY with dedup.filter_jaccard: prefix filtering at the weaker
    t is lossless for every t' ≥ t, and the integer cross-multiply
    cut is rounding-free, so staged-then-filtered output is
    bit-identical to a direct jaccard_pairs(t') build. At 100 TB this
    is the materialize-once pattern pipeline_dedup_reuse demonstrates
    in-pipeline: the pair table is the costly artifact; every
    consumer after the first is a parquet scan.

    Staging is concurrency-safe (r16 advice): the table is written to
    a process-unique temp dir and ``os.rename``d into place, so the
    final path only ever appears ATOMICALLY holding a complete table —
    two sweeps/probes racing on one fixture can no longer interleave
    ``mode("overwrite")`` writes into the same directory (the loser's
    rename fails and its temp dir is discarded). Existence of the
    final dir, not the marker, is therefore the staged test; the
    ``.staged`` marker remains as the observable cold/warm signal
    (tools/cc_probe.py reads it to label its build timings).
    """
    out, marker = _staged_neardup_paths(sf_dir)
    if not os.path.isdir(out):
        docs = load(spark, sf_dir, "documents")
        tmp = f"{out}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        dedup.jaccard_pairs(docs, threshold=0.8, raw_counts=True).write.mode(
            "overwrite"
        ).parquet(tmp)
        try:
            os.rename(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    if not os.path.exists(marker):
        open(marker, "w").close()
    return spark.read.parquet(out)


#: Session-scoped memo of the CONVERGED connected-components label
#: table over the staged t=0.95 edges (r17 verdict item 6). Three
#: declared queries (llm_dup_clusters, llm_dedup_canonical,
#: llm_cluster_sizes) run the identical 6-round label propagation over
#: the identical staged pair table; the propagation's per-round
#: localCheckpoints already materialize the labels, so re-running it
#: per consumer re-paid ~6 driver-paced rounds × label shuffles for a
#: bit-identical result. ONE entry per session, keyed on id(session)
#: and holding (session, staged-table path, labels): the staged path
#: embeds the documents fixture identity (mtime+size via _scratch)
#: plus the code-version token, so a fixture swap or code bump can
#: never serve a stale label table, and a new fixture REPLACES the
#: previous one's labels instead of pinning their localCheckpoint
#: blocks for the life of the session (a daily new corpus would
#: otherwise grow RDD storage without bound). The session object
#: guards against id() reuse (same discipline as _BPE_CACHE below and
#: queries.__init__._LOAD_CACHE). Nothing persists across runs, and
#: the first consumer in any run computes from the parquet inputs.
_CC_CACHE: dict = {}


def _staged_cc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged (doc_id, component) labels over the staged t=0.95
    edge set, computed once per (session, fixture)."""
    path = _staged_neardup_paths(sf_dir)[0]
    hit = _CC_CACHE.get(id(spark))
    if hit is not None and hit[0] is spark and hit[1] == path:
        return hit[2]
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.filter_jaccard(
        _staged_neardup_scores(spark, sf_dir), 0.95
    ).select("id_a", "id_b")
    comp = dedup.duplicate_clusters(pairs, docs, id_col="doc_id")
    _CC_CACHE[id(spark)] = (spark, path, comp)
    return comp


@declare(
    "llm_jaccard_neardup",
    """
    WITH tok AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), sizes AS (
      SELECT id, COUNT(*) AS n_tok FROM tok GROUP BY id
    ), inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           ROUND(n_inter / (sa.n_tok + sb.n_tok - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_inter / (sa.n_tok + sb.n_tok - n_inter) >= 0.8
    """,
    _SEC,
    "Exact token-set Jaccard near-dups. The plan prunes candidates "
    "with a PPJoin prefix filter (index only each doc's n−⌈t·n⌉+1 "
    "rarest tokens — provably lossless for J ≥ t), so the join "
    "groups are bounded by rare-token df, not stopword df; the "
    "oracle states the naive all-shared-token spec, which the "
    "prefix-filtered plan must (and does) reproduce exactly. The "
    "raw-count pair table is STAGED once per fixture and shared "
    "with the whole CC family (r16: 4 consumers, one build).",
)
def llm_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_readout(_staged_neardup_scores(spark, sf_dir))


def _simhash_oracle(bits: int = 64) -> str:
    """DuckDB replay of the md5_32x2 SimHash: two 32-bit md5 words →
    64 signed bit-sums → majority fingerprint. Mirrors
    ``dedup.simhash`` constant-for-constant."""

    def md5_word(start: int) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(string_split(substr(md5(tok), {start}, 8), ''), "
            "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))), "
            "(a, b) -> a * 16 + b)"
        )

    sums = ", ".join(
        f"SUM(CASE WHEN ({'h1' if i < 32 else 'h2'} >> {i % 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST("
        + (str(1 << i) if i < 63 else "-9223372036854775807 - 1")
        + " AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), h AS (
      SELECT doc_id, {md5_word(1)} AS h1, {md5_word(9)} AS h2 FROM tok
    ), bitsums AS (
      SELECT doc_id, {sums} FROM h GROUP BY doc_id
    )
    SELECT doc_id, CAST({terms} AS BIGINT) AS fingerprint FROM bitsums
    """


@declare(
    "llm_simhash",
    _simhash_oracle(),
    _SEC,
    "64-bit SimHash fingerprints (one aggregate pass of per-bit "
    "signed sums). This declared query runs the md5_32x2 member of "
    "the token-hash family so the oracle replays every bit-sum and "
    "the majority fold in DuckDB; production defaults to the "
    "xxhash64 member (tests/test_llm.py covers it).",
)
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load(spark, sf_dir, "documents"), token_hash="md5_32x2")


@declare(
    "llm_text_stats",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           LENGTH(text) AS n_chars_actual,
           len(list_distinct(toks)) AS n_distinct,
           CAST(FLOOR((list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(toks, t -> CAST(LENGTH(t) AS BIGINT))),
                    (a, b) -> a + b) * 200 + len(toks))
                / (len(toks) * 2)) AS DOUBLE) / 100 AS avg_word_len
    FROM d
    """,
    _SEC,
    "Per-document stats: tokens, chars, distinct tokens, avg word "
    "length (integer-exact to 2dp).",
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.text_stats(load(spark, sf_dir, "documents"))


@declare(
    "llm_token_count",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z0-9]{1,4}')) AS bpe_ish_tokens
    FROM documents
    """,
    _SEC,
    "Token counting: whitespace + BPE-ish greedy ≤4-char chunks "
    "(training-budget estimation proxy).",
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_count(load(spark, sf_dir, "documents"))


@declare(
    "llm_word_freq",
    """
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    SELECT token, COUNT(*) AS freq
    FROM t GROUP BY token
    ORDER BY freq DESC, token ASC
    LIMIT 20
    """,
    _SEC,
    "Corpus top-20 token frequencies (deterministic tie-break).",
)
def llm_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.word_freq(load(spark, sf_dir, "documents"), k=20)


@declare(
    "llm_lang_id",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
        len(list_filter(toks, t -> list_contains(['the','a','of','and','is'], t))) AS score_en,
        len(list_filter(toks, t -> list_contains(['le','la','et','les','des'], t))) AS score_fr,
        len(list_filter(toks, t -> list_contains(['el','los','de','y','que'], t))) AS score_es,
        len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS score_de,
        len(list_filter(toks, t -> list_contains(['de','shi','le','bu','wo'], t))) AS score_zh
      FROM d)
    SELECT doc_id, score_en, score_fr, score_es, score_de, score_zh,
           CASE
             WHEN score_en > 0 AND score_en >= score_fr AND score_en >= score_es
                  AND score_en >= score_de AND score_en >= score_zh THEN 'en'
             WHEN score_fr > 0 AND score_fr > score_en AND score_fr >= score_es
                  AND score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
             WHEN score_es > 0 AND score_es > score_en AND score_es > score_fr
                  AND score_es >= score_de AND score_es >= score_zh THEN 'es'
             WHEN score_de > 0 AND score_de > score_en AND score_de > score_fr
                  AND score_de > score_es AND score_de >= score_zh THEN 'de'
             WHEN score_zh > 0 AND score_zh > score_en AND score_zh > score_fr
                  AND score_zh > score_es AND score_zh > score_de THEN 'zh'
             ELSE 'und'
           END AS lang_pred
    FROM s
    """,
    _SEC,
    "Stopword-dictionary language-ID heuristic (argmax with fixed "
    "priority tie-break) — the cheap corpus prefilter.",
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(load(spark, sf_dir, "documents"))


@declare(
    "llm_quality_filter",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_filter(toks, t -> list_contains(['the','a','of','and','is'], t)))
                 AS n_stopwords,
             len(list_distinct(toks)) AS n_distinct
      FROM d)
    SELECT doc_id, n_tokens, n_stopwords, n_distinct,
           CAST(CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 40 ELSE 0 END
            + CASE WHEN n_stopwords * 100 >= n_tokens * 2
                    AND n_stopwords * 100 <= n_tokens * 40 THEN 30 ELSE 0 END
            + CASE WHEN n_distinct * 100 >= n_tokens * 30 THEN 30 ELSE 0 END
               AS BIGINT) AS quality
    FROM q
    WHERE (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 40 ELSE 0 END
            + CASE WHEN n_stopwords * 100 >= n_tokens * 2
                    AND n_stopwords * 100 <= n_tokens * 40 THEN 30 ELSE 0 END
            + CASE WHEN n_distinct * 100 >= n_tokens * 30 THEN 30 ELSE 0 END) >= 70
    """,
    _SEC,
    "Quality scoring (length / stopword-ratio / repetition bands) + "
    "threshold filter — integer arithmetic end-to-end.",
)
def llm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = textstats.quality_score(load(spark, sf_dir, "documents"))
    return q.filter(F.col("quality") >= 70)


@declare(
    "llm_fingerprint",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, t -> CAST(ascii(t) AS BIGINT) * 100
                                          + CAST(LENGTH(t) AS BIGINT))),
             (h, c) -> (h * 31 + c) % 2147483647) AS fingerprint
    FROM d
    """,
    _SEC,
    "Order-sensitive rolling document hash (mod-2³¹−1 polynomial "
    "fold) — engine-exact, unlike implementation-defined hashes.",
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(load(spark, sf_dir, "documents"))


@declare(
    "llm_tfidf",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    weighted AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             ROUND(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf, dfreq, n WHERE tf.term = dfreq.term
    )
    SELECT doc_id, term, tf, df, tfidf,
           rn AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term ASC) AS rn FROM weighted)
    WHERE rn <= 5
    """,
    _SEC,
    "TF-IDF (smoothed idf), top-5 terms per document.",
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.tf_idf(load(spark, sf_dir, "documents"), top_per_doc=5)


@declare(
    "llm_cosine_topk",
    f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS q FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT p.probe_id, e.vec_id,
             {_ocos('e.embedding', 'p.q')} AS cos_sim
      FROM embeddings e CROSS JOIN probes p
    )
    SELECT probe_id, vec_id, cos_sim, rn AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
               ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM scored)
    WHERE rn <= 5
    """,
    _SEC,
    "Brute-force cosine top-k (5 probes × corpus, broadcast probe "
    "side) — the exact ANN baseline/verifier.",
)
def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return similarity.brute_force_topk(emb, probes, k=5)


@declare(
    "llm_knn_lsh",
    f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    cb AS ({_obanded(6, 4)}),
    pb AS (SELECT vec_id AS probe_id, table_id, bucket FROM cb WHERE vec_id < 5),
    cand AS (
      SELECT DISTINCT p.probe_id, c.vec_id
      FROM cb c JOIN pb p ON c.table_id = p.table_id AND c.bucket = p.bucket),
    scored AS (
      SELECT cand.probe_id, cand.vec_id,
             {_ocos('cv.embedding', 'pv.embedding')} AS cos_sim
      FROM cand JOIN v cv ON cv.vec_id = cand.vec_id
                JOIN v pv ON pv.vec_id = cand.probe_id)
    SELECT probe_id, vec_id, cos_sim, rn AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
               ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM scored)
    WHERE rn <= 5
    """,
    _SEC,
    "LSH-bucketed approximate top-k (deterministic arithmetic "
    "hyperplanes, 6 tables × 4 planes): the sub-linear ANN path for "
    "corpus-scale search — hash-checked because the oracle replays "
    "the identical planes.",
)
def llm_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return similarity.lsh_topk(emb, probes, k=5, n_tables=6, planes_per_table=4)


@declare(
    "llm_knn_join",
    f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    cb AS ({_obanded(6, 4)}),
    lab AS (SELECT vec_id, label FROM embeddings),
    cand AS (
      SELECT DISTINCT a.vec_id AS left_id, b.vec_id AS right_id
      FROM cb a JOIN cb b ON a.table_id = b.table_id AND a.bucket = b.bucket
           JOIN lab la ON la.vec_id = a.vec_id
           JOIN lab lb ON lb.vec_id = b.vec_id
      WHERE la.label = lb.label AND a.vec_id <> b.vec_id),
    scored AS (
      SELECT c.left_id, c.right_id,
             {_ocos('va.embedding', 'vb.embedding')} AS cos_sim
      FROM cand c JOIN v va ON va.vec_id = c.left_id
                  JOIN v vb ON vb.vec_id = c.right_id)
    SELECT left_id, right_id, cos_sim, rn AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
               ORDER BY cos_sim DESC, right_id ASC) AS rn FROM scored)
    WHERE rn <= 3
    """,
    _SEC,
    "k-NN join: approximate top-3 neighbors for EVERY vector within "
    "its label, candidates from multi-table hyperplane LSH (6 tables "
    "× 4 planes) joined on (label, table, bucket) — buckets subdivide "
    "hot labels, so no within-label quadratic survives at scale; the "
    "deterministic planes keep the oracle replaying identical "
    "candidates.",
)
def llm_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.knn_join(
        emb, k=3, n_tables=6, planes_per_table=4, group_col="label"
    )


@declare(
    "llm_knn_ivf",
    f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, embedding AS cemb FROM v
              ORDER BY vec_id LIMIT 16),
    assigned AS (
      SELECT vec_id, list_id FROM (
        SELECT v.vec_id, c.cent_id AS list_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {_ocos_raw('v.embedding', 'c.cemb')} DESC,
                            c.cent_id) AS rn
        FROM v CROSS JOIN cents c) WHERE rn = 1),
    routed AS (
      SELECT probe_id, list_id FROM (
        SELECT p.vec_id AS probe_id, c.cent_id AS list_id,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                   ORDER BY {_ocos_raw('p.embedding', 'c.cemb')} DESC,
                            c.cent_id) AS rn
        FROM v p CROSS JOIN cents c WHERE p.vec_id < 5) WHERE rn <= 4),
    scored AS (
      SELECT r.probe_id, a.vec_id,
             {_ocos('av.embedding', 'pv.embedding')} AS cos_sim
      FROM routed r JOIN assigned a ON a.list_id = r.list_id
           JOIN v av ON av.vec_id = a.vec_id
           JOIN v pv ON pv.vec_id = r.probe_id)
    SELECT probe_id, vec_id, cos_sim, rn AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
               ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM scored)
    WHERE rn <= 5
    """,
    _SEC,
    "IVF-style ANN: coarse-quantize to inverted lists, probe the 4 "
    "nearest of 16 lists per query — the second (routing-based) "
    "scale path beside hyperplane LSH; the training-free centroid "
    "pick is deterministic, so the oracle replays it exactly.",
)
def llm_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return similarity.ivf_topk(emb, probes, k=5, n_centroids=16, n_probe=4)


@declare(
    "llm_embed_neardup",
    f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    cb AS ({_obanded(6, 4)}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cb a JOIN cb b ON a.table_id = b.table_id
                         AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    scored AS (
      SELECT id_a, id_b, {_ocos('va.embedding', 'vb.embedding')} AS cos_sim
      FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b)
    SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.3
    """,
    _SEC,
    "Embedding-cosine near-duplicate pairs, LSH-bucketed (6 tables × "
    "4 planes, equi-join on (table_id, bucket) — never an O(n²) "
    "theta self-join); threshold 0.3 because the synthetic vectors "
    "are near-orthogonal. The oracle replays the identical "
    "deterministic planes, so the candidate subset hash-matches; "
    "neardup_pairs(exact=True) remains the small-fixture verifier.",
)
def llm_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.neardup_pairs(load(spark, sf_dir, "embeddings"), threshold=0.3)


@declare(
    "llm_multimodal_cols",
    f"""
    SELECT e.label,
           COUNT(*) AS n_docs,
           MAX(ROUND({_ONRM.format(a='e.embedding')}, 6)) AS max_norm,
           MIN(ROUND({_ONRM.format(a='e.embedding')}, 6)) AS min_norm,
           MAX(LENGTH(d.text)) AS max_text_len
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.lang = 'en'
    GROUP BY e.label
    """,
    _SEC,
    "Multimodal table: text + vector + metadata columns flowing "
    "through ordinary relational ops (join/filter/aggregate).",
)
def llm_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id).filter(F.col("lang") == "en")
    nrm = F.round(similarity.norm(similarity.as_double("embedding")), 6)
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(nrm).alias("max_norm"),
        F.min(nrm).alias("min_norm"),
        F.max(F.length("text")).cast("long").alias("max_text_len"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary payload + Arrow decode kernel + plans)
# ---------------------------------------------------------------------------


@declare(
    "mm_binary_meta",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS payload_bytes,
           md5(text) AS payload_md5,
           ['image', 'audio', 'video'][(doc_id % 3) + 1] AS media_type,
           CAST((doc_id * 37) % 1280 + 16 AS INT) AS width,
           CAST((doc_id * 53) % 720 + 16 AS INT) AS height
    FROM documents
    """,
    _SEC,
    "Opaque binary media column + typed metadata riding the normal "
    "columnar path (hashes/lengths computed on the bytes).",
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = multimodal.attach_fake_payload(load(spark, sf_dir, "documents"))
    return mm.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("payload_bytes"),
        F.md5("payload").alias("payload_md5"),
        "media_type",
        "width",
        "height",
    )


@declare(
    "mm_decode_stub",
    """
    WITH chars AS (
      SELECT doc_id,
             ['image', 'audio', 'video'][(doc_id % 3) + 1] AS media_type,
             octet_length(encode(text)) AS payload_bytes,
             ascii(text) AS first_byte,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(text, ''), c ->
                 CAST(ascii(c) AS BIGINT))), (a, b) -> a + b) AS byte_sum
      FROM documents)
    SELECT doc_id, media_type, payload_bytes, first_byte,
           CAST(FLOOR((byte_sum * 2000000 + payload_bytes)
                / (2 * payload_bytes)) AS DOUBLE) / 1000000 AS feat_mean
    FROM chars
    """,
    _SEC,
    "Arrow-batched decode/featurize kernel over binary payloads "
    "(mapInPandas; deterministic fake decoder — real PIL/ffmpeg path "
    "raises DecodeUnavailable; plan/schema/batching are the real "
    "deliverable).",
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = multimodal.attach_fake_payload(load(spark, sf_dir, "documents"))
    return multimodal.decode_features(mm)


@declare(
    "mm_frame_sample",
    """
    SELECT doc_id, CAST((doc_id * 7) % 240 + 1 AS INT) AS n_frames,
           CAST(unnest(range(0, (doc_id * 7) % 240 + 1, 24)) AS INT) AS frame_idx
    FROM documents
    WHERE ['image', 'audio', 'video'][(doc_id % 3) + 1] = 'video'
    """,
    _SEC,
    "Video frame-sampling plan: every-24th frame index exploded "
    "BEFORE decode (decode k× less data at scale).",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = multimodal.attach_fake_payload(load(spark, sf_dir, "documents"))
    return multimodal.sample_frames(mm, every_k=24)


@declare(
    "mm_resize_plan",
    """
    WITH m AS (
      SELECT doc_id,
             CAST((doc_id * 37) % 1280 + 16 AS INT) AS width,
             CAST((doc_id * 53) % 720 + 16 AS INT) AS height
      FROM documents)
    SELECT doc_id, width, height,
           CAST(CASE WHEN GREATEST(width, height) <= 256 THEN width
                ELSE GREATEST(1, FLOOR(width * 256 / GREATEST(width, height))) END AS INT) AS target_w,
           CAST(CASE WHEN GREATEST(width, height) <= 256 THEN height
                ELSE GREATEST(1, FLOOR(height * 256 / GREATEST(width, height))) END AS INT) AS target_h
    FROM m
    """,
    _SEC,
    "Aspect-preserving resize targets computed in-plan (the SQL half "
    "of the resize kernel; pixel work stays in the decode stub).",
)
def mm_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = multimodal.attach_fake_payload(load(spark, sf_dir, "documents"))
    return multimodal.resize_plan(mm, max_side=256)


@declare(
    "llm_chunking",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (
      SELECT doc_id, toks,
             1 + CAST(CEIL(GREATEST(len(toks) - 64, 0) / 48.0) AS INT) AS n_chunks
      FROM d)
    SELECT doc_id,
           CAST(unnest(range(n_chunks)) AS INT) AS chunk_idx,
           list_aggregate(toks[unnest(range(n_chunks)) * 48 + 1 :
                               unnest(range(n_chunks)) * 48 + 64], 'string_agg', ' ')
               AS chunk_text,
           CAST(len(toks[unnest(range(n_chunks)) * 48 + 1 :
                         unnest(range(n_chunks)) * 48 + 64]) AS BIGINT) AS chunk_tokens
    FROM c
    """,
    _SEC,
    "Document chunking: 64-token windows with 16-token overlap "
    "(stride 48) — the context-window packing step; pure in-plan "
    "sequence explode, no UDF.",
)
def llm_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.chunk_documents(
        load(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


@declare(
    "llm_pii_redact",
    r"""
    WITH dirty AS (
      SELECT doc_id,
             CONCAT(SUBSTR(text, 1, 20), ' contact user', doc_id,
                    '@example.com or 555-867-5309 ssn 123-45-6789') AS text
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
               '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '[PHONE]', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS text
    FROM dirty
    """,
    _SEC,
    "PII scrubbing: chained regex redaction (emails/phones/SSNs) over "
    "a corpus with injected PII — codegen'd, no Python.",
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirty = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 20),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-867-5309 ssn 123-45-6789"),
        ).alias("text"),
    )
    return textstats.redact_pii(dirty, "text")


@declare(
    "llm_dup_clusters",
    """
    WITH tok AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), sizes AS (SELECT id, COUNT(*) AS n_tok FROM tok GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING COUNT(*) / (ANY_VALUE((SELECT n_tok FROM sizes WHERE id = a.id))
             + ANY_VALUE((SELECT n_tok FROM sizes WHERE id = b.id)) - COUNT(*)) >= 0.95
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), walk AS (
      WITH RECURSIVE w(id, anc) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.anc FROM w JOIN edges e ON e.src = w.id
      ) SELECT * FROM w
    )
    SELECT id AS doc_id, MIN(anc) AS component
    FROM walk GROUP BY id
    """,
    _SEC,
    "Duplicate-cluster assignment: connected components (iterative "
    "min-label propagation, one shuffle per round, localCheckpoint'd) "
    "over exact-Jaccard>=0.95 edges; oracle is a recursive-CTE "
    "transitive closure. Edges come from the staged shared pair "
    "table, re-thresholded with the exact integer cut (one PPJoin "
    "build amortized across the CC family).",
)
def llm_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _staged_cc_components(spark, sf_dir)


@declare(
    "llm_ngram_jaccard",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id AS id,
            unnest(list_distinct(list_transform(
              range(0, greatest(len(toks) - 3, 0) + 1),
              i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
          FROM d),
    sizes AS (SELECT id, COUNT(*) AS n_tok FROM s GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM s a JOIN s b ON a.tok = b.tok AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT id_a, id_b,
           ROUND(n_inter / (sa.n_tok + sb.n_tok - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
    WHERE n_inter / (sa.n_tok + sb.n_tok - n_inter) >= 0.5
    """,
    _SEC,
    "n-gram (3-token shingle) Jaccard near-dups — order-sensitive "
    "where token-set Jaccard is not, so reordered boilerplate stops "
    "colliding; same PPJoin prefix-filtered plan via the shingle "
    "array as the element set (shingle vocabulary is quadratically "
    "larger than token vocabulary, so inverted-index groups shrink).",
)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = dedup.with_shingles(
        load(spark, sf_dir, "documents"), "text", k=3, out="sh"
    )
    return dedup.jaccard_pairs(docs, threshold=0.5, tokens_col="sh")


# DuckDB twin of sampling.hash_bucket — shared definition lives in
# queries/__init__ (omd5bucket) so join/layout oracles reuse it.
from configdrivendatapipeline_spark.queries import omd5bucket as _obucket_md5  # noqa: E402


@declare(
    "llm_hash_split",
    f"""
    SELECT doc_id, lang,
           {_obucket_md5('doc_id', 'split:v1', 100)} AS bucket,
           CASE WHEN {_obucket_md5('doc_id', 'split:v1', 100)} < 90 THEN 'train'
                WHEN {_obucket_md5('doc_id', 'split:v1', 100)} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    _SEC,
    "Deterministic train/val/test assignment: md5(id)-mod-100 "
    "buckets — stable across reruns, engines and task retries "
    "(rand()/df.sample is not), pure map-side at 100 TB.",
)
def llm_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.hash_split(docs)


@declare(
    "llm_hash_sample",
    f"""
    SELECT doc_id, source
    FROM documents
    WHERE {_obucket_md5('doc_id', 'sample:v1', 10000)} < 1000
    """,
    _SEC,
    "Deterministic 10% corpus sample on a 1/10000 hash grid; samples "
    "at growing fractions with one salt are strictly nested, so a "
    "training subset can grow monotonically.",
)
def llm_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.hash_sample(docs, fraction=0.10)


@declare(
    "llm_mixture_sample",
    f"""
    SELECT doc_id, source
    FROM documents
    WHERE {_obucket_md5('doc_id', 'mixture:v1', 10000)} <
          CASE WHEN source = 'src0' THEN 2500
               WHEN source = 'src1' THEN 5000
               ELSE 10000 END
    """,
    _SEC,
    "Training-mixture reweighting: per-source deterministic "
    "downsampling on the md5 grid (keep 25% of src0, 50% of src1, "
    "all else) — one map-side predicate, no shuffle, retry-stable; "
    "per-group samples nest as the fraction grows.",
)
def llm_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.mixture_sample(docs, {"src0": 0.25, "src1": 0.50})


@declare(
    "llm_decontaminate",
    """
    WITH bg AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
          range(0, len(toks) - 8 + 1),
          i -> array_to_string(toks[i+1:i+8], ' ')))) AS __gram
      FROM (SELECT string_split(text, ' ') AS toks FROM documents
            WHERE doc_id % 20 = 0)
      WHERE len(toks) >= 8
    ), tg AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
          range(0, len(toks) - 8 + 1),
          i -> array_to_string(toks[i+1:i+8], ' ')))) AS __gram
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE doc_id % 20 <> 0)
      WHERE len(toks) >= 8
    )
    SELECT tg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM tg JOIN bg USING (__gram)
    GROUP BY tg.doc_id
    """,
    _SEC,
    "Benchmark decontamination: flag training docs sharing any word "
    "8-gram with the eval split (doc_id%20==0 here; a real run "
    "broadcasts MMLU et al.) — the benchmark gram set is broadcast, "
    "so the corpus never shuffles; output = contaminated doc ids "
    "with distinct-overlap counts.",
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return dedup.decontaminate(train, bench, n=8)


@declare(
    "llm_repetition",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct,
             unnest(list_transform(
               range(0, len(toks) - 1),
               i -> array_to_string(toks[i+1:i+2], ' '))) AS gram
      FROM d WHERE len(toks) >= 2),
    pg AS (
      SELECT doc_id, MAX(n_tokens) AS n_tokens, MAX(n_distinct) AS n_distinct,
             gram, COUNT(*) AS gram_count
      FROM g GROUP BY doc_id, gram),
    pd AS (
      SELECT doc_id, MAX(n_tokens) AS n_tokens, MAX(n_distinct) AS n_distinct,
             MAX(gram_count) AS top_gram_count
      FROM pg GROUP BY doc_id
      UNION ALL
      SELECT doc_id, len(toks), len(list_distinct(toks)), 0
      FROM d WHERE len(toks) < 2)
    SELECT doc_id, n_tokens, top_gram_count,
           CAST(FLOOR(((n_tokens - n_distinct) * 2000000 + n_tokens)
                      / (n_tokens * 2)) AS DOUBLE) / 1000000 AS dup_tok_frac,
           CAST(FLOOR((top_gram_count * 2000000 + GREATEST(n_tokens - 1, 1))
                      / (GREATEST(n_tokens - 1, 1) * 2)) AS DOUBLE) / 1000000
               AS top_gram_frac
    FROM pd
    """,
    _SEC,
    "Gopher-style repetition signals per doc: duplicate-token "
    "fraction and top-2-gram position share — the cheap structural "
    "spam filters; explode + two keyed aggregations, linear in "
    "corpus size (never per-row nested counting).",
)
def llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.repetition_stats(load(spark, sf_dir, "documents"))


@declare(
    "llm_cross_dedup",
    """
    WITH new_batch AS (
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text || ' novel tail' AS text
      FROM documents WHERE doc_id % 5 = 1
    )
    SELECT n.doc_id, md5(n.text) AS content_key
    FROM new_batch n
    ANTI JOIN documents d ON sha256(n.text) = sha256(d.text)
    """,
    _SEC,
    "Incremental cross-corpus dedup: a manufactured ingest batch "
    "(20% re-keyed exact copies + 20% genuinely novel docs) "
    "anti-joined on sha2(text) against the base corpus — the "
    "nightly-refresh front door; one shuffle on the content hash, "
    "copies vanish, novel docs survive.",
)
def llm_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    new_batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .unionByName(
            docs.filter(F.col("doc_id") % 5 == 1)
            .withColumn("doc_id", F.col("doc_id") + 2000000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" novel tail")))
        )
    )
    return dedup.cross_corpus_dedup(new_batch, docs).select(
        "doc_id", F.md5("text").alias("content_key")
    )


@declare(
    "llm_embed_quantize",
    """
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    m AS (
      SELECT vec_id, v,
             list_aggregate(list_transform(v, x -> abs(x)), 'max') AS max_abs,
             CASE WHEN list_aggregate(list_transform(v, x -> abs(x)), 'max') = 0
                  THEN 1.0
                  ELSE 127.0 / list_aggregate(list_transform(v, x -> abs(x)), 'max')
             END AS scale
      FROM e),
    q AS (
      SELECT vec_id, v, max_abs, scale,
             list_transform(v, x -> GREATEST(-127.0, LEAST(127.0,
                 FLOOR(x * scale + 0.5)))) AS qv
      FROM m)
    SELECT vec_id,
           ROUND(max_abs, 6) AS max_abs,
           CAST(list_reduce(list_prepend(0.0, qv), (s, x) -> s + x) AS BIGINT)
               AS q_sum,
           CAST(list_reduce(list_prepend(0.0,
                list_transform(qv, x -> abs(x))), (s, x) -> s + x) AS BIGINT)
               AS q_l1,
           ROUND(list_aggregate(list_transform(range(1, len(v) + 1),
                 i -> abs(v[i] - qv[i] / scale)), 'max'), 6)
               AS max_recon_err
    FROM q
    """,
    _SEC,
    "Per-vector symmetric int8 quantization (the 4x compression step "
    "before ANN indexing): half-up rounded q_i = v_i*127/max|v|, "
    "clamped; emits scalar diagnostics (q sums, max reconstruction "
    "error) — pure map-side array arithmetic, zero shuffle.",
)
def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.quantize_int8(load(spark, sf_dir, "embeddings"))


@declare(
    "llm_semdedup",
    f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    cb AS ({_obanded(6, 4)}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cb a JOIN cb b ON a.table_id = b.table_id
                         AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    dropped AS (
      SELECT DISTINCT id_b FROM cand
      JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b
      WHERE {_ocos('va.embedding', 'vb.embedding')} >= 0.3)
    SELECT e.vec_id, e.label, (d.id_b IS NULL) AS kept
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.id_b
    """,
    _SEC,
    "Semantic dedup (SemDeDup-style): drop vectors with a lower-id "
    "cosine-neighbor ≥ 0.3 in any shared LSH bucket; lowest id of "
    "each neighborhood survives. Greedy-by-id is the deterministic "
    "variant of cluster-and-keep-one; candidates are bucket-bounded "
    "(6 tables × 4 hyperplanes), never O(n²). Emits kept flags so "
    "the drop rate is auditable.",
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semdedup(load(spark, sf_dir, "embeddings"), threshold=0.3)


@declare(
    "llm_seq_packing",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_obucket_md5('doc_id', 'pack:v1', 8)} AS shard
      FROM documents
    ), o AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tok_offset
      FROM d)
    SELECT doc_id, shard, n_tokens, tok_offset,
           CAST(tok_offset // 2048 AS BIGINT) AS pack_first,
           CAST((tok_offset + n_tokens - 1) // 2048 AS BIGINT)
             AS pack_last
    FROM o
    """,
    _SEC,
    "Concat-and-chunk sequence packing: shard by id hash, per-shard "
    "token offsets via a window cumsum, docs mapped to the 2048-token "
    "context windows they span — the standard pretraining layout. "
    "Sharding keeps the cumsum partition-parallel at corpus scale "
    "(a single global stream would serialize through one partition).",
)
def llm_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    return sampling.pack_offsets(load(spark, sf_dir, "documents"))


@declare(
    "llm_seq_packing_shuffled",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_obucket_md5('doc_id', 'pack:v1', 8)} AS shard,
             md5(CAST(doc_id AS VARCHAR) || ':epoch:1') AS shuffle_key
      FROM documents
    ), o AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY shuffle_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tok_offset
      FROM d)
    SELECT doc_id, shard, n_tokens, tok_offset,
           CAST(tok_offset // 2048 AS BIGINT) AS pack_first,
           CAST((tok_offset + n_tokens - 1) // 2048 AS BIGINT)
             AS pack_last
    FROM o
    """,
    _SEC,
    "Sequence packing in epoch-shuffled order: the hash_shuffle "
    "md5(id:salt) permutation fused into the packing cumsum itself — "
    "ONE shuffle lays out a decorrelated epoch, instead of a shuffle "
    "pass followed by a packing pass. A new salt re-lays the corpus "
    "for the next epoch; same salt reproduces the layout bit-for-bit "
    "on any engine or retry (ORDER BY rand() is neither).",
)
def llm_seq_packing_shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    return sampling.pack_offsets(
        load(spark, sf_dir, "documents"), shuffle_salt="epoch:1"
    )


@declare(
    "llm_shuffle",
    f"""
    WITH k AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':shuffle:v1') AS sort_key,
             {_obucket_md5('doc_id', 'shuffle:v1:shard', 8)} AS shard
      FROM documents)
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard
                ORDER BY sort_key, doc_id) AS BIGINT) AS pos,
           sort_key
    FROM k
    """,
    _SEC,
    "Deterministic corpus shuffle: md5(id:salt) ordering inside "
    "id-hash shards — a reproducible pseudo-random permutation "
    "(same salt → same order on any engine or retry; new salt → "
    "fresh epoch) where ORDER BY rand() is neither. Per-shard "
    "positions keep the sort partition-parallel; (shard, pos) is "
    "the on-disk training layout. Compose with llm_seq_packing to "
    "pack context windows in decorrelated order.",
)
def llm_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    return sampling.hash_shuffle(load(spark, sf_dir, "documents"))


@declare(
    "mm_decode_ppm",
    """
    WITH d AS (
      SELECT doc_id,
             8 + doc_id % 9 AS w,
             8 + doc_id % 7 AS h
      FROM documents
    ), g AS (
      SELECT d.doc_id, d.w, d.h, r.range AS r, c.range AS c
      FROM d, range(0, 16) r, range(0, 16) c
      WHERE r.range < d.h AND c.range < d.w
    ), s AS (
      SELECT doc_id, w, h,
             SUM((doc_id * 31 + r * 7 + c * 3) % 256) AS rs,
             SUM((doc_id * 31 + r * 7 + c * 3 + 11) % 256) AS gs,
             SUM((doc_id * 31 + r * 7 + c * 3 + 22) % 256) AS bs
      FROM g GROUP BY doc_id, w, h
    )
    SELECT doc_id,
           CAST(w AS INT) AS img_w,
           CAST(h AS INT) AS img_h,
           CAST((rs * 2000000 + w * h) // (2 * w * h) AS BIGINT) AS r_mean_micro,
           CAST((gs * 2000000 + w * h) // (2 * w * h) AS BIGINT) AS g_mean_micro,
           CAST((bs * 2000000 + w * h) // (2 * w * h) AS BIGINT) AS b_mean_micro
    FROM s
    """,
    _SEC,
    "REAL image decode through the Arrow kernel: every payload is a "
    "genuine binary P6 PPM (varied dims, so the header parse is "
    "exercised) decoded in pure numpy — header tokenize → buffer "
    "reshape → per-channel stats in exact half-up micro-units. The "
    "deterministic pixel pattern lets the oracle recompute the "
    "decoded statistics analytically, so the decode itself is "
    "hash-verified. Codec formats (JPEG/PNG/audio) remain behind "
    "DecodeUnavailable — this proves the decode architecture is not "
    "a stub.",
)
def mm_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_ppm_payload(docs)
    return multimodal.decode_ppm_features(payloads)


@declare(
    "mm_decode_wav",
    """
    WITH d AS (
      SELECT doc_id, 800 + (doc_id % 5) * 160 AS n FROM documents
    ), s AS (
      SELECT d.doc_id, d.n,
             SUM(abs(((d.doc_id * 7 + i.range * 13) % 4096) - 2048)) AS abs_sum
      FROM d, range(0, 1440) i
      WHERE i.range < d.n
      GROUP BY d.doc_id, d.n
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(16000 AS INT) AS sample_rate,
           CAST((abs_sum * 2000000 + n) // (2 * n) AS BIGINT) AS mean_abs_micro
    FROM s
    """,
    _SEC,
    "REAL audio decode through the Arrow kernel: every payload is a "
    "genuine 16-bit PCM WAV (full RIFF layout, varied lengths) "
    "parsed by a chunk-walking decoder — fmt validation, data chunk "
    "location, int16 buffer — with mean |amplitude| in exact "
    "half-up micro-units. The deterministic sample pattern lets the "
    "oracle recompute the decoded statistics analytically, so the "
    "audio decode is hash-verified like the PPM image path.",
)
def mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_wav_payload(docs)
    return multimodal.decode_wav_features(payloads)


@declare(
    "mm_decode_y4m",
    """
    WITH d AS (
      SELECT doc_id,
             4 + doc_id % 3 AS w,
             4 + doc_id % 2 AS h,
             3 + doc_id % 4 AS nf
      FROM documents
    ), fr AS (
      SELECT d.doc_id, d.w, d.h, f.range AS frame_idx
      FROM d, range(0, 6) f
      WHERE f.range < d.nf AND f.range % 2 = 0
    ), s AS (
      SELECT fr.doc_id, fr.w, fr.h, fr.frame_idx,
             SUM((fr.doc_id * 17 + fr.frame_idx * 29 + i.range * 3) % 256)
               AS y_sum
      FROM fr, range(0, 30) i
      WHERE i.range < fr.w * fr.h
      GROUP BY fr.doc_id, fr.w, fr.h, fr.frame_idx
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST((y_sum * 2000000 + w * h) // (2 * w * h) AS BIGINT)
             AS y_mean_micro
    FROM s
    """,
    _SEC,
    "REAL video decode through the Arrow kernel: every payload is a "
    "genuine YUV4MPEG2 stream (varied dims and frame counts) parsed "
    "by a container-walking decoder — header tokens, FRAME markers, "
    "plane reshape — with every-2nd-frame sampling and luma means "
    "in exact half-up micro-units. This is the decode-side "
    "realization of the mm_frame_sample plan, hash-verified like "
    "the PPM and WAV paths.",
)
def mm_decode_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_y4m_payload(docs)
    return multimodal.decode_y4m_frames(payloads, every_k=2)


@declare(
    "mm_resize_ppm",
    """
    WITH d AS (
      SELECT doc_id,
             8 + doc_id % 9 AS w,
             8 + doc_id % 7 AS h
      FROM documents
    ), t AS (
      SELECT doc_id, w, h,
             greatest(1, (w * 6) // greatest(w, h)) AS tw,
             greatest(1, (h * 6) // greatest(w, h)) AS th
      FROM d
    ), g AS (
      SELECT t.doc_id, t.w, t.h, t.tw, t.th, r.range AS r, c.range AS c
      FROM t, range(0, 6) r, range(0, 6) c
      WHERE r.range < t.th AND c.range < t.tw
    ), s AS (
      SELECT doc_id, tw, th,
             SUM((doc_id * 31 + ((r * h) // th) * 7 + ((c * w) // tw) * 3) % 256)
               AS r_sum
      FROM g GROUP BY doc_id, tw, th
    )
    SELECT doc_id,
           CAST(tw AS INT) AS target_w,
           CAST(th AS INT) AS target_h,
           CAST((r_sum * 2000000 + tw * th) // (2 * tw * th) AS BIGINT)
             AS r_mean_micro
    FROM s
    """,
    _SEC,
    "REAL resize through the Arrow kernel: decode the PPM payload, "
    "aspect-preserving nearest-neighbor downscale (integer index "
    "maps src = (dst·src_dim) // dst_dim — the same fit arithmetic "
    "as resize_plan), then channel stats on the RESIZED pixels in "
    "exact micro-units. The oracle replays decode + resize "
    "analytically, so the pixel path itself is hash-verified — "
    "completing the decode / featurize / resize / frame-sample "
    "quartet with real kernels.",
)
def mm_resize_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_ppm_payload(docs)
    return multimodal.resize_ppm_features(payloads, max_side=6)


@declare(
    "llm_paragraph_dedup",
    """
    WITH p AS (
      SELECT doc_id, md5(unnest(string_split(text, '. '))) AS pk
      FROM documents
    ), pc AS (
      SELECT pk, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY pk
    ), d AS (
      SELECT p.doc_id,
             COUNT(*) AS n_paras,
             SUM(CASE WHEN pc.nd > 1 THEN 1 ELSE 0 END) AS n_shared
      FROM p JOIN pc USING (pk) GROUP BY p.doc_id
    )
    SELECT doc_id,
           CAST(n_paras AS BIGINT) AS n_paras,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST((n_shared * 2000000 + n_paras) // (2 * n_paras) AS BIGINT)
             AS shared_frac_micro
    FROM d
    """,
    _SEC,
    "Paragraph-granularity boilerplate detection: per doc, the "
    "fraction of sentences/paragraphs that also appear in OTHER "
    "documents — the classic cross-document repeated-text signal "
    "(headers, footers, templates) that document-level dedup misses. "
    "Paragraphs shuffle as md5 keys (never raw text) so the "
    "frequency join moves 16-byte keys at corpus scale; two "
    "shuffles total (frequency count + join back).",
)
def llm_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id", F.explode(F.split("text", "\\. ")).alias("para")
    ).select("doc_id", F.md5("para").alias("pk"))
    pc = p.groupBy("pk").agg(F.count_distinct("doc_id").alias("nd"))
    d = (
        p.join(pc, "pk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_shared"),
        )
    )
    return d.select(
        "doc_id",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.col("n_shared").cast("long").alias("n_shared"),
        # Integer `div`, not double `/` + cast: exact on longs like the
        # oracle's `//`, so no rounding boundary can flip the last digit
        # once counts outgrow double precision.
        F.expr(
            "(cast(n_shared as bigint) * 2000000 + n_paras) div (2 * n_paras)"
        ).alias("shared_frac_micro"),
    )


@declare(
    "llm_source_weights",
    """
    WITH c AS (
      SELECT source, lang, COUNT(*) AS n_docs FROM documents GROUP BY source, lang
    ), m AS (SELECT MAX(n_docs) AS mx FROM c)
    SELECT source, lang, n_docs,
           CAST((mx * 2000000 + n_docs) // (2 * n_docs) AS BIGINT)
             AS upsample_micro
    FROM c, m
    """,
    _SEC,
    "Inverse-frequency mixture weights: per (source, lang) stratum, "
    "the upsampling factor that balances it against the largest "
    "stratum — the data-driven side of mixture reweighting "
    "(mixture_sample applies given fractions; this computes them). "
    "One aggregation plus a broadcast scalar max; exact integer "
    "micro-units so the weights hash identically everywhere.",
)
def llm_source_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    return sampling.source_weights(load(spark, sf_dir, "documents"))


@declare(
    "llm_kmeans",
    f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    seeds AS (SELECT vec_id AS cluster, embedding AS cemb FROM v
              ORDER BY vec_id LIMIT 8),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, s.cluster,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {_ocos_raw('v.embedding', 's.cemb')} DESC,
                            s.cluster) AS rn
        FROM v CROSS JOIN seeds s) WHERE rn = 1),
    qex AS (
      SELECT a1.cluster, r.i AS dim,
             CAST(FLOOR(CAST(v.embedding[r.i] AS DOUBLE) * 1048576)
                  AS BIGINT) AS qv
      FROM a1 JOIN v USING (vec_id) CROSS JOIN range(1, 65) AS r(i)),
    comp AS (
      SELECT cluster, dim,
             CAST(SUM(qv) AS DOUBLE) / (COUNT(*) * 1048576) AS mean
      FROM qex GROUP BY cluster, dim),
    cents AS (
      SELECT cluster, list(mean ORDER BY dim) AS cmean
      FROM comp GROUP BY cluster),
    a2 AS (
      SELECT vec_id, cluster, cs FROM (
        SELECT v.vec_id, c.cluster,
               {_ocos_raw('v.embedding', 'c.cmean')} AS cs,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {_ocos_raw('v.embedding', 'c.cmean')} DESC,
                            c.cluster) AS rn
        FROM v CROSS JOIN cents c) WHERE rn = 1)
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
           ROUND(cs, 6) + 0.0 AS cos_sim
    FROM a2
    """,
    _SEC,
    "Deterministic k-means over embeddings (8 clusters, one "
    "refinement iteration): lowest-id seeds, cosine assignment with "
    "lowest-cluster tie-break, and per-cluster means on a 2^-20 "
    "fixed-point grid — exact integer sums make the refined "
    "centroids bit-identical on every engine and retry, where a "
    "float-sum mean would depend on partition order. The trained-"
    "quantizer path for IVF routing and the clustering step of "
    "cluster-then-dedup curation.",
)
def llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.kmeans_assign(
        load(spark, sf_dir, "embeddings"), n_clusters=8, refine_iters=1
    )


@declare(
    "llm_knn_ivf_trained",
    f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    seeds AS (SELECT vec_id AS cluster, embedding AS cemb FROM v
              ORDER BY vec_id LIMIT 8),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, s.cluster,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {_ocos_raw('v.embedding', 's.cemb')} DESC,
                            s.cluster) AS rn
        FROM v CROSS JOIN seeds s) WHERE rn = 1),
    qex AS (
      SELECT a1.cluster, r.i AS dim,
             CAST(FLOOR(CAST(v.embedding[r.i] AS DOUBLE) * 1048576)
                  AS BIGINT) AS qv
      FROM a1 JOIN v USING (vec_id) CROSS JOIN range(1, 65) AS r(i)),
    comp AS (
      SELECT cluster, dim,
             CAST(SUM(qv) AS DOUBLE) / (COUNT(*) * 1048576) AS mean
      FROM qex GROUP BY cluster, dim),
    cents AS (
      SELECT cluster AS cent_id, list(mean ORDER BY dim) AS cmean
      FROM comp GROUP BY cluster),
    assigned AS (
      SELECT vec_id, list_id FROM (
        SELECT v.vec_id, c.cent_id AS list_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {_ocos_raw('v.embedding', 'c.cmean')} DESC,
                            c.cent_id) AS rn
        FROM v CROSS JOIN cents c) WHERE rn = 1),
    routed AS (
      SELECT probe_id, list_id FROM (
        SELECT p.vec_id AS probe_id, c.cent_id AS list_id,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                   ORDER BY {_ocos_raw('p.embedding', 'c.cmean')} DESC,
                            c.cent_id) AS rn
        FROM v p CROSS JOIN cents c WHERE p.vec_id < 5) WHERE rn <= 2),
    scored AS (
      SELECT r.probe_id, a.vec_id,
             {_ocos('av.embedding', 'pv.embedding')} AS cos_sim
      FROM routed r JOIN assigned a ON a.list_id = r.list_id
           JOIN v av ON av.vec_id = a.vec_id
           JOIN v pv ON pv.vec_id = r.probe_id)
    SELECT probe_id, vec_id, cos_sim, rn AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
               ORDER BY cos_sim DESC, vec_id ASC) AS rn FROM scored)
    WHERE rn <= 5
    """,
    _SEC,
    "IVF ANN routed through a TRAINED coarse quantizer: the "
    "deterministic k-means centroids (llm_kmeans) replace the "
    "training-free lowest-id pick — the composition a production "
    "index build runs (train on a sample → quantize the corpus → "
    "route probes). Same plan shape as llm_knn_ivf; the fixed-point "
    "centroid math keeps the whole chain oracle-replayable.",
)
def llm_knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, n_clusters=8, refine_iters=1)
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return similarity.ivf_topk(emb, probes, k=5, n_probe=2, centroids=cents)


@declare(
    "llm_unigram_lm",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
    freq AS (SELECT token, (CAST(cnt AS HUGEINT) * 1000000) // total AS freq_micro
             FROM vocab, tot)
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(freq_micro) AS BIGINT) // COUNT(*) AS lm_micro
    FROM tok JOIN freq USING (token)
    GROUP BY doc_id
    """,
    _SEC,
    "Unigram-LM quality score (CCNet-style, self-trained): each doc "
    "scored by the mean corpus-frequency of its own tokens, in exact "
    "integer micro-units — rare-token noise (mojibake, OCR junk, hash "
    "boilerplate) ranks low without any external model. One vocab "
    "aggregation, a broadcast (or bucketed, at 10⁷⁺-term) frequency "
    "join, one per-doc aggregation; no floats anywhere, so scores are "
    "engine- and retry-stable.",
)
def llm_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.unigram_lm_score(load(spark, sf_dir, "documents"))


@declare(
    "llm_bigram_lm",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(2, len(t) + 1),
                                   i -> struct_pack(w1 := t[i-1], w2 := t[i]))) AS b
      FROM toks),
    bx AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
    uni AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    uc AS (SELECT tok, COUNT(*) AS ucnt FROM uni GROUP BY tok),
    bgc AS (SELECT w1, w2, COUNT(*) AS bc FROM bx GROUP BY w1, w2),
    sc AS (
      SELECT doc_id, (CAST(bc AS HUGEINT) * 1000000) // ucnt AS cm
      FROM bx JOIN bgc USING (w1, w2) JOIN uc ON uc.tok = bx.w1)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(cm) AS BIGINT) // COUNT(*) AS lm2_micro
    FROM sc GROUP BY doc_id
    """,
    _SEC,
    "Bigram conditional-probability quality score: P(w_i | w_{i-1}) "
    "per transition in exact integer micro-units, per-doc integer "
    "mean — catches common-tokens-in-implausible-ORDER junk the "
    "unigram score cannot. Two count aggregations + broadcastable "
    "(bucketed at 10⁸-bigram scale) joins; one per-doc aggregation.",
)
def llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.bigram_lm_score(load(spark, sf_dir, "documents"))


@declare(
    "llm_stratified_n",
    """
    WITH ranked AS (
      SELECT doc_id, source, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source, lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':strat:v1'), doc_id
             ) AS rn
      FROM documents)
    SELECT doc_id, source, lang FROM ranked WHERE rn <= 5
    """,
    _SEC,
    "Exactly-n-per-stratum sample (balanced eval sets): rank each "
    "(source, lang) stratum by md5(id) and keep the first 5 — "
    "deterministic across engines/retries, and a larger n EXTENDS "
    "the sample (prefix property) instead of resampling. One window "
    "partitioned by the strata; partition-parallel at any corpus "
    "size.",
)
def llm_stratified_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return sampling.stratified_n(docs, ["source", "lang"], 5)


@declare(
    "llm_markup_strip",
    """
    WITH wrapped AS (
      SELECT doc_id,
             '<html><body class="doc">' ||
             replace(text, ' ', ' <b>&amp;</b> ') ||
             '</body></html>' AS raw,
             text
      FROM documents),
    cleaned AS (
      SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(raw, '<[a-zA-Z/!?][^>]*>', ' ', 'g'),
                 '&amp;', '&', 'g'),
               '\\s+', ' ', 'g')) AS clean_text
      FROM wrapped)
    SELECT doc_id,
           (clean_text = replace(text, ' ', ' & ')) AS tags_gone,
           CAST(len(text) AS BIGINT) AS n_orig,
           CAST(len(clean_text) AS BIGINT) AS n_clean
    FROM cleaned
    """,
    _SEC,
    "Markup stripping (web-corpus boilerplate fast path): HTML tags "
    "out, entities decoded, whitespace collapsed — one map-side JVM "
    "regexp chain, no Python UDF. The fixture manufactures markup "
    "around known text, so the oracle can assert the EXACT round-"
    "trip (tags_gone), not just run the regex: a wrong pattern "
    "flips booleans and fails the hash.",
)
def llm_markup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    wrapped = docs.withColumn(
        "raw",
        F.concat(
            F.lit('<html><body class="doc">'),
            F.regexp_replace("text", " ", " <b>&amp;</b> "),
            F.lit("</body></html>"),
        ),
    )
    cleaned = textstats.strip_markup(wrapped, "raw")
    return cleaned.select(
        "doc_id",
        (
            F.col("clean_text") == F.regexp_replace("text", " ", " & ")
        ).alias("tags_gone"),
        F.length("text").cast("long").alias("n_orig"),
        F.length("clean_text").cast("long").alias("n_clean"),
    )


@declare(
    "mm_audio_rms",
    """
    WITH d AS (
      SELECT doc_id, 800 + (doc_id % 5) * 160 AS n FROM documents
    ), fr AS (
      SELECT d.doc_id, f.range AS frame_idx
      FROM d, range(0, 9) f
      WHERE f.range < d.n // 160
    ), e AS (
      SELECT fr.doc_id, fr.frame_idx,
             SUM(
               ((((fr.doc_id * 7 + (fr.frame_idx * 160 + i.range) * 13) % 4096) - 2048)
                * (((fr.doc_id * 7 + (fr.frame_idx * 160 + i.range) * 13) % 4096) - 2048))
             ) AS energy
      FROM fr, range(0, 160) i
      GROUP BY fr.doc_id, fr.frame_idx
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(energy AS BIGINT) AS energy
    FROM e
    """,
    _SEC,
    "Frame-level audio energy through the REAL WAV decode kernel: "
    "per-10ms-frame sum of squared int16 samples — the front half of "
    "every VAD / loudness-normalization stage. Frames explode AFTER "
    "decode inside the Arrow kernel, so each binary payload crosses "
    "the Python boundary exactly once; exact integers, analytically "
    "hash-verified against the closed-form sample pattern.",
)
def mm_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_wav_payload(docs)
    return multimodal.decode_wav_rms_frames(payloads)


@declare(
    "mm_video_motion",
    """
    WITH d AS (
      SELECT doc_id,
             4 + doc_id % 3 AS w,
             4 + doc_id % 2 AS h,
             3 + doc_id % 4 AS nf
      FROM documents
    ), pr AS (
      SELECT d.doc_id, d.w, d.h, f.range AS frame_pair
      FROM d, range(0, 6) f
      WHERE f.range < d.nf - 1
    ), m AS (
      SELECT pr.doc_id, pr.frame_pair,
             SUM(abs(
               ((pr.doc_id * 17 + (pr.frame_pair + 1) * 29 + i.range * 3) % 256)
               - ((pr.doc_id * 17 + pr.frame_pair * 29 + i.range * 3) % 256)
             )) AS motion
      FROM pr, range(0, 30) i
      WHERE i.range < pr.w * pr.h
      GROUP BY pr.doc_id, pr.frame_pair
    )
    SELECT doc_id, CAST(frame_pair AS INT) AS frame_pair,
           CAST(motion AS BIGINT) AS motion
    FROM m
    """,
    _SEC,
    "Frame-to-frame motion energy through the REAL Y4M decode "
    "kernel: sum |Y(f+1) − Y(f)| per consecutive luma pair — the "
    "scene-cut / static-clip signal every video curation pipeline "
    "filters on. Exact integers, hash-verified analytically from "
    "the fixture's closed-form plane bytes.",
)
def mm_video_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_y4m_payload(docs)
    return multimodal.decode_y4m_motion(payloads)


def _obpe_ctes(n_merges: int) -> list:
    """Chained-CTE DuckDB replay of bpe.bpe_train: stage k counts
    adjacent symbol pairs, takes the (count desc, pair asc) top-1,
    and applies the literal non-overlapping replace — MATERIALIZED so
    the k-deep chain stays linear, not exponentially inlined. The
    word column rides along so encode-side oracles can join back."""
    toks = "string_split(trim(sym), ' ')"
    pairs = (
        f"list_transform(range(2, len({toks}) + 1), "
        f"i -> {toks}[i-1] || ' ' || {toks}[i])"
    )
    ctes = [
        "w AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM ("
        "SELECT unnest(string_split(text, ' ')) AS word FROM documents"
        ") GROUP BY word)",
        "v0 AS MATERIALIZED (SELECT word, cnt, ' ' || "
        "array_to_string(string_split(word, ''), ' ') || ' ' AS sym FROM w)",
    ]
    for k in range(n_merges):
        ctes.append(
            f"p{k} AS MATERIALIZED (SELECT pr, CAST(SUM(cnt) AS BIGINT) AS n "
            f"FROM (SELECT cnt, unnest({pairs}) AS pr FROM v{k} "
            f"WHERE len({toks}) >= 2) GROUP BY pr)"
        )
        ctes.append(
            f"t{k} AS MATERIALIZED (SELECT pr, n FROM p{k} "
            f"ORDER BY n DESC, pr LIMIT 1)"
        )
        ctes.append(
            f"v{k + 1} AS MATERIALIZED (SELECT word, cnt, "
            f"replace(sym, ' ' || t.pr || ' ', "
            f"' ' || replace(t.pr, ' ', '') || ' ') AS sym "
            f"FROM v{k}, t{k} t)"
        )
    return ctes


def _obpe_sql(n_merges: int) -> str:
    sel = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS step, pr AS pair, n FROM t{k}"
        for k in range(n_merges)
    )
    return "WITH " + ",\n".join(_obpe_ctes(n_merges)) + "\n" + sel


#: (id(spark), sf_dir, n_merges) → (spark, [(step, pair, n), ...]).
#: BPE training is deterministic (lexicographic tie-break), so the
#: trained artifact is a pure function of (corpus, n_merges) — and in
#: production the tokenizer is trained ONCE and shipped to every
#: consumer. Three declared queries (train / encode / fertility)
#: consume the same 20-merge artifact; retraining per query would
#: triple the 20-sequential-job training cost for bit-identical
#: output. The session object is held in the value to guard against
#: id() reuse (same pattern as queries.__init__._LOAD_CACHE).
_BPE_CACHE: dict = {}


def _trained_merges(spark: SparkSession, sf_dir: str, n_merges: int = 20):
    """Rows of the trained merge table, memoized per (session, corpus)."""
    from configdrivendatapipeline_spark.llm.bpe import bpe_train_rows

    key = (id(spark), sf_dir, n_merges)
    hit = _BPE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    rows = bpe_train_rows(load(spark, sf_dir, "documents"), n_merges=n_merges)
    _BPE_CACHE[key] = (spark, rows)
    return rows


@declare(
    "llm_bpe_train",
    _obpe_sql(20),
    _SEC,
    "BPE vocabulary TRAINING on the corpus — the tokenizer-building "
    "step of an LLM pipeline: 20 merges learned from character-level "
    "symbols, most-frequent pair first, lexicographic tie-break. The "
    "corpus is scanned ONCE (word-count aggregation); every merge "
    "iteration runs on the weighted vocab (10⁵–10⁷ rows at web "
    "scale, never corpus-sized), mirroring the k-means loop shape. "
    "Merge application is literal left-to-right non-overlapping "
    "replace — semantics identical in Spark and DuckDB, so the "
    "entire 20-step training run is hash-verified stage by stage.",
)
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(
        _trained_merges(spark, sf_dir, 20), "step INT, pair STRING, n BIGINT"
    )


@declare(
    "llm_bpe_encode",
    "WITH "
    + ",\n".join(_obpe_ctes(20))
    + """,
    dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT dw.doc_id, COUNT(*) AS n_words,
           CAST(SUM(len(string_split(trim(v.sym), ' '))) AS BIGINT)
             AS n_bpe_tokens
    FROM dw JOIN v20 v ON v.word = dw.word
    GROUP BY dw.doc_id
    """,
    _SEC,
    "BPE ENCODE with the corpus-trained merges: per-doc token counts "
    "after applying all 20 learned merges — the sizing pass context "
    "packing and cost estimation need. The merge chain is evaluated "
    "on the DISTINCT word table only (vocab-sized), then a broadcast "
    "word → count map joins back to the corpus, so encoding cost "
    "scales with corpus size, never with vocab × corpus.",
)
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm.bpe import bpe_encode_counts

    docs = load(spark, sf_dir, "documents")
    merges = [pr for _, pr, _ in _trained_merges(spark, sf_dir, 20)]
    return bpe_encode_counts(docs, merges)


@declare(
    "llm_curation_verdict",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
    freq AS (SELECT token, (CAST(cnt AS HUGEINT) * 1000000) // total AS freq_micro
             FROM vocab, tot),
    sc AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(freq_micro) AS BIGINT) // COUNT(*) AS lm_micro
      FROM tok JOIN freq USING (token) GROUP BY doc_id)
    SELECT doc_id, n_tokens, lm_micro,
           (n_tokens >= 20 AND lm_micro >= 33100) AS keep,
           concat_ws(',',
             CASE WHEN n_tokens < 20 THEN 'short_doc' END,
             CASE WHEN lm_micro < 33100 THEN 'low_lm' END) AS reasons
    FROM sc
    """,
    _SEC,
    "Curation verdict — the decision layer every filter feeds: each "
    "doc gets keep/drop plus an auditable machine-readable reason "
    "list (short_doc, low_lm), composed from the exact-integer "
    "signals. Dropping WITH reasons is what makes a corpus refresh "
    "reviewable — a bare filter can't tell you what a threshold "
    "change would do. Same two aggregations as the LM score; the "
    "verdict itself is map-side.",
)
def llm_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = textstats.unigram_lm_score(load(spark, sf_dir, "documents"))
    return scored.select(
        "doc_id",
        "n_tokens",
        "lm_micro",
        ((F.col("n_tokens") >= 20) & (F.col("lm_micro") >= 33100)).alias("keep"),
        F.concat_ws(
            ",",
            F.when(F.col("n_tokens") < 20, "short_doc"),
            F.when(F.col("lm_micro") < 33100, "low_lm"),
        ).alias("reasons"),
    )


_OCENT_COS = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * c.cmean[i])), (s, x) -> s + x) / "
    "(sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))), "
    "(s, x) -> s + x)) * "
    "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> c.cmean[i] * c.cmean[i])), (s, x) -> s + x)))"
)


@declare(
    "llm_embed_outliers",
    f"""
    WITH qex AS (
      SELECT label, r.i AS dim,
             CAST(FLOOR(CAST(embedding[r.i] AS DOUBLE) * 1048576) AS BIGINT)
               AS qv
      FROM embeddings CROSS JOIN range(1, 65) r(i)),
    comp AS (
      SELECT label, dim,
             CAST(SUM(qv) AS DOUBLE) / (COUNT(*) * 1048576) AS mean
      FROM qex GROUP BY label, dim),
    cents AS (
      SELECT label, list(mean ORDER BY dim) AS cmean
      FROM comp GROUP BY label),
    coss AS (
      SELECT e.vec_id, e.label, {_OCENT_COS} AS cs
      FROM embeddings e JOIN cents c USING (label))
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           ROUND(cs, 6) + 0.0 AS cos_centroid,
           (cs < 0.0) AS is_outlier
    FROM coss
    """,
    _SEC,
    "Embedding-space outlier detection: each vector scored by cosine "
    "to its OWN label's centroid (2^-20 fixed-point mean — exact "
    "integer sums, order-independent like k-means refinement); "
    "vectors below 0 flag as mislabeled / off-distribution — the "
    "semantic quality gate text heuristics can't express. One "
    "explode+aggregate for centroids, broadcast join, map-side "
    "cosine; nothing pairwise.",
)
def llm_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.label_outliers(load(spark, sf_dir, "embeddings"))


@declare(
    "llm_fuzzy_match",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM names a JOIN names b
        ON substr(a.p_name, 1, 3) = substr(b.p_name, 1, 3)
       AND a.p_name < b.p_name
       AND abs(len(a.p_name) - len(b.p_name)) <= 2)
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
    FROM blocked
    WHERE levenshtein(name_a, name_b) <= 3
    """,
    _SEC,
    "Fuzzy string matching (entity-resolution verify step): distinct "
    "names self-matched at edit distance ≤ 3, with prefix + length-"
    "band BLOCKING so candidates are equi-join-bounded — the classic "
    "block-then-verify shape; levenshtein never runs on the raw "
    "cross product (O(n²) at any scale). Production adds more "
    "blocking keys (phonetic, q-gram) the same way; the plan shape "
    "does not change.",
)
def llm_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = load(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.substring("p_name", 1, 3).alias("blk"),
        F.length("p_name").alias("la"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.substring("p_name", 1, 3).alias("blk"),
        F.length("p_name").alias("lb"),
    )
    cand = a.join(b, "blk").filter(
        (F.col("name_a") < F.col("name_b"))
        & (F.abs(F.col("la") - F.col("lb")) <= 2)
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist")
    )


@declare(
    "llm_url_filter",
    """
    WITH urls AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' ||
               CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url,
             source, lang
      FROM documents),
    parsed AS (
      SELECT doc_id, url,
             regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
             regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host,
             regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
             regexp_extract(url, 'lang=([a-z]+)', 1) AS lang_param
      FROM urls)
    SELECT doc_id, host, path, lang_param
    FROM parsed
    WHERE scheme = 'https'
      AND host NOT IN ('src0.example.com', 'src13.example.com')
    """,
    _SEC,
    "URL parsing + domain blocklist — the first gate of every web "
    "corpus (CommonCrawl pipelines drop whole domains before reading "
    "a byte of body text): scheme/host/path/param extraction via "
    "anchored regexes that run identically in both engines (no "
    "parse_url dependency), then a NOT IN blocklist that broadcasts "
    "at any blocklist size. Pure map-side; at 100 TB this predicate "
    "belongs in the scan filter, which is exactly where Catalyst "
    "pushes it.",
)
def llm_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?lang="),
            F.col("lang"),
        ).alias("url"),
    )
    parsed = urls.select(
        "doc_id",
        F.regexp_extract("url", r"^([a-z]+)://", 1).alias("scheme"),
        F.regexp_extract("url", r"^[a-z]+://([^/]+)/", 1).alias("host"),
        F.regexp_extract("url", r"^[a-z]+://[^/]+(/[^?]*)", 1).alias("path"),
        F.regexp_extract("url", r"lang=([a-z]+)", 1).alias("lang_param"),
    )
    return parsed.filter(
        (F.col("scheme") == "https")
        & ~F.col("host").isin("src0.example.com", "src13.example.com")
    ).select("doc_id", "host", "path", "lang_param")


@declare(
    "llm_chat_template",
    """
    SELECT doc_id,
           '<|system|>You are a helpful assistant.<|end|>' ||
           '<|user|>Summarize the following document (' ||
           CAST(len(string_split(text, ' ')) AS VARCHAR) ||
           ' words):\n' || text || '<|end|><|assistant|>' AS prompt,
           CAST(len(string_split(text, ' ')) AS BIGINT) + 12 AS approx_tokens
    FROM documents
    WHERE lang = 'en'
    """,
    _SEC,
    "Chat-template rendering — the SFT/eval data-prep step that "
    "turns raw documents into model-ready prompt strings with role "
    "markers and a token budget estimate. Pure map-side string "
    "assembly (template literals + per-row fields), so at 100 TB it "
    "rides the same scan as any projection; budget arithmetic stays "
    "integer.",
)
def llm_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    n_words = F.size(F.split("text", " ")).cast("long")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("<|system|>You are a helpful assistant.<|end|>"),
            F.lit("<|user|>Summarize the following document ("),
            n_words.cast("string"),
            F.lit(" words):\n"),
            F.col("text"),
            F.lit("<|end|><|assistant|>"),
        ).alias("prompt"),
        (n_words + 12).alias("approx_tokens"),
    )


def _ogray(r: str, c: str) -> str:
    base = f"(doc_id * 31 + ({r}) * 7 + ({c}) * 3)"
    return (
        f"(({base} % 256) + (({base} + 11) % 256) + (({base} + 22) % 256)) // 3"
    )


@declare(
    "mm_image_phash",
    f"""
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM documents),
    cells AS (
      SELECT d.doc_id, d.w, d.h, i.range AS i, j.range AS j,
             {_ogray('(i.range * h) // 8', '(j.range * w) // 8')} AS g
      FROM d, range(0, 8) i, range(0, 8) j),
    stats AS (
      SELECT doc_id, CAST(SUM(g) AS BIGINT) // 64 AS mean
      FROM cells GROUP BY doc_id),
    bits AS (
      SELECT c.doc_id,
             CASE WHEN c.g > s.mean THEN 1 ELSE 0 END AS b,
             c.i * 8 + c.j AS k
      FROM cells c JOIN stats s USING (doc_id))
    SELECT doc_id,
           CAST(SUM(CASE WHEN k >= 32
                    THEN CAST(b AS BIGINT) << CAST(k - 32 AS INT)
                    ELSE 0 END) AS BIGINT) AS phash_hi,
           CAST(SUM(CASE WHEN k < 32
                    THEN CAST(b AS BIGINT) << CAST(k AS INT)
                    ELSE 0 END) AS BIGINT) AS phash_lo,
           CAST(64 - SUM(b) AS INT) AS n_dark
    FROM bits GROUP BY doc_id
    """,
    _SEC,
    "Perceptual average-hash through the REAL PPM decode kernel: "
    "integer gray, exact 8×8 nearest-neighbor downsample, mean "
    "threshold, row-major pack into two 32-bit halves (a signed "
    "64-bit pack would overflow on bit 63 in BOTH engines) — the "
    "resize-robust image "
    "near-dup signature (join on hash, or hamming-band for near). "
    "8 bytes per image regardless of resolution; the oracle "
    "recomputes every bit analytically from the fixture's pixel "
    "closed form.",
)
def mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_ppm_payload(docs)
    return multimodal.ppm_ahash(payloads)


@declare(
    "mm_audio_fingerprint",
    """
    WITH d AS (
      SELECT doc_id, 800 + (doc_id % 5) * 160 AS n FROM documents
    ), fr AS (
      SELECT d.doc_id, d.n // 160 AS n_frames, f.range AS frame_idx
      FROM d, range(0, 9) f
      WHERE f.range < d.n // 160
    ), e AS (
      SELECT fr.doc_id, fr.n_frames, fr.frame_idx,
             SUM(
               ((((fr.doc_id * 7 + (fr.frame_idx * 160 + i.range) * 13) % 4096) - 2048)
                * (((fr.doc_id * 7 + (fr.frame_idx * 160 + i.range) * 13) % 4096) - 2048))
             ) AS energy
      FROM fr, range(0, 160) i
      GROUP BY fr.doc_id, fr.n_frames, fr.frame_idx
    ), deltas AS (
      SELECT a.doc_id, a.n_frames, a.frame_idx AS k,
             CASE WHEN b.energy > a.energy THEN 1 ELSE 0 END AS bit
      FROM e a JOIN e b
        ON b.doc_id = a.doc_id AND b.frame_idx = a.frame_idx + 1)
    SELECT doc_id, CAST(n_frames AS INT) AS n_frames,
           CAST(SUM(CAST(bit AS BIGINT) << CAST(k AS INT)) AS BIGINT) AS afp
    FROM deltas GROUP BY doc_id, n_frames
    """,
    _SEC,
    "Acoustic fingerprint via the real WAV decode kernel: per-frame "
    "energy deltas packed as sign bits — gain-invariant (scaling "
    "samples preserves every comparison), which is why audio dedup "
    "keys on deltas, not levels. Bit-exact analytic oracle from the "
    "closed-form sample pattern, like the image phash.",
)
def mm_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_wav_payload(docs)
    return multimodal.wav_fingerprint(payloads)


@declare(
    "llm_dataset_card",
    """
    WITH base AS (
      SELECT doc_id, source, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5(text) AS content_hash
      FROM documents),
    per_source AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             COUNT(DISTINCT content_hash) AS n_unique,
             COUNT(*) FILTER (WHERE lang = 'en') AS n_en
      FROM base GROUP BY source)
    SELECT source, n_docs, total_tokens,
           ((n_docs - n_unique) * 1000000) // n_docs AS dup_rate_micro,
           (n_en * 1000000) // n_docs AS en_share_micro
    FROM per_source
    """,
    _SEC,
    "Dataset card — the per-source accounting table a corpus release "
    "ships: document and token totals, exact-duplicate rate (content "
    "hash) and language share, all in exact integer micro-units. One "
    "scan, one aggregation per source; the report any mixture "
    "planner, dedup budget or datasheet starts from.",
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.md5("text").alias("content_hash"),
    )
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("content_hash").alias("n_unique"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_en"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "total_tokens",
        F.expr("((n_docs - n_unique) * 1000000) div n_docs").alias(
            "dup_rate_micro"
        ),
        F.expr("(n_en * 1000000) div n_docs").alias("en_share_micro"),
    )


@declare(
    "llm_char_stats",
    """
    SELECT doc_id,
           CAST(len(text) AS BIGINT) AS n_chars,
           CAST(len(list_distinct(string_split(text, ''))) AS BIGINT)
             AS distinct_chars,
           (CAST(len(list_distinct(string_split(text, ''))) AS BIGINT)
             * 1000000) // len(text) AS char_diversity_micro,
           (CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
             AS BIGINT) * 1000000) // len(text) AS digit_share_micro,
           (CAST(len(text) - len(regexp_replace(text, ' ', '', 'g'))
             AS BIGINT) * 1000000) // len(text) AS space_share_micro
    FROM documents
    WHERE len(text) > 0
    """,
    _SEC,
    "Character-level quality signals: alphabet diversity (distinct "
    "chars / length — near-zero for aaaa-spam, near-max for base64 "
    "blobs), digit and whitespace shares, all exact integer "
    "micro-units. The log-free stand-in for character entropy: "
    "IEEE log() is not bit-identical across engines, integer ratios "
    "are — same junk caught, zero hash risk. Pure map-side.",
)
def llm_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    # Integer `div` everywhere, never double `/` + cast: exact on
    # longs at any corpus size (house discipline).
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.array_distinct(F.split("text", ""))).cast("long").alias(
            "distinct_chars"
        ),
        F.expr(
            "(CAST(size(array_distinct(split(text, ''))) AS BIGINT) * 1000000)"
            " div length(text)"
        ).alias("char_diversity_micro"),
        F.expr(
            "(CAST(length(text) - length(regexp_replace(text, '[0-9]', ''))"
            " AS BIGINT) * 1000000) div length(text)"
        ).alias("digit_share_micro"),
        F.expr(
            "(CAST(length(text) - length(regexp_replace(text, ' ', ''))"
            " AS BIGINT) * 1000000) div length(text)"
        ).alias("space_share_micro"),
    )


@declare(
    "llm_ngram_novelty",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id,
            unnest(list_distinct(list_transform(
              range(0, greatest(len(toks) - 3, 0) + 1),
              i -> array_to_string(toks[i+1:i+3], ' ')))) AS gram
          FROM d),
    gdf AS (SELECT gram, COUNT(*) AS n_docs FROM s GROUP BY gram)
    SELECT s.doc_id,
           COUNT(*) AS n_grams,
           COUNT(*) FILTER (WHERE gdf.n_docs = 1) AS n_novel,
           (COUNT(*) FILTER (WHERE gdf.n_docs = 1) * 1000000)
             // COUNT(*) AS novelty_micro
    FROM s JOIN gdf USING (gram)
    GROUP BY s.doc_id
    """,
    _SEC,
    "N-gram novelty: the share of a document's distinct 3-gram "
    "shingles that appear in NO other document — the corpus-"
    "diversity / memorization-risk signal (near-zero novelty means "
    "the doc is stitched from boilerplate the model will see "
    "hundreds of times). One shingle explode, one gram-frequency "
    "aggregation, one broadcastable join back; exact integer "
    "micro-units.",
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A novel gram (n_docs = 1) belongs to exactly ONE document, so
    # min(doc_id) inside the gram-frequency aggregate IS that owner —
    # no gram→doc join-back and no vocabulary-sized broadcast (the
    # previous shape broadcast the full gram-frequency table and
    # re-joined every exploded gram row; a 100 TB corpus's shingle
    # vocabulary neither broadcasts nor needs to). Per-doc gram counts
    # come straight off the shingle array (size(sh) == exploded row
    # count: sh is distinct, explode drops only empty/null arrays —
    # the size > 0 filter keeps that exact semantics).
    docs = dedup.with_shingles(
        load(spark, sf_dir, "documents"), "text", k=3, out="sh"
    )
    sizes = docs.select(
        "doc_id", F.size("sh").cast("long").alias("n_grams")
    ).filter(F.col("n_grams") > 0)
    gdf = (
        docs.select("doc_id", F.explode("sh").alias("gram"))
        .groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("__owner"),
        )
    )
    novel = (
        gdf.filter(F.col("n_docs") == 1)
        .groupBy(F.col("__owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        sizes.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("(n_novel * 1000000) div n_grams").alias("novelty_micro"),
        )
    )


@declare(
    "llm_license_filter",
    """
    WITH staged AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 11 = 0
                  THEN 'Licensed under the Apache License, Version 2.0. ' || text
                  ELSE text END AS body
      FROM documents)
    SELECT doc_id, source,
           regexp_matches(body,
             '(?i)(licensed under|all rights reserved|creative commons|\\bGPL\\b)')
             AS has_license,
           (doc_id % 11 = 0) AS expected
    FROM staged
    """,
    _SEC,
    "License/copyright detection — the compliance gate a code/text "
    "corpus runs before training: a case-insensitive pattern bank "
    "over the body, map-side (JVM regex, pushdown-eligible). The "
    "fixture injects a license header into every 11th doc, and the "
    "oracle emits BOTH the detector verdict and the known ground "
    "truth — a false positive or miss diverges the columns and "
    "fails the hash.",
)
def llm_license_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    body = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.lit("Licensed under the Apache License, Version 2.0. "),
            F.col("text"),
        ),
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        "source",
        body.rlike(
            r"(?i)(licensed under|all rights reserved|creative commons|\bGPL\b)"
        ).alias("has_license"),
        (F.col("doc_id") % 11 == 0).alias("expected"),
    )


@declare(
    "llm_topic_keywords",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
    per_src AS (
      SELECT source, term, COUNT(*) AS src_cnt FROM tok GROUP BY source, term),
    src_tot AS (
      SELECT source, CAST(SUM(src_cnt) AS BIGINT) AS src_total
      FROM per_src GROUP BY source),
    corpus AS (
      SELECT term, CAST(SUM(src_cnt) AS BIGINT) AS all_cnt FROM per_src
      GROUP BY term),
    all_tot AS (SELECT CAST(SUM(all_cnt) AS BIGINT) AS total FROM corpus),
    lifted AS (
      SELECT p.source, p.term,
             CAST((CAST(p.src_cnt AS HUGEINT) * t.total * 1000000)
               // (CAST(s.src_total AS HUGEINT) * c.all_cnt)
               AS BIGINT) AS lift_micro
      FROM per_src p
      JOIN src_tot s USING (source)
      JOIN corpus c USING (term)
      CROSS JOIN all_tot t),
    ranked AS (
      SELECT source, term, lift_micro,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY lift_micro DESC, term) AS rn
      FROM lifted)
    SELECT source, term, lift_micro, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= 3
    """,
    _SEC,
    "Per-source distinguishing terms by LIFT — term share within the "
    "source over share in the whole corpus, exact integer micro-"
    "units — the what-is-this-slice-about summary a corpus audit "
    "reads first (TF-IDF's idf answers rarity; lift answers "
    "OVER-representation). Two aggregations, broadcastable joins, "
    "one source-partitioned top-3 window.",
)
def llm_topic_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    per_src = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("src_cnt")
    )
    src_tot = per_src.groupBy("source").agg(
        F.sum("src_cnt").alias("src_total")
    )
    corpus = per_src.groupBy("term").agg(F.sum("src_cnt").alias("all_cnt"))
    all_tot = corpus.agg(F.sum("all_cnt").alias("total"))
    lifted = (
        per_src.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus), "term")
        .crossJoin(F.broadcast(all_tot))
        .select(
            "source",
            "term",
            # 128-bit intermediates (see skew_stats): both the
            # numerator (src_cnt·total·1e6) and denominator
            # (src_total·all_cnt) wrap BIGINT at corpus-scale token
            # counts; the lift itself fits
            F.expr(
                "CAST((CAST(src_cnt AS DECIMAL(38,0)) * total * 1000000)"
                " div (CAST(src_total AS DECIMAL(38,0)) * all_cnt)"
                " AS BIGINT)"
            ).alias("lift_micro"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("lift_micro").desc(), F.col("term")
    )
    return (
        lifted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("source", "term", "lift_micro", "rank")
    )


_OISQRT_S0 = "CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS BIGINT)"


@declare(
    "llm_temperature_sample",
    f"""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang),
    mn AS (SELECT MIN(n_docs) AS mn FROM c),
    cuts AS (
      SELECT lang, n_docs, (CAST(100000000 AS HUGEINT) * mn) // n_docs AS x
      FROM c CROSS JOIN mn),
    k AS (
      SELECT lang, n_docs, x, {_OISQRT_S0} AS s0 FROM cuts),
    k2 AS (
      SELECT lang, n_docs,
             s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN 1 ELSE 0 END)
                - (CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END) AS keep_cut
      FROM k),
    b AS (
      SELECT doc_id, lang,
             {_obucket_md5('doc_id', 'temp:v1', 10000)} AS bucket
      FROM documents)
    SELECT b.doc_id, b.lang, b.bucket, k2.n_docs, k2.keep_cut
    FROM b JOIN k2 USING (lang)
    WHERE b.bucket < k2.keep_cut
    """,
    _SEC,
    "Temperature-flattened mixture sampling at alpha = 1/2 (the "
    "mBERT/XLM-R multilingual rebalance): every language keeps a "
    "deterministic sqrt(n_min/n) fraction so post-sample counts are "
    "proportional to sqrt(n) — head languages stop drowning the tail. "
    "The keep cut is an EXACT integer sqrt on the 1/10000 md5 grid "
    "(floor(sqrt(double)) corrected by integer comparisons), so the "
    "per-row decision replays bit-for-bit on any engine or retry. "
    "One count aggregation + broadcast scalar min + broadcast cuts "
    "join; membership is map-side.",
)
def llm_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    return sampling.temperature_sample(load(spark, sf_dir, "documents"))


@declare(
    "llm_length_buckets",
    """
    WITH t AS (
      SELECT LEAST(CAST(len(string_split(text, ' ')) AS BIGINT), 2048)
               AS n_tokens
      FROM documents),
    b AS (
      SELECT n_tokens,
             CAST(CASE WHEN n_tokens <= 32 THEN 32
                       WHEN n_tokens <= 64 THEN 64
                       WHEN n_tokens <= 128 THEN 128
                       WHEN n_tokens <= 256 THEN 256
                       WHEN n_tokens <= 512 THEN 512
                       WHEN n_tokens <= 1024 THEN 1024
                       ELSE 2048 END AS BIGINT) AS bucket_cap
      FROM t)
    SELECT bucket_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(bucket_cap - n_tokens) AS BIGINT) AS pad_waste,
           CAST((CAST(SUM(bucket_cap - n_tokens) AS HUGEINT) * 1000000)
             // (CAST(COUNT(*) AS BIGINT) * bucket_cap) AS BIGINT) AS waste_micro
    FROM b GROUP BY bucket_cap
    """,
    _SEC,
    "Length-bucketed batching layout: every document lands in the "
    "smallest power-of-two context cap that holds it (overlong docs "
    "truncate to 2048) and each bucket reports the padding economics "
    "a dynamic-batching trainer reads — doc count, payload tokens, "
    "padded slots wasted, waste ratio in exact integer micro-units. "
    "The complement of llm_seq_packing: packing concatenates (zero "
    "padding, fragmented docs), bucketing pads whole docs with "
    "bounded waste. Map-side projection + one small aggregation.",
)
def llm_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    return sampling.length_buckets(load(spark, sf_dir, "documents"))


@declare(
    "llm_snapshot_diff",
    """
    WITH prev AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' v1' ELSE text END AS text
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 11 = 0),
    c AS (SELECT doc_id AS id, sha256(text) AS c_hash, md5(text) AS c_key
          FROM documents),
    p AS (SELECT doc_id AS id, sha256(text) AS p_hash, md5(text) AS p_key
          FROM prev)
    SELECT COALESCE(c.id, p.id) AS doc_id,
           CASE WHEN c.c_hash IS NULL THEN 'removed'
                WHEN p.p_hash IS NULL THEN 'added'
                WHEN c.c_hash <> p.p_hash THEN 'changed'
                ELSE 'unchanged' END AS status,
           COALESCE(c.c_key, p.p_key) AS content_key
    FROM c FULL OUTER JOIN p ON c.id = p.id
    """,
    _SEC,
    "Corpus snapshot diff — the dataset-versioning audit between two "
    "releases: per doc id, added / removed / changed / unchanged plus "
    "the surviving content key. The manufactured previous snapshot "
    "drops every id%7==0 doc (added now), edits every id%5==0 doc "
    "(changed), and carries id%11==0 extras (removed now). Both "
    "sides project to (id, 256-bit hash) BEFORE the full-outer join "
    "— the shuffle moves ~100-byte hash rows, never payloads; at "
    "100 TB "
    "both sides are manifest hash columns.",
)
def llm_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    prev = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v1"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1000000)
        )
    )
    return dedup.snapshot_diff(docs, prev)


def _opagerank_iter(prev: str, out: str) -> str:
    """One unrolled PageRank iteration CTE: integer micro-unit ranks,
    85% damping, mass from ``prev`` pushed along edges; the outer CAST
    collapses DuckDB's HUGEINT sum back to the BIGINT Spark emits."""
    return (
        f"{out} AS (SELECT n.id, CAST(150000 + (85 * COALESCE("
        f"SUM(r.r // dg.d), 0)) // 100 AS BIGINT) AS r "
        f"FROM n LEFT JOIN edges e ON e.dst = n.id "
        f"LEFT JOIN {prev} r ON r.id = e.src "
        f"LEFT JOIN deg dg ON dg.src = e.src "
        f"GROUP BY n.id)"
    )


@declare(
    "llm_dup_pagerank",
    f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    cb AS ({_obanded(6, 4)}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cb a JOIN cb b ON a.table_id = b.table_id
                         AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    pairs AS (
      SELECT id_a, id_b
      FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b
      WHERE {_ocos('va.embedding', 'vb.embedding')} >= 0.3),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL
              SELECT id_b AS src, id_a AS dst FROM pairs),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    n AS (SELECT vec_id AS id FROM embeddings),
    r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
    {_opagerank_iter('r0', 'i1')},
    {_opagerank_iter('i1', 'i2')},
    {_opagerank_iter('i2', 'i3')}
    SELECT n.id AS vec_id,
           CAST(COALESCE(dg.d, 0) AS BIGINT) AS n_neighbors,
           i3.r AS rank_micro
    FROM n JOIN i3 ON i3.id = n.id
    LEFT JOIN deg dg ON dg.src = n.id
    """,
    _SEC,
    "Near-dup graph centrality: 3 unrolled PageRank iterations (85% "
    "damping) over the LSH-bucketed cosine near-duplicate pair graph "
    "— the signal that picks the CANONICAL member of a duplicate "
    "neighborhood (most-connected, not lowest-id) and surfaces "
    "boilerplate/template hubs. Ranks are exact integer micro-units "
    "(float PageRank is summation-order-dependent and can never "
    "hash-match); isolated docs score the 0.15 floor. Each iteration "
    "is one O(E) edge join + aggregation — the same per-round cost "
    "shape as connected components; no driver-side data loops.",
)
def llm_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    pairs = similarity.neardup_pairs(emb, threshold=0.3).select("id_a", "id_b")
    return dedup.graph_rank(pairs, emb, id_col="vec_id", iters=3)


@declare(
    "llm_pack_manifest",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_obucket_md5('doc_id', 'pack:v1', 8)} AS shard
      FROM documents
    ), o AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tok_offset
      FROM d
    ), x AS (
      SELECT doc_id, shard, n_tokens, tok_offset,
             UNNEST(generate_series(tok_offset // 2048,
                    (tok_offset + n_tokens - 1) // 2048)) AS pack_no
      FROM o)
    SELECT doc_id, shard,
           CAST(pack_no AS BIGINT) AS pack_no,
           CAST(GREATEST(0, pack_no * 2048 - tok_offset) AS BIGINT)
             AS slice_start,
           CAST(LEAST(n_tokens, (pack_no + 1) * 2048 - tok_offset)
                - GREATEST(0, pack_no * 2048 - tok_offset) AS BIGINT)
             AS slice_len
    FROM x
    """,
    _SEC,
    "Sequence-packing writer manifest: one row per (doc, context "
    "window) fragment — which token slice of each doc lands in which "
    "2048-token pack. The table a tokenized-shard writer consumes: "
    "scan ordered by (shard, pack_no), emit slice_len tokens from "
    "slice_start of each doc. Docs straddling a cut fan out one row "
    "per pack touched (bounded explode, offsets only, never text); "
    "no shuffle beyond the packing cumsum itself.",
)
def llm_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    return sampling.pack_manifest(load(spark, sf_dir, "documents"))


@declare(
    "llm_tokenizer_fertility",
    "WITH "
    + ",\n".join(_obpe_ctes(20))
    + """,
    dw AS (SELECT d.lang, unnest(string_split(d.text, ' ')) AS word
           FROM documents d),
    g AS (
      SELECT dw.lang,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(len(string_split(trim(v.sym), ' '))) AS BIGINT)
               AS n_bpe_tokens
      FROM dw JOIN v20 v ON v.word = dw.word
      GROUP BY dw.lang)
    SELECT lang, n_words, n_bpe_tokens,
           CAST((CAST(n_bpe_tokens AS HUGEINT) * 1000000) // n_words AS BIGINT) AS fertility_micro
    FROM g
    """,
    _SEC,
    "Tokenizer fertility per language: BPE tokens per whitespace "
    "word after the 20 corpus-trained merges, exact integer "
    "micro-units — the tokenizer-equity audit of a multilingual "
    "corpus (a head-language tokenizer fragments tail languages "
    "into more tokens per word, silently taxing their context "
    "budget and compute share). Merge chain on the DISTINCT word "
    "table only, broadcast map join back, one per-language rollup.",
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm.bpe import bpe_fertility

    docs = load(spark, sf_dir, "documents")
    merges = [pr for _, pr, _ in _trained_merges(spark, sf_dir, 20)]
    return bpe_fertility(docs, merges)


@declare(
    "llm_minhash_calibration",
    _minhash_oracle(calibrate=True),
    _SEC,
    "MinHash estimator calibration audit: for every LSH candidate "
    "pair, the MinHash(32) Jaccard ESTIMATE (matching signature "
    "slots / 32) beside the EXACT shingle-set Jaccard and the signed "
    "error, in integer micro-units — the evidence that validates the "
    "(H, bands) dedup parameters before trusting their verdicts at "
    "corpus scale. Same zero-shuffle signature/shingle map stages "
    "and capped bucket pairs as the dedup path; scoring is four "
    "id-keyed joins over pair-sized data, arrays never leave the "
    "plan. Runs the md5_32 token-hash family member so the oracle "
    "replays the whole estimate bit-for-bit.",
)
def llm_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_calibration(
        load(spark, sf_dir, "documents"), token_hash="md5_32"
    )


@declare(
    "llm_embed_drift",
    f"""
    WITH v AS (
      SELECT vec_id % 2 AS half, label, embedding FROM embeddings),
    ex AS (
      SELECT label, half,
             unnest(range(0, len(embedding))) AS dim,
             unnest(list_transform(range(1, len(embedding) + 1),
                    i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576)
                              AS BIGINT))) AS fx
      FROM v),
    comp AS (
      SELECT label, dim,
             CAST(SUM(CASE WHEN half = 0 THEN fx ELSE 0 END) AS BIGINT) AS s_a,
             CAST(SUM(CASE WHEN half = 1 THEN fx ELSE 0 END) AS BIGINT) AS s_b,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM ex GROUP BY label, dim),
    lab AS (
      SELECT label,
             MAX(n_a) AS n_first, MAX(n_b) AS n_second,
             CAST(CAST(SUM(ABS(CAST(s_a AS DECIMAL(38,0)) * n_b
                               - CAST(s_b AS DECIMAL(38,0)) * n_a))
                       AS DECIMAL(38,0)) AS VARCHAR) AS drift_l1,
             list(CAST(s_a AS DOUBLE) / (n_a * 1048576.0) ORDER BY dim) AS ca,
             list(CAST(s_b AS DOUBLE) / (n_b * 1048576.0) ORDER BY dim) AS cb
      FROM comp GROUP BY label
      HAVING MAX(n_a) > 0 AND MAX(n_b) > 0)
    SELECT CAST(label AS BIGINT) AS label, n_first, n_second, drift_l1,
           {_ocos('ca', 'cb')} AS cos_drift
    FROM lab
    """,
    _SEC,
    "Embedding centroid drift between two deterministic corpus "
    "halves (id parity — snapshot dates or model versions in a real "
    "deployment): per label, the cosine between half-centroids plus "
    "the EXACT integer drift magnitude sum|s_a*n_b - s_b*n_a| on the "
    "2^-20 fixed-point grid — the embedding-space regression "
    "tripwire that fires on re-embedding or upstream shift before "
    "per-vector outlier flags do. One explode + (label, dim) "
    "aggregation + label-sized rollup; integer sums are order-"
    "independent so the magnitude hash-matches where float distances "
    "cannot.",
)
def llm_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.centroid_drift(load(spark, sf_dir, "embeddings"))


@declare(
    "llm_lsh_recall",
    _minhash_oracle(recall_t_micro=500_000),
    _SEC,
    "LSH banding recall/precision audit: the banded candidate set "
    "scored against ground truth (exact shingle-set Jaccard >= 0.5, "
    "cross-multiplied integer comparison) — the aggregate answer a "
    "dedup rollout needs before trusting (H, bands): how many true "
    "near-dups did banding surface, and how much candidate budget "
    "went to non-dups. The truth side is the deliberately-exhaustive "
    "shingle-hash pair join — a verifier for samples and small SFs, "
    "never the production path; candidates are the production "
    "banding itself. One-row result via broadcast count frames. "
    "md5_32 family member so the oracle replays everything.",
)
def llm_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_recall(
        load(spark, sf_dir, "documents"),
        threshold_micro=500_000,
        token_hash="md5_32",
    )


@declare(
    "mm_modality_router",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 29 = 0 THEN 'unknown'
                  WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             8 + doc_id % 9 AS pw, 8 + doc_id % 7 AS ph,
             800 + (doc_id % 5) * 160 AS wn,
             4 + doc_id % 3 AS vw, 4 + doc_id % 2 AS vh,
             3 + doc_id % 4 AS vf
      FROM documents)
    SELECT doc_id, modality,
           CAST(CASE modality
             WHEN 'unknown' THEN 20
             WHEN 'image' THEN 9 + (CASE WHEN pw < 10 THEN 1 ELSE 2 END)
                               + (CASE WHEN ph < 10 THEN 1 ELSE 2 END)
                               + 3 * pw * ph
             WHEN 'audio' THEN 44 + 2 * wn
             ELSE 35 + vf * (6 + 3 * vw * vh)
           END AS BIGINT) AS n_bytes
    FROM d
    """,
    _SEC,
    "Magic-byte modality router over a MIXED binary column — the "
    "first operator of any multimodal pipeline: classify every "
    "payload by container signature (P6/RIFF/YUV4MPEG2, junk rows "
    "to 'unknown') with pure JVM-side prefix comparisons — no "
    "Python, no decode, no payload copy — so routing costs bytes "
    "per row and each decode kernel then runs only on its own "
    "modality. The oracle recomputes modality AND exact payload "
    "byte size analytically from the deterministic generators "
    "(header digit-width included), so the router's classification "
    "is hash-verified end to end.",
)
def mm_modality_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return multimodal.route_modality(multimodal.attach_mixed_payload(docs))


@declare(
    "llm_dedup_canonical",
    f"""
    WITH tok AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), sizes AS (SELECT id, COUNT(*) AS n_tok FROM tok GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING COUNT(*) / (ANY_VALUE((SELECT n_tok FROM sizes WHERE id = a.id))
             + ANY_VALUE((SELECT n_tok FROM sizes WHERE id = b.id)) - COUNT(*)) >= 0.95
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), deg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
    ), walk AS (
      WITH RECURSIVE w(id, anc) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.anc FROM w JOIN edges e ON e.src = w.id
      ) SELECT * FROM w
    ), comp AS (
      SELECT id, MIN(anc) AS component FROM walk GROUP BY id
    ), n AS (SELECT doc_id AS id FROM documents),
    r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
    {_opagerank_iter('r0', 'i1')},
    {_opagerank_iter('i1', 'i2')},
    {_opagerank_iter('i2', 'i3')}
    SELECT c.id AS doc_id,
           CAST(c.component AS BIGINT) AS component,
           CAST(COALESCE(dg.d, 0) AS BIGINT) AS n_neighbors,
           i3.r AS rank_micro,
           (ROW_NUMBER() OVER (
              PARTITION BY c.component
              ORDER BY i3.r DESC, c.id) = 1) AS is_canonical
    FROM comp c
    JOIN i3 ON i3.id = c.id
    LEFT JOIN deg dg ON dg.src = c.id
    """,
    _SEC,
    "Canonical-representative selection — the dedup DECISION layer: "
    "connected components over exact-Jaccard>=0.95 edges give each "
    "doc its duplicate cluster, PageRank over the same edges scores "
    "centrality, and each cluster's canonical survivor is its "
    "highest-ranked member (most-connected — the best-quality pick "
    "where keep-lowest-id is arbitrary), ties to the lowest id. "
    "Emits every doc with its cluster, rank, and is_canonical flag "
    "so the drop set is auditable. The edge list comes from the "
    "staged shared pair table (one PPJoin build amortized across "
    "the CC family) and feeds both label propagation and the 3 rank "
    "iterations — O(E)-per-round shuffles; the per-cluster argmax "
    "is one window over cluster-sized groups.",
)
def llm_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    # The staged raw-count table shares the PPJoin pair computation
    # across the whole CC family, and the converged label table is
    # additionally memoized per session (_staged_cc_components); the
    # rank branch reads the cheap filtered parquet scan.
    pairs = dedup.filter_jaccard(
        _staged_neardup_scores(spark, sf_dir), 0.95
    ).select("id_a", "id_b")
    clusters = _staged_cc_components(spark, sf_dir)
    ranks = dedup.graph_rank(pairs, docs.select("doc_id"), id_col="doc_id")
    joined = clusters.join(ranks, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("rank_micro").desc(), F.col("doc_id")
    )
    return joined.select(
        "doc_id",
        F.col("component").cast("long").alias("component"),
        "n_neighbors",
        "rank_micro",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


@declare(
    "src_binaryfile",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 29 = 0 THEN 'unknown'
                  WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             8 + doc_id % 9 AS pw, 8 + doc_id % 7 AS ph,
             800 + (doc_id % 5) * 160 AS wn,
             4 + doc_id % 3 AS vw, 4 + doc_id % 2 AS vh,
             3 + doc_id % 4 AS vf
      FROM documents WHERE doc_id < 60)
    SELECT doc_id, modality,
           CAST(CASE modality
             WHEN 'unknown' THEN 20
             WHEN 'image' THEN 9 + (CASE WHEN pw < 10 THEN 1 ELSE 2 END)
                               + (CASE WHEN ph < 10 THEN 1 ELSE 2 END)
                               + 3 * pw * ph
             WHEN 'audio' THEN 44 + 2 * wn
             ELSE 35 + vf * (6 + 3 * vw * vh)
           END AS BIGINT) AS n_bytes
    FROM d
    """,
    "2.1",
    "File-per-object multimodal ingest through Spark's built-in "
    "binaryFile source — the lake layout where each image/audio/clip "
    "is its own file: stage one payload file per doc, read the "
    "directory as (path, length, content) rows, parse the id from "
    "the filename, and route by magic bytes — the router proves the "
    "CONTENT round-tripped, the length column proves the size. At "
    "100 TB this reader is how raw media lands before any columnar "
    "repack; partition parallelism comes from the file listing. "
    "Oracle recomputes modality and exact byte size analytically.",
)
def src_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from configdrivendatapipeline_spark.queries.streaming_q import _scratch

    stage = _scratch(sf_dir, "binary_files", src_table="documents")
    marker = stage + ".staged"
    if not os.path.exists(marker):
        docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
        os.makedirs(stage, exist_ok=True)

        # Stage EXECUTOR-SIDE (foreach, not collect): each task writes
        # its partition's payload files — the shape a real media dump
        # to shared storage has; no row data ever lands on the driver.
        def _write_payload(row) -> None:
            with open(
                os.path.join(stage, f"doc_{row['doc_id']:06d}.bin"), "wb"
            ) as f:
                f.write(bytes(row["payload"]))

        multimodal.attach_mixed_payload(docs).foreach(_write_payload)
        with open(marker, "w") as f:
            f.write("ok")
    read = (
        spark.read.format("binaryFile")
        .load(stage)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    return multimodal.route_modality(read)


@declare(
    "llm_cluster_purity",
    f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    seeds AS (SELECT vec_id AS cluster, embedding AS cemb FROM v
              ORDER BY vec_id LIMIT 8),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, s.cluster,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {_ocos_raw('v.embedding', 's.cemb')} DESC,
                            s.cluster) AS rn
        FROM v CROSS JOIN seeds s) WHERE rn = 1),
    qex AS (
      SELECT a1.cluster, r.i AS dim,
             CAST(FLOOR(CAST(v.embedding[r.i] AS DOUBLE) * 1048576)
                  AS BIGINT) AS qv
      FROM a1 JOIN v USING (vec_id) CROSS JOIN range(1, 65) AS r(i)),
    comp AS (
      SELECT cluster, dim,
             CAST(SUM(qv) AS DOUBLE) / (COUNT(*) * 1048576) AS mean
      FROM qex GROUP BY cluster, dim),
    cents AS (
      SELECT cluster, list(mean ORDER BY dim) AS cmean
      FROM comp GROUP BY cluster),
    a2 AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {_ocos_raw('v.embedding', 'c.cmean')} DESC,
                            c.cluster) AS rn
        FROM v CROSS JOIN cents c) WHERE rn = 1),
    lab AS (
      SELECT a2.cluster, e.label, CAST(COUNT(*) AS BIGINT) AS n
      FROM a2 JOIN embeddings e ON e.vec_id = a2.vec_id
      GROUP BY a2.cluster, e.label),
    tot AS (SELECT cluster, CAST(SUM(n) AS BIGINT) AS n_total
            FROM lab GROUP BY cluster),
    top AS (
      SELECT cluster, label AS majority_label, n AS n_majority FROM (
        SELECT cluster, label, n,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY n DESC, label) AS rn
        FROM lab) WHERE rn = 1)
    SELECT CAST(t.cluster AS BIGINT) AS cluster,
           CAST(p.majority_label AS BIGINT) AS majority_label,
           p.n_majority, t.n_total,
           (p.n_majority * 1000000) // t.n_total AS purity_micro
    FROM tot t JOIN top p ON p.cluster = t.cluster
    """,
    _SEC,
    "Clustering-quality evaluation: per k-means cluster, its "
    "majority ground-truth label and purity (majority share) in "
    "exact integer micro-units — the does-the-clustering-mean-"
    "anything check a cluster-then-dedup curation run reads before "
    "trusting cluster-level decisions. Reuses the deterministic "
    "k-means assignment (lowest-id seeds, fixed-point refinement) so "
    "the whole evaluation replays bit-for-bit; one (cluster, label) "
    "aggregation + a k-sized top-1 window on top.",
)
def llm_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    assign = similarity.kmeans_assign(emb, n_clusters=8, refine_iters=1).select(
        "vec_id", "cluster"
    )
    lab = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Cluster totals as a window over the SAME (cluster, label) frame
    # instead of a second aggregate joined back: the previous
    # tot ⋈ top shape referenced `lab` twice, so the whole upstream
    # k-means assignment (broadcast crossJoin + per-vector top-1
    # window) executed twice. Both windows share the cluster
    # partitioning — one shuffle, one pass, identical rows.
    w_tot = Window.partitionBy("cluster")
    w = Window.partitionBy("cluster").orderBy(F.col("n").desc(), F.col("label"))
    return (
        lab.withColumn("n_total", F.sum("n").over(w_tot))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("label").cast("long").alias("majority_label"),
            F.col("n").alias("n_majority"),
            "n_total",
            F.expr("(n * 1000000) div n_total").alias("purity_micro"),
        )
    )


@declare(
    "llm_source_overlap",
    """
    WITH d AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS gram
      FROM d),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
              FROM s GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM s a JOIN s b ON a.gram = b.gram AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT i.source_a, i.source_b, i.n_shared,
           (i.n_shared * 1000000)
             // (sa.n_grams + sb.n_grams - i.n_shared) AS jaccard_micro
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    WHERE (i.n_shared * 1000000)
          // (sa.n_grams + sb.n_grams - i.n_shared) >= 50000
    """,
    _SEC,
    "Source-pair n-gram overlap matrix: 3-shingle Jaccard between "
    "every pair of corpus sources (>= 0.05 shown) in exact integer "
    "micro-units — the source-level contamination/provenance view "
    "(two 'different' crawls sharing most shingles are one corpus "
    "counted twice; a benchmark-shaped source lighting up against "
    "everything is leakage). The join is on the DISTINCT "
    "(source, gram) inventory — grows with vocabulary, not corpus "
    "rows — and output is bounded by source-pair count.",
)
def llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
        )
    )
    # Materialize the distinct inventory once (§3.3): it feeds the
    # self-join's two sides plus TWO broadcast size frames — four
    # evaluations of the scan + shingle transform + distinct without
    # the lineage cut. The frame is (source, gram) — vocabulary-sized,
    # the corpus-snapshot scale the jaccard build already stages.
    s = (
        docs.select("source", F.explode(grams).alias("gram"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = s.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = s.select(F.col("source").alias("source_a"), "gram")
    b = s.select(F.col("source").alias("source_b"), "gram")
    inter = (
        a.join(b, ["gram"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    j = (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                     F.col("n_grams").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                     F.col("n_grams").alias("nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.expr("(n_shared * 1000000) div (na + nb - n_shared)").alias(
                "jaccard_micro"
            ),
        )
    )
    return j.filter(F.col("jaccard_micro") >= 50000).select(
        "source_a", "source_b", "n_shared", "jaccard_micro"
    )


@declare(
    "llm_cluster_sizes",
    """
    WITH tok AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), sizes AS (SELECT id, COUNT(*) AS n_tok FROM tok GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING COUNT(*) / (ANY_VALUE((SELECT n_tok FROM sizes WHERE id = a.id))
             + ANY_VALUE((SELECT n_tok FROM sizes WHERE id = b.id)) - COUNT(*)) >= 0.95
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), walk AS (
      WITH RECURSIVE w(id, anc) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.anc FROM w JOIN edges e ON e.src = w.id
      ) SELECT * FROM w
    ), comp AS (
      SELECT id, MIN(anc) AS component FROM walk GROUP BY id
    ), cs AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component),
    hist AS (
      SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
      FROM cs GROUP BY cluster_size),
    tot AS (SELECT CAST(SUM(cluster_size * n_clusters) AS BIGINT) AS n_docs
            FROM hist)
    SELECT h.cluster_size, h.n_clusters,
           CAST(h.cluster_size * h.n_clusters AS BIGINT) AS n_docs_in_size,
           CAST((CAST(h.cluster_size - 1 AS HUGEINT) * h.n_clusters
                 * 1000000) // t.n_docs AS BIGINT)
             AS removable_share_micro
    FROM hist h CROSS JOIN tot t
    """,
    _SEC,
    "Duplicate-cluster size distribution: how many clusters exist at "
    "each size and what share of the corpus each size class would "
    "shed under keep-one-per-cluster dedup — the BEFORE-running-it "
    "cost/benefit report (size-1 rows are unique docs; a giant "
    "cluster is usually boilerplate, not duplication). Rolls up the "
    "same connected components as llm_dup_clusters into a "
    "histogram-sized result; removable share is exact integer "
    "micro-units. Edges come from the staged shared pair table "
    "(one PPJoin build amortized across the CC family).",
)
def llm_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _staged_cc_components(spark, sf_dir)
    cs = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    hist = cs.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))
    tot = hist.agg(
        F.sum(F.col("cluster_size") * F.col("n_clusters")).alias("n_docs")
    )
    return hist.crossJoin(F.broadcast(tot)).select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs_in_size"),
        # 128-bit intermediate: (size-1)·n_clusters·1e6 wraps BIGINT
        # once cluster counts reach lake scale; the share fits
        F.expr(
            "CAST((CAST(cluster_size - 1 AS DECIMAL(38,0)) * n_clusters"
            " * 1000000) div n_docs AS BIGINT)"
        ).alias("removable_share_micro"),
    )


@declare(
    "llm_budget_select",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(CASE WHEN len(toks) BETWEEN 20 AND 2000 THEN 40 ELSE 0 END
              + CASE WHEN len(list_filter(toks, t ->
                       list_contains(['the','a','of','and','is'], t))) * 100
                       >= len(toks) * 2
                     AND len(list_filter(toks, t ->
                       list_contains(['the','a','of','and','is'], t))) * 100
                       <= len(toks) * 40 THEN 30 ELSE 0 END
              + CASE WHEN len(list_distinct(toks)) * 100 >= len(toks) * 30
                     THEN 30 ELSE 0 END AS BIGINT) AS quality
      FROM d),
    bands AS (
      SELECT quality, CAST(SUM(n_tokens) AS BIGINT) AS band_tokens
      FROM q GROUP BY quality),
    cb AS (
      SELECT quality, band_tokens,
             CAST(COALESCE(SUM(band_tokens) OVER (
               ORDER BY quality DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM bands),
    tot AS (SELECT CAST(SUM(band_tokens) AS BIGINT) // 2 AS budget FROM bands),
    j AS (
      SELECT q.doc_id, q.quality, q.n_tokens,
             cb.band_tokens, cb.cum_before, t.budget,
             CAST(COALESCE(SUM(q.n_tokens) OVER (
               PARTITION BY q.quality
               ORDER BY md5(CAST(q.doc_id AS VARCHAR) || ':budget:v1'), q.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS doc_cum
      FROM q JOIN cb USING (quality) CROSS JOIN tot t)
    SELECT doc_id, quality, n_tokens,
           CASE WHEN cum_before + band_tokens <= budget THEN 'full_band'
                ELSE 'partial_band' END AS keep_tier
    FROM j
    WHERE cum_before + band_tokens <= budget
       OR (cum_before < budget
           AND cum_before + doc_cum + n_tokens <= budget)
    """,
    _SEC,
    "Token-budget-constrained quality selection — the data-selection "
    "step of a compute-bounded training run: keep the highest-"
    "quality docs until half the corpus's tokens are spent. "
    "Greedy-by-quality made scale-safe by BANDING: whole quality "
    "bands are taken from the top (the band window is bounded by "
    "the 0-100 score domain at any corpus size) and only the one "
    "marginal band fills doc-by-doc in deterministic md5 order on a "
    "per-band window — a global quality sort of the corpus never "
    "happens. Exact integers end to end.",
)
def llm_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    return sampling.budget_select(load(spark, sf_dir, "documents"))


@declare(
    "llm_split_aware_dedup",
    f"""
    WITH doubled AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 4 = 0),
    assigned AS (
      SELECT doc_id, text,
             CASE WHEN {_obucket_md5('doc_id', 'split:v1', 100)} < 90
                  THEN 'train' ELSE 'test' END AS split,
             sha256(text) AS h
      FROM doubled),
    test_h AS (SELECT DISTINCT h FROM assigned WHERE split = 'test'),
    train_rank AS (
      SELECT doc_id, h,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM assigned WHERE split = 'train')
    SELECT a.doc_id, a.split,
           CASE WHEN a.split = 'test' THEN 'keep'
                WHEN t.h IS NOT NULL THEN 'drop_contaminated'
                WHEN tr.rn > 1 THEN 'drop_duplicate'
                ELSE 'keep' END AS action
    FROM assigned a
    LEFT JOIN test_h t ON a.split = 'train' AND t.h = a.h
    LEFT JOIN train_rank tr ON tr.doc_id = a.doc_id AND a.split = 'train'
    """,
    _SEC,
    "Split-aware dedup plan — the decision layer that applies dedup "
    "WITHOUT corrupting evaluation: test docs are never dropped, "
    "train docs whose content appears in test drop as contaminated "
    "(decontamination precedence), and remaining train-train "
    "duplicates keep the lowest id — naive whole-corpus dedup "
    "silently deletes eval rows or keeps the train twin of a test "
    "doc. Two hash-keyed joins and one per-content window over the "
    "train side; the planted doubled fixture exercises every action.",
)
def llm_split_aware_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from configdrivendatapipeline_spark.llm.sampling import hash_bucket

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )
    assigned = doubled.select(
        "doc_id",
        F.when(
            hash_bucket(F.col("doc_id"), "split:v1", 100) < 90, "train"
        ).otherwise("test").alias("split"),
        F.sha2("text", 256).alias("h"),
    )
    test_h = (
        assigned.filter(F.col("split") == "test").select("h").distinct()
        .withColumn("__in_test", F.lit(True))
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    train_rank = (
        assigned.filter(F.col("split") == "train")
        .select("doc_id", F.row_number().over(w).alias("rn"))
    )
    out = (
        assigned.join(
            test_h,
            (assigned.split == "train") & (assigned.h == test_h.h),
            "left",
        )
        .join(train_rank, "doc_id", "left")
    )
    action = (
        F.when(F.col("split") == "test", "keep")
        .when(F.col("__in_test").isNotNull(), "drop_contaminated")
        .when(F.col("rn") > 1, "drop_duplicate")
        .otherwise("keep")
    )
    return out.select("doc_id", "split", action.alias("action"))


@declare(
    "llm_hard_negatives",
    f"""
    WITH v AS (SELECT vec_id, label, embedding FROM embeddings),
    cb AS ({_obanded(6, 4)}),
    cbl AS (
      SELECT cb.vec_id, cb.table_id, cb.bucket, v.label
      FROM cb JOIN v ON v.vec_id = cb.vec_id),
    cand AS (
      SELECT DISTINCT a.vec_id AS anchor_id, a.label AS anchor_label,
             b.vec_id AS neg_id, b.label AS neg_label
      FROM cbl a JOIN cbl b
        ON a.table_id = b.table_id AND a.bucket = b.bucket
       AND a.label <> b.label),
    scored AS (
      SELECT c.anchor_id, c.anchor_label, c.neg_id, c.neg_label,
             {_ocos_raw('va.embedding', 'vb.embedding')} AS cs,
             ROW_NUMBER() OVER (
               PARTITION BY c.anchor_id
               ORDER BY {_ocos_raw('va.embedding', 'vb.embedding')} DESC,
                        c.neg_id) AS rn
      FROM cand c
      JOIN v va ON va.vec_id = c.anchor_id
      JOIN v vb ON vb.vec_id = c.neg_id)
    SELECT anchor_id, CAST(anchor_label AS BIGINT) AS anchor_label,
           neg_id, CAST(neg_label AS BIGINT) AS neg_label,
           ROUND(cs, 6) + 0.0 AS cos_sim
    FROM scored WHERE rn = 1
    """,
    _SEC,
    "Hard-negative mining for contrastive embedding training: each "
    "anchor's most-similar DIFFERENT-label vector, candidates from "
    "shared LSH buckets with the label inequality inside the "
    "equi-join (never an O(n^2) cross-label product), per-anchor "
    "top-1 window over the bounded candidate set — the negatives "
    "that sit just across the decision boundary and actually teach "
    "the model. Deterministic planes let the oracle replay the "
    "exact candidate set, so selection is hash-verified.",
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.hard_negatives(load(spark, sf_dir, "embeddings"))


@declare(
    "llm_triplets",
    f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    cb AS ({_obanded(6, 4)}),
    lab AS (SELECT vec_id, label FROM embeddings),
    pcand AS (
      SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS pos_id
      FROM cb a JOIN cb b ON a.table_id = b.table_id AND a.bucket = b.bucket
           JOIN lab la ON la.vec_id = a.vec_id
           JOIN lab lb ON lb.vec_id = b.vec_id
      WHERE la.label = lb.label AND a.vec_id <> b.vec_id),
    pos AS (
      SELECT anchor_id, pos_id, cos_sim AS pos_cos FROM (
        SELECT c.anchor_id, c.pos_id,
               {_ocos('va.embedding', 'vb.embedding')} AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY c.anchor_id
                 ORDER BY {_ocos('va.embedding', 'vb.embedding')} DESC,
                          c.pos_id) AS rn
        FROM pcand c JOIN v va ON va.vec_id = c.anchor_id
                     JOIN v vb ON vb.vec_id = c.pos_id)
      WHERE rn = 1),
    ncand AS (
      SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS neg_id
      FROM cb a JOIN cb b ON a.table_id = b.table_id AND a.bucket = b.bucket
           JOIN lab la ON la.vec_id = a.vec_id
           JOIN lab lb ON lb.vec_id = b.vec_id
      WHERE la.label <> lb.label),
    neg AS (
      SELECT anchor_id, neg_id, cos_sim AS neg_cos FROM (
        SELECT c.anchor_id, c.neg_id,
               {_ocos('va.embedding', 'vb.embedding')} AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY c.anchor_id
                 ORDER BY {_ocos_raw('va.embedding', 'vb.embedding')} DESC,
                          c.neg_id) AS rn
        FROM ncand c JOIN v va ON va.vec_id = c.anchor_id
                     JOIN v vb ON vb.vec_id = c.neg_id)
      WHERE rn = 1)
    SELECT p.anchor_id, p.pos_id, n.neg_id,
           p.pos_cos, n.neg_cos,
           p.pos_cos - n.neg_cos + 0.0 AS margin
    FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
    """,
    _SEC,
    "Contrastive training triplets: per anchor, the hardest same-"
    "label positive (its nearest within-label neighbor) and the "
    "hardest cross-label negative, with the cosine margin between "
    "them — the (anchor, positive, negative) table a triplet/InfoNCE "
    "fine-tune consumes, where a NEGATIVE margin pinpoints exactly "
    "the anchors the current embedding gets wrong. Both sides reuse "
    "the bounded LSH candidate machinery; one join on the anchor "
    "stitches them.",
)
def llm_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # Band the corpus ONCE for both legs: the positive (same-label
    # knn) and negative (cross-label) miners consume the identical
    # banded + norm frames, so the 24-plane banding pass and the
    # corpus scan happen once instead of four times (§3.3; the
    # untruncated plan held 16 scans — plans/r17/llm_triplets_*).
    shared = similarity.banded_norms(emb, extra=("label",))
    pos = (
        similarity.knn_join(
            emb,
            k=1,
            n_tables=6,
            planes_per_table=4,
            group_col="label",
            shared=shared,
        )
        .select(
            F.col("left_id").alias("anchor_id"),
            F.col("right_id").alias("pos_id"),
            F.col("cos_sim").alias("pos_cos"),
        )
    )
    neg = similarity.hard_negatives(emb, shared=shared).select(
        "anchor_id",
        "neg_id",
        F.col("cos_sim").alias("neg_cos"),
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "neg_id",
        "pos_cos",
        "neg_cos",
        (F.col("pos_cos") - F.col("neg_cos") + F.lit(0.0)).alias("margin"),
    )


@declare(
    "llm_curriculum",
    f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id,
             CAST(CASE WHEN len(toks) BETWEEN 20 AND 2000 THEN 40 ELSE 0 END
              + CASE WHEN len(list_filter(toks, t ->
                       list_contains(['the','a','of','and','is'], t))) * 100
                       >= len(toks) * 2
                     AND len(list_filter(toks, t ->
                       list_contains(['the','a','of','and','is'], t))) * 100
                       <= len(toks) * 40 THEN 30 ELSE 0 END
              + CASE WHEN len(list_distinct(toks)) * 100 >= len(toks) * 30
                     THEN 30 ELSE 0 END AS BIGINT) AS quality
      FROM d),
    k AS (
      SELECT doc_id, quality,
             {_obucket_md5('doc_id', 'curriculum:v1:shard', 8)} AS shard,
             md5(CAST(doc_id AS VARCHAR) || ':curriculum:v1') AS tiebreak
      FROM q)
    SELECT doc_id, quality, shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY shard
             ORDER BY quality DESC, tiebreak, doc_id) AS BIGINT) AS pos
    FROM k
    """,
    _SEC,
    "Curriculum training order: every document gets a per-shard "
    "position ordered best-quality-first with an md5 tiebreak — the "
    "easy-to-hard (here clean-to-noisy) layout curriculum-learning "
    "schedules read, built exactly like llm_shuffle's epoch "
    "permutation but with the quality score as the leading sort key "
    "so equal-quality docs still decorrelate. Per-shard windows keep "
    "the ordering partition-parallel; (shard, pos) is the on-disk "
    "layout.",
)
def llm_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from configdrivendatapipeline_spark.llm.sampling import hash_bucket
    from configdrivendatapipeline_spark.llm.textstats import quality_score

    docs = load(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "quality")
    k = q.select(
        "doc_id",
        "quality",
        hash_bucket(F.col("doc_id"), "curriculum:v1:shard", 8).alias("shard"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(":curriculum:v1"))
        ).alias("tiebreak"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("quality").desc(), F.col("tiebreak"), F.col("doc_id")
    )
    return k.select(
        "doc_id",
        "quality",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


@declare(
    "llm_oversample",
    f"""
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source, lang),
    m AS (SELECT MAX(n_docs) AS mx FROM c),
    w AS (
      SELECT c.source, c.lang,
             (m.mx * 2000000 + c.n_docs) // (2 * c.n_docs) AS up_micro
      FROM c CROSS JOIN m),
    d AS (
      SELECT doc.doc_id, doc.source, doc.lang, w.up_micro,
             w.up_micro // 1000000
               + CASE WHEN {_obucket_md5('doc.doc_id', 'oversample:v1', 1000000)}
                        < w.up_micro % 1000000 THEN 1 ELSE 0 END AS n_copies
      FROM documents doc
      JOIN w ON w.source = doc.source AND w.lang = doc.lang)
    SELECT doc_id, source, lang,
           CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_no
    FROM d WHERE n_copies > 0
    """,
    _SEC,
    "Deterministic oversampling — the UPSAMPLING half of mixture "
    "reweighting (mixture_sample downsamples; this materializes the "
    "balanced corpus): each doc repeats floor(w) times plus one "
    "extra copy when its md5 grid position falls below w's "
    "fractional part, so per-stratum expected counts hit the "
    "inverse-frequency weights exactly while every copy decision "
    "replays bit-for-bit on any engine or retry (stochastic "
    "rounding via content hash, never RNG). One aggregation + "
    "broadcast weights + a bounded per-row explode.",
)
def llm_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm.sampling import (
        hash_bucket,
        source_weights,
    )

    docs = load(spark, sf_dir, "documents")
    w = source_weights(docs, group_cols=("source", "lang")).select(
        "source", "lang", F.col("upsample_micro").alias("up_micro")
    )
    d = docs.select("doc_id", "source", "lang").join(
        F.broadcast(w), ["source", "lang"]
    )
    n_copies = F.expr("up_micro div 1000000") + F.when(
        hash_bucket(F.col("doc_id"), "oversample:v1", 1_000_000)
        < F.expr("up_micro % 1000000"),
        1,
    ).otherwise(0)
    return (
        d.withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            "lang",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("n_copies").cast("long"))
            ).alias("copy_no"),
        )
    )


@declare(
    "val_embed_norms",
    f"""
    WITH n AS (
      SELECT label, ROUND({_ONRM.format(a='embedding')}, 6) AS nrm
      FROM embeddings)
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
           CAST(COALESCE(SUM(CASE WHEN nrm < 0.000001 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_zero,
           MAX(nrm) < 2 * GREATEST(MIN(nrm), 0.000001) AS normish
    FROM n GROUP BY label
    """,
    _SEC,
    "Embedding-norm hygiene audit: per label, the vector-norm range, "
    "zero-vector count, and a normalized-ish flag (max within 2x of "
    "min) — the pre-ANN check that catches unnormalized or "
    "degenerate embeddings BEFORE cosine similarity silently "
    "misranks them (cosine of a zero vector is undefined; wildly "
    "mixed norms usually mean two encoder versions were mixed). One "
    "map-side norm + one small aggregation.",
)
def val_embed_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    nrm = F.round(
        similarity.norm(similarity.as_double("embedding")), 6
    ).alias("nrm")
    n = emb.select(F.col("label").cast("long").alias("label"), nrm)
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
        F.coalesce(
            F.sum(F.when(F.col("nrm") < 0.000001, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_zero"),
        (
            F.max("nrm")
            < 2 * F.greatest(F.min("nrm"), F.lit(0.000001))
        ).alias("normish"),
    )


@declare(
    "llm_calibration_curve",
    _minhash_oracle(calibrate=True).replace(
        """    SELECT id_a, id_b, est_micro, exact_micro,
           est_micro - exact_micro AS err_micro
    FROM (""",
        """    SELECT est_micro // 100000 AS est_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           (CAST(SUM(exact_micro) AS BIGINT) * 2 + COUNT(*))
             // (2 * COUNT(*)) AS mean_exact_micro,
           (CAST(SUM(est_micro) AS BIGINT) * 2 + COUNT(*))
             // (2 * COUNT(*)) AS mean_est_micro
    FROM (""",
    )
    + " GROUP BY est_micro // 100000",
    _SEC,
    "MinHash reliability curve: candidate pairs bucketed by estimate "
    "decile with the half-up mean EXACT Jaccard beside the mean "
    "estimate per bucket — the calibration diagram that shows "
    "WHERE on the similarity range the estimator over- or "
    "under-reads (the per-pair audit shows individual errors; this "
    "shows the systematic bias shape that picks the dedup "
    "threshold). A ten-row rollup of the calibration output.",
)
def llm_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    cal = dedup.minhash_calibration(
        load(spark, sf_dir, "documents"), token_hash="md5_32"
    )
    return (
        cal.groupBy(F.expr("est_micro div 100000").alias("est_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr(
                "(CAST(SUM(exact_micro) AS BIGINT) * 2 + COUNT(*))"
                " div (2 * COUNT(*))"
            ).alias("mean_exact_micro"),
            F.expr(
                "(CAST(SUM(est_micro) AS BIGINT) * 2 + COUNT(*))"
                " div (2 * COUNT(*))"
            ).alias("mean_est_micro"),
        )
    )


@declare(
    "llm_shard_balance",
    f"""
    WITH d AS (
      SELECT {_obucket_md5('doc_id', 'pack:v1', 8)} AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    s AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens
      FROM d GROUP BY shard),
    t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_shards FROM s)
    SELECT s.shard, s.n_docs, s.tokens,
           CAST((CAST(s.tokens AS HUGEINT) * t.n_shards * 1000000)
                // t.total AS BIGINT) AS balance_micro
    FROM s CROSS JOIN t
    """,
    _SEC,
    "Packing-shard balance audit: per shard, document and token "
    "totals plus the balance ratio vs a perfectly uniform split "
    "(1e6 = exactly fair; a hot shard is the straggler that gates "
    "the whole training epoch). The observability row the sharded "
    "layouts (shuffle, packing, curriculum) are trusted against — "
    "one aggregation + a broadcast totals frame, same shape as "
    "skew_stats but keyed on the layout's own hash shards.",
)
def llm_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm.sampling import hash_bucket

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        hash_bucket(F.col("doc_id"), "pack:v1", 8).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    s = d.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("tokens")
    )
    t = s.agg(
        F.sum("tokens").alias("total"), F.count(F.lit(1)).alias("n_shards")
    )
    return s.crossJoin(F.broadcast(t)).select(
        "shard",
        "n_docs",
        "tokens",
        # 128-bit intermediate (see skew_stats): tokens·n_shards·1e6
        # wraps BIGINT silently once per-shard tokens reach ~1e12 —
        # routine at 100 TB; the result itself always fits
        # (balance ≤ n_shards·1e6).
        F.expr(
            "CAST((CAST(tokens AS DECIMAL(38,0)) * n_shards * 1000000)"
            " div total AS BIGINT)"
        ).alias("balance_micro"),
    )


@declare(
    "llm_release_delta",
    """
    WITH prev AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' v1' ELSE text END AS text
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 11 = 0),
    c AS (SELECT doc_id AS id, sha256(text) AS h,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
          FROM documents),
    p AS (SELECT doc_id AS id, sha256(text) AS h,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
          FROM prev),
    d AS (
      SELECT COALESCE(c.id, p.id) AS id,
             CASE WHEN c.h IS NULL THEN 'removed'
                  WHEN p.h IS NULL THEN 'added'
                  WHEN c.h <> p.h THEN 'changed'
                  ELSE 'unchanged' END AS status,
             COALESCE(c.tok, 0) AS cur_tok,
             COALESCE(p.tok, 0) AS prev_tok
      FROM c FULL OUTER JOIN p ON c.id = p.id)
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(cur_tok) AS BIGINT) AS tokens_now,
           CAST(SUM(cur_tok) - SUM(prev_tok) AS BIGINT) AS token_delta
    FROM d GROUP BY status
    """,
    _SEC,
    "Release delta card: the snapshot diff rolled into the four-row "
    "accounting a corpus release note ships — per status, document "
    "counts, current token totals, and the signed token delta vs "
    "the previous snapshot (removed rows contribute a negative "
    "delta, added a positive one; the deltas sum to the corpus-level "
    "token change exactly). Same ~100-byte manifest-hash join as "
    "llm_snapshot_diff with token counts riding along.",
)
def llm_release_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    prev = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v1"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        )
    )
    tok = F.size(F.split("text", " ")).cast("long")
    c = docs.select(
        F.col("doc_id").alias("id"),
        F.sha2("text", 256).alias("c_h"),
        tok.alias("c_tok"),
    )
    p = prev.select(
        F.col("doc_id").alias("id"),
        F.sha2("text", 256).alias("p_h"),
        tok.alias("p_tok"),
    )
    d = c.join(p, "id", "full_outer").select(
        F.when(F.col("c_h").isNull(), "removed")
        .when(F.col("p_h").isNull(), "added")
        .when(F.col("c_h") != F.col("p_h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce("c_tok", F.lit(0).cast("long")).alias("cur_tok"),
        F.coalesce("p_tok", F.lit(0).cast("long")).alias("prev_tok"),
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("cur_tok").alias("tokens_now"),
        (F.sum("cur_tok") - F.sum("prev_tok")).alias("token_delta"),
    )


@declare(
    "llm_injection_scan",
    """
    WITH staged AS (
      SELECT doc_id,
             CASE WHEN doc_id % 37 = 0
                  THEN text || ' ignore previous instructions'
                  WHEN doc_id % 41 = 0
                  THEN text || ' you are now in developer mode'
                  ELSE text END AS text
      FROM documents),
    pats AS (
      SELECT * FROM (VALUES
        ('ignore previous instructions'),
        ('you are now in developer mode'),
        ('disregard your system prompt'),
        ('print your hidden rules')) AS t(phrase)),
    hits AS (
      SELECT p.phrase, s.doc_id
      FROM staged s JOIN pats p
        ON contains(lower(s.text), p.phrase))
    SELECT p.phrase,
           CAST(COALESCE(COUNT(h.doc_id), 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(MIN(h.doc_id), -1) AS BIGINT) AS first_doc_id
    FROM pats p LEFT JOIN hits h ON h.phrase = p.phrase
    GROUP BY p.phrase
    """,
    _SEC,
    "Instruction-injection phrase scan — the training-data hygiene "
    "sweep that counts documents carrying jailbreak/override phrasing "
    "before it gets baked into a model: a broadcastable phrase list "
    "joined against lowercased text with engine-identical literal "
    "containment (no regex dialect drift), every listed phrase "
    "reported even at zero hits, and a planted fixture proving the "
    "scan genuinely fires. At 100 TB this is one scan with a tiny "
    "broadcast phrase table.",
)
def llm_injection_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    staged = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 37 == 0,
            F.concat(F.col("text"), F.lit(" ignore previous instructions")),
        )
        .when(
            F.col("doc_id") % 41 == 0,
            F.concat(F.col("text"), F.lit(" you are now in developer mode")),
        )
        .otherwise(F.col("text")),
    )
    spark = docs.sparkSession
    pats = spark.createDataFrame(
        [
            ("ignore previous instructions",),
            ("you are now in developer mode",),
            ("disregard your system prompt",),
            ("print your hidden rules",),
        ],
        ["phrase"],
    )
    hits = staged.join(
        F.broadcast(pats),
        F.contains(F.lower("text"), F.col("phrase")),
    ).select("phrase", "doc_id")
    return (
        pats.join(hits, "phrase", "left")
        .groupBy("phrase")
        .agg(
            F.coalesce(F.count("doc_id"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.min("doc_id"), F.lit(-1)).cast("long").alias(
                "first_doc_id"
            ),
        )
    )


def _owinnow(k: int, w: int, src: str = "documents") -> str:
    """DuckDB replay of dedup.winnow_fingerprints: md5_32 token
    hashes → positional shingle mix → (hash asc, pos desc) packed
    key → per-doc window MIN → decode. Constants mirror the Spark
    side exactly."""
    m48, m32 = (1 << 48) - 1, (1 << 32) - 1
    md5_32 = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(substr(md5(s), 1, 8), ''), "
        "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))), "
        "(a, b) -> a * 16 + b)"
    )
    mixers = [((j + 1) * 2654435761) % (2**29) | 1 for j in range(k)]
    shingle = " + ".join(
        f"((coalesce(th[p + {j}], 0) * {mixers[j]}) & {m48})" for j in range(k)
    )
    return f"""
    WITH th AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '), s -> {md5_32}) AS th
      FROM {src}),
    sh AS (
      SELECT doc_id, p, CAST(({shingle}) & {m32} AS BIGINT) AS h
      FROM th, unnest(range(1, greatest(len(th) - {k}, 0) + 2)) AS t(p)
      WHERE len(th) >= 1),
    keys AS (
      SELECT doc_id, p,
             h * {1 << 21} + ({(1 << 20) - 1} - least(p, {(1 << 20) - 1}))
               AS key
      FROM sh),
    wmin AS (
      SELECT doc_id, p,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
               AS mkey,
             MAX(p) OVER (PARTITION BY doc_id) AS n_sh
      FROM keys)
    SELECT DISTINCT doc_id,
           CAST({(1 << 20) - 1} - (mkey % {1 << 21}) AS BIGINT) AS pos,
           CAST(mkey // {1 << 21} AS BIGINT) AS fp
    FROM wmin WHERE p >= {w} OR p = n_sh
    """


@declare(
    "llm_winnow_fingerprint",
    _owinnow(4, 5),
    _SEC,
    "Winnowing fingerprints (Schleimer–Wilkerson–Aiken SIGMOD'03 — "
    "the MOSS algorithm): hash every 4-token shingle, keep the "
    "minimum of each 5-hash window (rightmost on ties) — a "
    "position-robust fingerprint set with ~2/(w+1) density that "
    "LOCALIZES partial overlap (a copied paragraph inside an "
    "otherwise-new doc) where whole-doc hashes and MinHash's "
    "unordered sets cannot. Zero-shuffle md5_32 map stage shared "
    "with the MinHash family; the window-min is per-document "
    "(bounded by doc length, never corpus-sized); the "
    "min-rightmost-tie rule is packed into one long key so a plain "
    "MIN() replays bit-for-bit in the oracle.",
)
def llm_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.winnow_fingerprints(
        load(spark, sf_dir, "documents"), k=4, w=5
    )


@declare(
    "mm_image_tiles",
    """
    WITH m AS (
      SELECT doc_id,
             CAST((doc_id * 37) % 1280 + 16 AS INT) AS width,
             CAST((doc_id * 53) % 720 + 16 AS INT) AS height
      FROM documents
      WHERE ['image', 'audio', 'video'][(doc_id % 3) + 1] = 'image'),
    g AS (
      SELECT doc_id, width, height,
             CAST(unnest(range(CAST(CEIL(width / 224.0) AS INT))) AS INT)
               AS tile_x
      FROM m),
    gg AS (
      SELECT doc_id, width, height, tile_x,
             CAST(unnest(range(CAST(CEIL(height / 224.0) AS INT))) AS INT)
               AS tile_y
      FROM g)
    SELECT doc_id, tile_x, tile_y,
           CAST(tile_x * 224 AS INT) AS x0,
           CAST(tile_y * 224 AS INT) AS y0,
           CAST(LEAST(224, width - tile_x * 224) AS INT) AS tile_w,
           CAST(LEAST(224, height - tile_y * 224) AS INT) AS tile_h
    FROM gg
    """,
    _SEC,
    "ViT-style patch-grid manifest: one row per (image, 224px tile) "
    "with pixel offsets and clipped edge-tile dims — the table an "
    "image patch extractor consumes (pack_manifest for pixels). "
    "Pure in-plan integer explode from typed metadata; the binary "
    "payload is never read, so the manifest costs metadata-scan "
    "time even over 100 TB of blobs.",
)
def mm_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = multimodal.attach_fake_payload(load(spark, sf_dir, "documents"))
    return multimodal.tile_plan(mm, tile=224)


def _opq(m: int, k: int, dim: int = 64) -> str:
    """DuckDB replay of similarity.pq_encode: per-subspace slice →
    lowest-id seeds → cosine assign → fixed-point refine → re-assign,
    then the m code frames joined on the id. Mirrors the llm_kmeans
    oracle per subspace."""
    sd = dim // m
    ctes = ["v AS (SELECT vec_id, embedding FROM embeddings)"]
    for i in range(m):
        lo, hi = i * sd + 1, (i + 1) * sd
        ctes.append(
            f"v{i} AS (SELECT vec_id, embedding[{lo}:{hi}] AS sub FROM v)"
        )
        ctes.append(
            f"seeds{i} AS (SELECT vec_id AS cluster, sub AS cemb FROM v{i} "
            f"ORDER BY vec_id LIMIT {k})"
        )
        ctes.append(
            f"a1_{i} AS (SELECT vec_id, cluster FROM ("
            f"SELECT v{i}.vec_id, s.cluster, "
            f"ROW_NUMBER() OVER (PARTITION BY v{i}.vec_id "
            f"ORDER BY {_ocos_raw(f'v{i}.sub', 's.cemb')} DESC, s.cluster) AS rn "
            f"FROM v{i} CROSS JOIN seeds{i} s) WHERE rn = 1)"
        )
        ctes.append(
            f"qex{i} AS (SELECT a.cluster, r.i AS dim, "
            f"CAST(FLOOR(CAST(w.sub[r.i] AS DOUBLE) * 1048576) AS BIGINT) AS qv "
            f"FROM a1_{i} a JOIN v{i} w USING (vec_id) "
            f"CROSS JOIN range(1, {sd + 1}) AS r(i))"
        )
        ctes.append(
            f"comp{i} AS (SELECT cluster, dim, "
            f"CAST(SUM(qv) AS DOUBLE) / (COUNT(*) * 1048576) AS mean "
            f"FROM qex{i} GROUP BY cluster, dim)"
        )
        ctes.append(
            f"cents{i} AS (SELECT cluster, list(mean ORDER BY dim) AS cmean "
            f"FROM comp{i} GROUP BY cluster)"
        )
        ctes.append(
            f"a2_{i} AS (SELECT vec_id, cluster, cs FROM ("
            f"SELECT w.vec_id, c.cluster, {_ocos_raw('w.sub', 'c.cmean')} AS cs, "
            f"ROW_NUMBER() OVER (PARTITION BY w.vec_id "
            f"ORDER BY {_ocos_raw('w.sub', 'c.cmean')} DESC, c.cluster) AS rn "
            f"FROM v{i} w CROSS JOIN cents{i} c) WHERE rn = 1)"
        )
    sel = ", ".join(
        f"CAST(a2_{i}.cluster AS BIGINT) AS code_{i}, "
        f"ROUND(a2_{i}.cs, 6) + 0.0 AS fit_{i}"
        for i in range(m)
    )
    joins = " ".join(f"JOIN a2_{i} USING (vec_id)" for i in range(m))
    return "WITH " + ",\n".join(ctes) + f"\nSELECT vec_id, {sel} FROM v {joins}"


@declare(
    "llm_pq_encode",
    _opq(4, 8),
    _SEC,
    "Product quantization (Jégou et al. PAMI'11): the 64-dim "
    "embedding splits into 4 contiguous 16-dim subspaces, each with "
    "its own deterministic k-means codebook (lowest-id seeds, "
    "cosine assignment, 2^-20 fixed-point refined means), and every "
    "vector compresses to 4 codes + per-subspace fit — the "
    "memory-side ANN compression that puts 100 TB of embeddings "
    "into serving RAM, beside IVF's compute-side routing. Each "
    "subspace is a broadcast-centroid assignment (no corpus "
    "shuffle); the 4 code frames rejoin on the SAME id key, so AQE "
    "co-partitions the joins. Fully replayed per subspace in the "
    "oracle.",
)
def llm_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pq_encode(
        load(spark, sf_dir, "embeddings"), m=4, n_clusters=8, refine_iters=1
    )


#: planted-overlap corpus: every 5th doc re-ingested under a new id
#: with a shifted prefix — winnowing must still pair it with its
#: original even though every token POSITION moved (the
#: position-robustness MinHash gets for free but positional hashing
#: schemes must earn).
_WINNOW_SRC = (
    "(SELECT doc_id, text FROM documents "
    "UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, 'aa bb cc dd ' || text AS text "
    "FROM documents WHERE doc_id % 5 = 0)"
)


@declare(
    "llm_winnow_pairs",
    f"""
    WITH fpd AS (
      SELECT DISTINCT doc_id, fp FROM ({_owinnow(4, 5, _WINNOW_SRC)})),
    bs AS (SELECT fp, COUNT(*) AS m FROM fpd GROUP BY fp),
    ok AS (SELECT fp FROM bs WHERE m > 1 AND m <= 200),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fpd a JOIN fpd b USING (fp) JOIN ok USING (fp)
      WHERE a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM pairs GROUP BY id_a, id_b HAVING COUNT(*) >= 3
    """,
    _SEC,
    "Fingerprint-keyed near-dup candidates: docs sharing ≥3 distinct "
    "winnowing fingerprints pair up — the practical MOSS usage and "
    "the PARTIAL-overlap complement to MinHash (a copied paragraph "
    "pairs docs whose whole-text Jaccard is below any LSH "
    "threshold). The planted fixture re-ingests every 5th doc under "
    "a new id with a 4-token prefix shift, so the pairs prove "
    "position-robustness, not just identity. Buckets above 200 ids "
    "(boilerplate shingles) drop BEFORE the m² pair expansion — the "
    "same skew cap as the LSH path.",
)
def llm_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("aa bb cc dd "), F.col("text")).alias("text"),
    )
    return dedup.winnow_candidate_pairs(
        docs.unionByName(planted), k=4, w=5, min_shared=3, max_bucket=200
    )


@declare(
    "mm_audio_vad",
    """
    WITH d AS (
      SELECT doc_id, 800 + (doc_id % 5) * 160 AS n FROM documents
    ), fr AS (
      SELECT d.doc_id, f.range AS frame_idx
      FROM d, range(0, 9) f
      WHERE f.range < d.n // 160
    ), e AS (
      SELECT fr.doc_id, fr.frame_idx,
             SUM(
               ((((fr.doc_id * 7 + (fr.frame_idx * 160 + i.range) * 13) % 4096) - 2048)
                * (((fr.doc_id * 7 + (fr.frame_idx * 160 + i.range) * 13) % 4096) - 2048))
             ) AS energy
      FROM fr, range(0, 160) i
      GROUP BY fr.doc_id, fr.frame_idx
    ), act AS (
      SELECT doc_id, frame_idx, CAST(energy AS BIGINT) AS energy,
             frame_idx - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY frame_idx) AS grp
      FROM e WHERE energy >= 210000000
    )
    SELECT doc_id,
           CAST(MIN(frame_idx) AS INT) AS start_frame,
           CAST(MAX(frame_idx) AS INT) AS end_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS energy
    FROM act GROUP BY doc_id, grp
    """,
    _SEC,
    "Voice-activity segmentation through the REAL WAV decode kernel: "
    "per-10ms frame energies (one Arrow payload crossing) → "
    "energy-threshold gate → gaps-and-islands coalescing into "
    "(start, end, frames, energy) spans — the segment table an "
    "audio-curation pipeline clips speech regions from. The island "
    "window is per-recording (clip-length bounded); exact integers, "
    "analytically hash-verified from the closed-form sample "
    "pattern.",
)
def mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_wav_payload(docs)
    frames = multimodal.decode_wav_rms_frames(payloads)
    return multimodal.vad_segments(frames, threshold=210_000_000)


@declare(
    "llm_feature_hash",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    hashed AS (
      SELECT doc_id,
             {_obucket_md5('t', 'fh:b', 256)} AS bucket,
             2 * ({_obucket_md5('t', 'fh:s', 2)}) - 1 AS sign
      FROM tok)
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(SUM(sign) AS BIGINT) AS weight
    FROM hashed GROUP BY doc_id, bucket
    HAVING SUM(sign) <> 0
    """,
    _SEC,
    "Feature hashing (Weinberger et al. ICML'09 — the hashing "
    "trick): each token routes to one of 256 buckets by salted md5, "
    "a second independent hash supplies a ±1 sign so collisions "
    "cancel in expectation, and per-doc bucket sums form the sparse "
    "feature vector — fixed dimensionality with NO vocabulary "
    "broadcast or fitting pass, which is why it is the featurizer "
    "that still works when the vocab is 10⁹ strings. One explode + "
    "one map-side-combinable aggregation; emitted as sparse "
    "(doc, bucket, weight) triples, zeros dropped. The md5 hash "
    "family replays bit-for-bit in the oracle.",
)
def llm_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm.sampling import hash_bucket

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    hashed = tok.select(
        "doc_id",
        hash_bucket(F.col("t"), "fh:b", 256).alias("bucket"),
        (hash_bucket(F.col("t"), "fh:s", 2) * 2 - 1).alias("sign"),
    )
    return (
        hashed.groupBy("doc_id", "bucket")
        .agg(F.sum("sign").alias("weight"))
        .filter(F.col("weight") != 0)
    )


@declare(
    "mm_video_scenes",
    """
    WITH d AS (
      SELECT doc_id,
             4 + doc_id % 3 AS w,
             4 + doc_id % 2 AS h,
             3 + doc_id % 4 AS nf
      FROM documents
    ), pr AS (
      SELECT d.doc_id, d.w, d.h, f.range AS frame_pair
      FROM d, range(0, 6) f
      WHERE f.range < d.nf - 1
    ), m AS (
      SELECT pr.doc_id, pr.frame_pair,
             SUM(abs(
               ((pr.doc_id * 17 + (pr.frame_pair + 1) * 29 + i.range * 3) % 256)
               - ((pr.doc_id * 17 + pr.frame_pair * 29 + i.range * 3) % 256)
             )) AS motion
      FROM pr, range(0, 30) i
      WHERE i.range < pr.w * pr.h
      GROUP BY pr.doc_id, pr.frame_pair
    ), cuts AS (
      SELECT doc_id, frame_pair FROM m WHERE motion >= 900
    ), mid AS (
      SELECT doc_id,
             COALESCE(LAG(frame_pair) OVER (
               PARTITION BY doc_id ORDER BY frame_pair) + 1, 0) AS start_frame,
             frame_pair AS end_frame
      FROM cuts
    ), stats AS (
      SELECT doc_id, MAX(frame_pair) + 2 AS nf FROM m GROUP BY doc_id
    ), lastc AS (
      SELECT doc_id, MAX(frame_pair) AS last_cut FROM cuts GROUP BY doc_id
    ), fin AS (
      SELECT s.doc_id, COALESCE(l.last_cut + 1, 0) AS start_frame,
             s.nf - 1 AS end_frame
      FROM stats s LEFT JOIN lastc l USING (doc_id)
    ), scenes AS (
      SELECT * FROM mid UNION ALL SELECT * FROM fin)
    SELECT doc_id, CAST(start_frame AS INT) AS start_frame,
           CAST(end_frame AS INT) AS end_frame,
           CAST(end_frame - start_frame + 1 AS BIGINT) AS n_frames
    FROM scenes
    """,
    _SEC,
    "Scene segmentation through the REAL Y4M decode kernel: "
    "frame-pair motion energies (one Arrow payload crossing) → cut "
    "threshold → maximal frame runs between cuts, including the "
    "whole-clip scene for static videos — the segment table a video "
    "curation pipeline samples keyframes from. Frame counts "
    "re-derive from the pair index, so segmentation never re-reads "
    "payloads; exact integers, analytic oracle.",
)
def mm_video_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_y4m_payload(docs)
    motion = multimodal.decode_y4m_motion(payloads)
    return multimodal.scene_segments(motion, threshold=900)


@declare(
    "llm_lang_confusion",
    """
    WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents),
    s AS (
      SELECT doc_id, lang,
        len(list_filter(toks, t -> list_contains(['the','a','of','and','is'], t))) AS score_en,
        len(list_filter(toks, t -> list_contains(['le','la','et','les','des'], t))) AS score_fr,
        len(list_filter(toks, t -> list_contains(['el','los','de','y','que'], t))) AS score_es,
        len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS score_de,
        len(list_filter(toks, t -> list_contains(['de','shi','le','bu','wo'], t))) AS score_zh
      FROM d),
    p AS (
      SELECT doc_id, lang,
             CASE
               WHEN score_en > 0 AND score_en >= score_fr AND score_en >= score_es
                    AND score_en >= score_de AND score_en >= score_zh THEN 'en'
               WHEN score_fr > 0 AND score_fr > score_en AND score_fr >= score_es
                    AND score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
               WHEN score_es > 0 AND score_es > score_en AND score_es > score_fr
                    AND score_es >= score_de AND score_es >= score_zh THEN 'es'
               WHEN score_de > 0 AND score_de > score_en AND score_de > score_fr
                    AND score_de > score_es AND score_de >= score_zh THEN 'de'
               WHEN score_zh > 0 AND score_zh > score_en AND score_zh > score_fr
                    AND score_zh > score_es AND score_zh > score_de THEN 'zh'
               ELSE 'und'
             END AS lang_pred
      FROM s)
    SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM p GROUP BY lang, lang_pred
    """,
    _SEC,
    "Language-ID confusion matrix: declared corpus language × "
    "detected language (the stopword-dictionary heuristic of "
    "llm_lang_id), counts per cell — the audit that catches "
    "mislabeled-language feeds BEFORE a lang-weighted mixture "
    "trains on them (a feed whose declared 'fr' mostly detects "
    "'en' is a mislabel, not a detector bug). One map-side score "
    "pass + one small aggregation.",
)
def llm_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pred = textstats.lang_id(docs).select("doc_id", "lang_pred")
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@declare(
    "llm_inverted_index",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents),
    post AS (
      SELECT token,
             CAST(COUNT(*) AS BIGINT) AS df,
             array_to_string(
               (list(CAST(doc_id AS VARCHAR) ORDER BY doc_id))[1:10], ',')
               AS first_postings
      FROM tok GROUP BY token)
    SELECT token, df, first_postings
    FROM post WHERE df >= 5
    """,
    _SEC,
    "Inverted-index build: token → document-frequency + the sorted "
    "head of its postings list — the retrieval-side artifact "
    "(BM25 / keyword search) a curated corpus ships beside its "
    "embeddings. One distinct-token explode + one aggregation, both "
    "map-side combinable; postings emit as a sorted id string (the "
    "driver's canonicalizer hashes arrays engine-specifically, so "
    "list-valued outputs ride as strings — the df>=5 gate keeps the "
    "fixture's long tail out of the demo). At 100 TB the postings "
    "write is the shuffle; the token key is the natural partition.",
)
def llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Delegates to the YAML op so the bounded rank-then-collect
    # postings shape (window df + head cutoff, WindowExec spill
    # instead of a corpus-sized aggregation array per stopword) is
    # written once.
    from configdrivendatapipeline_spark.compiler import OPS

    docs = load(spark, sf_dir, "documents")
    return OPS["inverted_index"](
        spark, [docs], {"min_df": 5, "postings_head": 10}
    )


@declare(
    "llm_keyword_search",
    """
    WITH q(qid, token) AS (
      VALUES (0, 'the'), (0, 'data'), (0, 'query'),
             (1, 'stream'), (1, 'window'),
             (2, 'the'), (2, 'of'), (2, 'and')),
    tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents),
    hits AS (
      SELECT q.qid, tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched
      FROM q JOIN tok USING (token)
      GROUP BY q.qid, tok.doc_id),
    ranked AS (
      SELECT qid, doc_id, n_matched,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY n_matched DESC, doc_id) AS rn
      FROM hits)
    SELECT qid, doc_id, n_matched, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 10
    """,
    _SEC,
    "Keyword retrieval over the corpus: a broadcast query-term table "
    "joins the distinct-token postings, per-(query, doc) overlap "
    "counts rank top-10 by matched-term count — boolean OR retrieval "
    "with deterministic tie-break, the keyword leg of hybrid search "
    "beside llm_cosine_topk's dense leg. The token equi-join IS the "
    "inverted-index probe: at 100 TB the postings shuffle is keyed "
    "by token and the query side is broadcast-tiny; the rank window "
    "partitions per query over candidate docs only.",
)
def llm_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [(0, "the"), (0, "data"), (0, "query"),
         (1, "stream"), (1, "window"),
         (2, "the"), (2, "of"), (2, "and")],
        "qid INT, token STRING",
    )
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    )
    hits = (
        tok.join(F.broadcast(q), "token")
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("n_matched").desc(), F.col("doc_id")
    )
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("qid", "doc_id", "n_matched", "rank")
    )


@declare(
    "llm_hybrid_rrf",
    f"""
    WITH q(qid, token) AS (
      VALUES (0, 'the'), (0, 'data'), (0, 'query'),
             (1, 'stream'), (1, 'window'),
             (2, 'the'), (2, 'of'), (2, 'and')),
    tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents),
    hits AS (
      SELECT q.qid, tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched
      FROM q JOIN tok USING (token)
      GROUP BY q.qid, tok.doc_id),
    kw AS (
      SELECT qid, doc_id,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY n_matched DESC, doc_id) AS r_kw
      FROM hits),
    probes AS (
      SELECT vec_id AS qid, embedding AS pemb FROM embeddings
      WHERE vec_id IN (0, 1, 2)),
    dense AS (
      SELECT p.qid, v.vec_id AS doc_id,
             ROW_NUMBER() OVER (PARTITION BY p.qid
               ORDER BY {_ocos_raw('v.embedding', 'p.pemb')} DESC, v.vec_id)
               AS r_dense
      FROM embeddings v CROSS JOIN probes p
      WHERE v.vec_id <> p.qid),
    fused AS (
      SELECT COALESCE(k.qid, d.qid) AS qid,
             COALESCE(k.doc_id, d.doc_id) AS doc_id,
             CAST(COALESCE(1000000 // (60 + k.r_kw), 0)
                + COALESCE(1000000 // (60 + d.r_dense), 0) AS BIGINT)
               AS rrf_micro
      FROM (SELECT * FROM kw WHERE r_kw <= 20) k
      FULL OUTER JOIN (SELECT * FROM dense WHERE r_dense <= 20) d
        ON k.qid = d.qid AND k.doc_id = d.doc_id),
    ranked AS (
      SELECT qid, doc_id, rrf_micro,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY rrf_micro DESC, doc_id) AS rn
      FROM fused)
    SELECT CAST(qid AS INT) AS qid, CAST(doc_id AS BIGINT) AS doc_id,
           rrf_micro, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 10
    """,
    _SEC,
    "Hybrid retrieval via reciprocal-rank fusion (Cormack et al. "
    "SIGIR'09): the keyword leg (token-overlap top-20) and the "
    "dense leg (cosine top-20 over embeddings) fuse as "
    "Σ 1e6 div (60 + rank) — RRF's 1/(k+r) in exact integer "
    "micro-units, so the fusion is engine- and retry-identical "
    "where float reciprocals could tie-break differently. This is "
    "the standard production shape: both legs are already "
    "top-k-bounded per query, so fusion joins two tiny rank "
    "tables, never corpus-sized data.",
)
def llm_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from configdrivendatapipeline_spark.llm.similarity import (
        as_double,
        cosine_dn,
        norm,
    )

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    q = spark.createDataFrame(
        [(0, "the"), (0, "data"), (0, "query"),
         (1, "stream"), (1, "window"),
         (2, "the"), (2, "of"), (2, "and")],
        "qid INT, token STRING",
    )
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    )
    hits = (
        tok.join(F.broadcast(q), "token")
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    wk = Window.partitionBy("qid").orderBy(
        F.col("n_matched").desc(), F.col("doc_id")
    )
    kw = (
        hits.withColumn("r_kw", F.row_number().over(wk))
        .filter(F.col("r_kw") <= 20)
        .select("qid", "doc_id", "r_kw")
    )
    v = emb.select("vec_id", as_double("embedding").alias("__v")).withColumn(
        "__nv", norm(F.col("__v"))
    )
    probes = v.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("qid"),
        F.col("__v").alias("__p"),
        F.col("__nv").alias("__np"),
    )
    wd = Window.partitionBy("qid").orderBy(
        F.col("__cos").desc(), F.col("doc_id")
    )
    dense = (
        v.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            cosine_dn(
                F.col("__v"), F.col("__p"), F.col("__nv"), F.col("__np")
            ).alias("__cos"),
        )
        .withColumn("r_dense", F.row_number().over(wd))
        .filter(F.col("r_dense") <= 20)
        .select("qid", "doc_id", "r_dense")
    )
    fused = (
        kw.join(dense, ["qid", "doc_id"], "full_outer")
        .select(
            "qid",
            "doc_id",
            (
                F.coalesce(
                    F.expr("1000000 div (60 + r_kw)"), F.lit(0).cast("long")
                )
                + F.coalesce(
                    F.expr("1000000 div (60 + r_dense)"), F.lit(0).cast("long")
                )
            ).alias("rrf_micro"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 10)
        .select(
            F.col("qid").cast("int").alias("qid"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "rrf_micro",
            "rank",
        )
    )


@declare(
    "llm_winnow_clusters",
    f"""
    WITH fpd AS MATERIALIZED (
      SELECT DISTINCT doc_id, fp FROM ({_owinnow(4, 5, _WINNOW_SRC)})),
    bs AS MATERIALIZED (SELECT fp, COUNT(*) AS m FROM fpd GROUP BY fp),
    ok AS MATERIALIZED (SELECT fp FROM bs WHERE m > 1 AND m <= 200),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fpd a JOIN fpd b USING (fp) JOIN ok USING (fp)
      WHERE a.doc_id < b.doc_id),
    strong AS MATERIALIZED (
      SELECT id_a, id_b FROM pairs GROUP BY id_a, id_b
      HAVING COUNT(*) >= 3),
    nodes AS (
      SELECT doc_id FROM documents
      UNION ALL
      SELECT doc_id + 1000000 FROM documents WHERE doc_id % 5 = 0),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM strong
      UNION SELECT id_b, id_a FROM strong),
    -- min-label propagation to fixpoint, replayed as a bounded
    -- iteration (the fixture's overlap graph has tiny diameter)
    l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS comp FROM nodes),
    l1 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
        SELECT id, comp FROM l0
        UNION ALL
        SELECT e.dst AS id, l.comp FROM edges e JOIN l0 l ON l.id = e.src)
      GROUP BY id),
    l2 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
        SELECT id, comp FROM l1
        UNION ALL
        SELECT e.dst AS id, l.comp FROM edges e JOIN l1 l ON l.id = e.src)
      GROUP BY id),
    l3 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
        SELECT id, comp FROM l2
        UNION ALL
        SELECT e.dst AS id, l.comp FROM edges e JOIN l2 l ON l.id = e.src)
      GROUP BY id),
    l4 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
        SELECT id, comp FROM l3
        UNION ALL
        SELECT e.dst AS id, l.comp FROM edges e JOIN l3 l ON l.id = e.src)
      GROUP BY id),
    l5 AS MATERIALIZED (SELECT id, MIN(comp) AS comp FROM (
        SELECT id, comp FROM l4
        UNION ALL
        SELECT e.dst AS id, l.comp FROM edges e JOIN l4 l ON l.id = e.src)
      GROUP BY id)
    SELECT id AS doc_id, comp AS component FROM l5
    """,
    _SEC,
    "The complete partial-overlap dedup path: winnowing fingerprints "
    "→ capped pair candidates (≥3 shared) → connected components "
    "with min-label canonical representatives — what a curation "
    "pipeline actually runs to collapse paragraph-level copy "
    "families that whole-doc hashing scatters. Spark side reuses "
    "duplicate_clusters' checkpointed label propagation; the oracle "
    "replays five propagation rounds, enough to reach the fixture "
    "graph's fixpoint (pair components here are tiny cliques).",
)
def llm_winnow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("aa bb cc dd "), F.col("text")).alias("text"),
    )
    corpus = docs.unionByName(planted)
    pairs = dedup.winnow_candidate_pairs(
        corpus, k=4, w=5, min_shared=3, max_bucket=200
    ).select("id_a", "id_b")
    return dedup.duplicate_clusters(pairs, corpus.select("doc_id"))


def _ophash(src: str = "documents") -> str:
    """The mm_image_phash oracle body as a reusable CTE chain
    (doc_id, phash_hi, phash_lo)."""
    return f"""
    d AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM {src}),
    cells AS (
      SELECT d.doc_id, d.w, d.h, i.range AS i, j.range AS j,
             {_ogray('(i.range * h) // 8', '(j.range * w) // 8')} AS g
      FROM d, range(0, 8) i, range(0, 8) j),
    stats AS (
      SELECT doc_id, CAST(SUM(g) AS BIGINT) // 64 AS mean
      FROM cells GROUP BY doc_id),
    bits AS (
      SELECT c.doc_id,
             CASE WHEN c.g > s.mean THEN 1 ELSE 0 END AS b,
             c.i * 8 + c.j AS k
      FROM cells c JOIN stats s USING (doc_id)),
    ph AS MATERIALIZED (
      SELECT doc_id,
             CAST(SUM(CASE WHEN k >= 32
                      THEN CAST(b AS BIGINT) << CAST(k - 32 AS INT)
                      ELSE 0 END) AS BIGINT) AS phash_hi,
             CAST(SUM(CASE WHEN k < 32
                      THEN CAST(b AS BIGINT) << CAST(k AS INT)
                      ELSE 0 END) AS BIGINT) AS phash_lo
      FROM bits GROUP BY doc_id)
    """


@declare(
    "mm_phash_pairs",
    f"""
    WITH {_ophash()},
    banded AS (
      SELECT doc_id, band_id,
             CASE band_id
               WHEN 0 THEN phash_hi // 65536
               WHEN 1 THEN phash_hi % 65536
               WHEN 2 THEN phash_lo // 65536
               ELSE phash_lo % 65536 END AS band_val
      FROM ph, range(0, 4) AS r(band_id)),
    bs AS (SELECT band_id, band_val, COUNT(*) AS m FROM banded
           GROUP BY band_id, band_val),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
        AND a.doc_id < b.doc_id
      JOIN bs ON bs.band_id = a.band_id AND bs.band_val = a.band_val
      WHERE bs.m <= 100)
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(pa.phash_hi, pb.phash_hi))
              + bit_count(xor(pa.phash_lo, pb.phash_lo)) AS INT) AS hamming
    FROM cand c
    JOIN ph pa ON pa.doc_id = c.id_a
    JOIN ph pb ON pb.doc_id = c.id_b
    WHERE bit_count(xor(pa.phash_hi, pb.phash_hi))
        + bit_count(xor(pa.phash_lo, pb.phash_lo)) <= 3
    """,
    _SEC,
    "Near-duplicate image pairs by PIGEONHOLE banding of perceptual "
    "hashes: any pair within 3 bits must agree exactly on one of "
    "four 16-bit bands, so candidates come from hash-keyed "
    "equi-joins — the image analog of MinHash banding, never an "
    "all-pairs distance scan — then true hamming verifies via "
    "bit_count(xor). The fixture's same-dimension images differ by "
    "a uniform gray shift that mean-thresholding mostly cancels, so "
    "organic near-dups exist and the green hash proves recovery. "
    "Degenerate bands cap before pair expansion like the LSH path.",
)
def mm_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_ppm_payload(docs)
    hashes = multimodal.ppm_ahash(payloads).select(
        "doc_id", "phash_hi", "phash_lo"
    )
    return multimodal.phash_pairs(hashes, max_hamming=3, max_bucket=100)


@declare(
    "llm_mixture_plan",
    """
    WITH avail AS (
      SELECT source,
             CAST(SUBSTR(source, 4) AS BIGINT) % 5 + 1 AS w,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_avail
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS big_w,
             CAST(MIN(CAST(tokens_avail AS HUGEINT)
                      * (SELECT SUM(w) FROM avail) // w)
                  AS BIGINT) AS total_max
      FROM avail),
    pl AS (
      SELECT a.source, a.w, a.tokens_avail,
             CAST(CAST(t.total_max AS HUGEINT) * a.w // t.big_w
                  AS BIGINT) AS planned_tokens
      FROM avail a CROSS JOIN tot t)
    SELECT source, w, tokens_avail, planned_tokens,
           CAST(CAST(planned_tokens AS HUGEINT) * 1000000 // tokens_avail
                AS BIGINT) AS utilization_micro
    FROM pl
    """,
    _SEC,
    "Availability-constrained mixture planning (water-filling): "
    "given per-source token inventories and target mixture weights, "
    "the largest total budget where EVERY source can still supply "
    "its share is min over sources of avail·W div w — the binding "
    "source pins the whole mixture, which is exactly the fact a "
    "data-mixture planner needs surfaced (upweighting a scarce "
    "source shrinks the entire training set). Planned allocations "
    "and utilization come out in exact integers; one aggregation + "
    "one broadcast scalar — the plan costs a metadata scan at any "
    "corpus size.",
)
def llm_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens_avail")
    ).select(
        "source",
        (F.expr("CAST(SUBSTR(source, 4) AS BIGINT)") % 5 + 1).alias("w"),
        "tokens_avail",
    )
    tot = avail.agg(
        F.sum("w").cast("long").alias("big_w"),
    )
    a2 = avail.crossJoin(F.broadcast(tot))
    # 128-bit products throughout (r13 token-scale audit): at 100-TB
    # token inventories tokens_avail·big_w, total_max·w and
    # planned·1e6 all pass 2^63; every emitted value (token counts
    # ≤ corpus size, utilization ≤ 1e6) fits BIGINT.
    #
    # The per-row MIN argument stays DECIMAL through the MIN (ADVICE
    # r13): `... div w` coerces each quotient to BIGINT, and for a
    # non-constraining tiny-weight source (avail·big_w/w ≳ 9.2e18)
    # Spark WRAPS it to a garbage negative (measured, ANSI and
    # non-ANSI both) which would then WIN the MIN — while DuckDB
    # carries exact HUGEINT. The remainder-subtraction form
    # (prod − prod % w) / w is exactly divisible, so the scale-6
    # decimal division is exact and integer-valued — both engines
    # min over identical integers, and the min itself provably fits
    # BIGINT (Σ planned_i = total_max ≤ Σ avail_i = corpus tokens),
    # so the post-MIN cast cannot overflow.
    tmax = a2.agg(
        F.min(
            F.expr(
                "(CAST(tokens_avail AS DECIMAL(38,0)) * big_w"
                " - (CAST(tokens_avail AS DECIMAL(38,0)) * big_w) % w)"
                " / w"
            )
        ).cast("long").alias("total_max")
    )
    return (
        a2.crossJoin(F.broadcast(tmax))
        .withColumn(
            "planned_tokens",
            F.expr("CAST(total_max AS DECIMAL(38,0)) * w div big_w"),
        )
        .select(
            "source",
            "w",
            "tokens_avail",
            "planned_tokens",
            F.expr(
                "CAST(planned_tokens AS DECIMAL(38,0)) * 1000000"
                " div tokens_avail"
            ).alias("utilization_micro"),
        )
    )


@declare(
    "llm_vocab_coverage",
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tok),
    vf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY token
      ORDER BY cnt DESC, token LIMIT 100),
    r AS (
      SELECT token, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
             CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM vf)
    SELECT CAST(r.rank AS INT) AS rank, r.token, r.cnt,
           CAST(CAST(r.cum AS HUGEINT) * 1000000 // t.n_total
                AS BIGINT) AS cum_share_micro
    FROM r CROSS JOIN tot t
    """,
    _SEC,
    "Vocabulary coverage curve (the Zipf table): cumulative corpus "
    "share of the top-100 words by rank — the sizing evidence a "
    "vocab/tokenizer decision reads (how much of the stream the "
    "head covers decides merge counts and stopword policies). The "
    "global cumsum runs AFTER a TakeOrdered-100 cut, so the window "
    "frame is constant-bounded at any corpus size; shares in exact "
    "integer micro-units.",
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    tot = tok.agg(F.count(F.lit(1)).alias("n_total"))
    vf = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(100)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    r = vf.select(
        "token",
        "cnt",
        F.row_number().over(w).alias("rank"),
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    return r.crossJoin(F.broadcast(tot)).select(
        F.col("rank").cast("int").alias("rank"),
        "token",
        "cnt",
        # cum is a token-scale running sum (≤ corpus tokens ~1e14 at
        # 100 TB) — widen the micro product; the share ≤ 1e6 (r13)
        F.expr(
            "CAST(cum AS DECIMAL(38,0)) * 1000000 div n_total"
        ).alias("cum_share_micro"),
    )


@declare(
    "llm_ccnet_buckets",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
    freq AS (SELECT token, (CAST(cnt AS HUGEINT) * 1000000) // total AS freq_micro
             FROM vocab, tot),
    sc AS (
      SELECT t.doc_id, d.lang,
             CAST(SUM(f.freq_micro) AS BIGINT) // COUNT(*) AS lm_micro
      FROM tok t JOIN freq f USING (token)
      JOIN documents d ON d.doc_id = t.doc_id
      GROUP BY t.doc_id, d.lang),
    b AS (SELECT lang, doc_id, lm_micro, lm_micro // 1000 AS bkt FROM sc),
    hist AS (
      SELECT lang, bkt, CAST(COUNT(*) AS BIGINT) AS n
      FROM b GROUP BY lang, bkt),
    cum AS (
      SELECT lang, bkt, n,
             CAST(SUM(n) OVER (PARTITION BY lang ORDER BY bkt DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS c
      FROM hist),
    nl AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS nl FROM hist GROUP BY lang),
    cuts AS (
      SELECT c.lang,
             MAX(CASE WHEN c.c * 3 >= n.nl THEN c.bkt END) AS b1,
             MAX(CASE WHEN c.c * 3 >= 2 * n.nl THEN c.bkt END) AS b2
      FROM cum c JOIN nl n USING (lang) GROUP BY c.lang),
    lab AS (
      SELECT b.lang, b.lm_micro,
             CASE WHEN b.bkt >= cu.b1 THEN 'head'
                  WHEN b.bkt >= cu.b2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM b JOIN cuts cu USING (lang))
    SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(lm_micro) AS BIGINT) AS min_lm_micro,
           CAST(MAX(lm_micro) AS BIGINT) AS max_lm_micro
    FROM lab GROUP BY lang, bucket
    """,
    _SEC,
    "CCNet's head/middle/tail quality terciles per language, made "
    "100 TB-safe: instead of a per-lang rank window over the corpus "
    "(one task per language — the budget_select scale-killer "
    "shape), docs hash into ≤1001 fixed score BUCKETS, the tercile "
    "cuts come from the bounded per-(lang, bucket) histogram's "
    "cumulative counts, and labeling is a broadcast map-side CASE. "
    "Boundary buckets label wholly toward the better tier — "
    "deterministic and engine-exact, the documented bucket-"
    "granularity tradeoff. Self-trained unigram LM as the score "
    "(the model you actually have at corpus bootstrap).",
)
def llm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    sc = textstats.unigram_lm_score(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    # Materialize the per-doc score table once (lazy localCheckpoint,
    # §3.3): it feeds both the histogram chain and the final labeling
    # pass, so the whole unigram-LM scoring subtree (token explode +
    # vocab frequency + per-doc aggregate) otherwise evaluates twice —
    # and the bucket histogram feeds the cumulative window AND the
    # per-language totals. b is (lang, id, score, bkt) — the
    # operator's per-doc working set; hist is ≤1001 buckets/lang.
    b = sc.select(
        "lang", "doc_id", "lm_micro", F.expr("lm_micro div 1000").alias("bkt")
    ).localCheckpoint(eager=False)
    hist = (
        b.groupBy("lang", "bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    # Bounded window: ≤1001 score buckets per language.
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("bkt").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("c", F.sum("n").over(w))
    nl = hist.groupBy("lang").agg(F.sum("n").alias("nl"))
    cuts = (
        cum.join(nl, "lang")
        .groupBy("lang")
        .agg(
            F.max(F.when(F.col("c") * 3 >= F.col("nl"), F.col("bkt"))).alias("b1"),
            F.max(
                F.when(F.col("c") * 3 >= 2 * F.col("nl"), F.col("bkt"))
            ).alias("b2"),
        )
    )
    lab = b.join(F.broadcast(cuts), "lang").select(
        "lang",
        "lm_micro",
        F.when(F.col("bkt") >= F.col("b1"), "head")
        .when(F.col("bkt") >= F.col("b2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return lab.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("lm_micro").alias("min_lm_micro"),
        F.max("lm_micro").alias("max_lm_micro"),
    )


@declare(
    "llm_pack_rehydrate",
    f"""
    WITH d AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_obucket_md5('doc_id', 'pack:v1', 8)} AS shard
      FROM documents
    ), o AS (
      SELECT doc_id, text, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tok_offset
      FROM d
    ), x AS (
      SELECT doc_id, text, shard, n_tokens, tok_offset,
             UNNEST(generate_series(tok_offset // 2048,
                    (tok_offset + n_tokens - 1) // 2048)) AS pack_no
      FROM o
    ), m AS (
      SELECT doc_id, text, shard,
             CAST(pack_no AS BIGINT) AS pack_no,
             CAST(GREATEST(0, pack_no * 2048 - tok_offset) AS BIGINT)
               AS slice_start,
             CAST(LEAST(n_tokens, (pack_no + 1) * 2048 - tok_offset)
                  - GREATEST(0, pack_no * 2048 - tok_offset) AS BIGINT)
               AS slice_len
      FROM x)
    SELECT doc_id, shard, pack_no, slice_start, slice_len,
           array_to_string(
             (string_split(text, ' '))[slice_start + 1 :
                                       slice_start + slice_len], ' ')
             AS fragment
    FROM m
    """,
    _SEC,
    "Sequence-packing REHYDRATION — the reader side of "
    "llm_pack_manifest: the manifest joins back to payloads on the "
    "id key and each (doc, pack) row emits its actual token slice, "
    "proving the offset arithmetic reconstructs content (fragments "
    "concatenated in pack order are exactly the doc — pinned by "
    "test). Slicing is in-plan array arithmetic; text crosses the "
    "plan once, never per-pack-copied driver-side.",
)
def llm_pack_rehydrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from configdrivendatapipeline_spark.llm import sampling

    return sampling.pack_rehydrate(load(spark, sf_dir, "documents"))


@declare(
    "llm_stupid_backoff",
    """
    WITH tok AS (
      SELECT doc_id, t.i AS pos, toks[t.i] AS w,
             CASE WHEN t.i > 1 THEN toks[t.i - 1] END AS prev
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           unnest(range(1, len(toks) + 1)) AS t(i)),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM tok GROUP BY w),
    utot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
    big AS (
      SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c2
      FROM tok WHERE prev IS NOT NULL GROUP BY prev, w),
    scored AS (
      SELECT t.doc_id,
             CASE
               WHEN t.prev IS NOT NULL AND b.c2 IS NOT NULL
                 THEN (CAST(b.c2 AS HUGEINT) * 1000000) // up.c1
               ELSE ((CAST(u.c1 AS HUGEINT) * 1000000) // ut.n) * 4 // 10
             END AS s_micro
      FROM tok t
      JOIN uni u ON u.w = t.w
      CROSS JOIN utot ut
      LEFT JOIN uni up ON up.w = t.prev
      LEFT JOIN big b ON b.prev = t.prev AND b.w = t.w),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(s_micro) AS BIGINT) AS s_sum
      FROM scored GROUP BY doc_id)
    SELECT doc_id, n_tokens,
           CAST(s_sum // n_tokens AS BIGINT) AS backoff_micro
    FROM agg
    """,
    _SEC,
    "Stupid-backoff LM scoring (Brants et al. EMNLP'07 — the "
    "web-scale LM smoothing that needs NO discounting pass): each "
    "token scores by its bigram conditional c(prev,w)/c(prev) when "
    "the bigram was seen, else backs off to 0.4 × its unigram "
    "probability — all in exact integer micro-units (penalty as "
    "×4 div 10), so the corpus-bootstrap quality signal is engine- "
    "and retry-identical. Self-trained counts; the doc-position "
    "explode joins counts back by token key — vocabulary-shaped "
    "sides, corpus-linear total.",
)
def llm_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p0", "w"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        "w",
    )
    from pyspark.sql import Window

    wseq = Window.partitionBy("doc_id").orderBy("pos")
    tok = tok.withColumn("prev", F.lag("w").over(wseq))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    utot = uni.agg(F.sum("c1").alias("n"))
    big = (
        tok.filter(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    up = uni.select(F.col("w").alias("prev"), F.col("c1").alias("cp"))
    scored = (
        tok.join(uni, "w")
        .crossJoin(F.broadcast(utot))
        .join(up, "prev", "left")
        .join(big, ["prev", "w"], "left")
        .select(
            "doc_id",
            # c1/c2 are token-scaled counts — widen the micro
            # products; each score (≤ 1e6) fits BIGINT (r13 audit)
            F.when(
                F.col("prev").isNotNull() & F.col("c2").isNotNull(),
                F.expr("(CAST(c2 AS DECIMAL(38,0)) * 1000000) div cp"),
            )
            .otherwise(
                F.expr(
                    "((CAST(c1 AS DECIMAL(38,0)) * 1000000) div n) * 4 div 10"
                )
            )
            .alias("s_micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("s_micro").alias("s_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("s_sum div n_tokens").alias("backoff_micro"),
        )
    )
