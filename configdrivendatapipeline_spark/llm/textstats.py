"""Text analysis for LLM corpora: stats, token counting, language-ID
heuristic, quality scoring, document fingerprinting, word frequency,
keyword search, TF-IDF.

Everything is built-in-function SQL (codegen'd, pushdown-friendly);
the only shuffles are the aggregations themselves. Formulas use
integer/fixed-order arithmetic where hashes must match an oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny per-language stopword dictionaries for the n-gram/stopword
#: language-ID heuristic (an honest heuristic: real lang-ID would be
#: a model; this is the classic cheap prefilter).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "ist"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}


def tokens(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc stats: token count, char count, distinct tokens,
    avg word length (exact rational: 2dp via integer rounding)."""
    toks = tokens(text_col)
    total_wlen = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    n = F.size(toks).cast("long")
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.length(text_col).cast("long").alias("n_chars_actual"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        (F.floor((total_wlen * 200 + n) / (n * 2)).cast("double") / 100).alias(
            "avg_word_len"
        ),
    )


def token_count(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace tokens + BPE-ish subword count (greedy ≤4-char
    chunks — the cheap proxy for budget estimation when the real
    tokenizer is too expensive to run corpus-wide)."""
    return df.select(
        F.col(id_col),
        F.size(tokens(text_col)).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[a-z0-9]{1,4}"), 0))
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


def lang_scores(text_col: str = "text") -> dict[str, Column]:
    """Stopword-hit counts (with multiplicity) per language."""
    toks = tokens(text_col)
    out = {}
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Predicted language: argmax stopword score, fixed priority
    tie-break (en > fr > es > de > zh), 'und' when no hits."""
    s = lang_scores(text_col)
    langs = list(STOPWORDS)
    best = None
    for lang in langs:
        cond = (s[lang] > 0)
        for other in langs:
            if other != lang and langs.index(other) < langs.index(lang):
                cond = cond & (s[lang] > s[other])
            elif other != lang:
                cond = cond & (s[lang] >= s[other])
        step = F.when(cond, F.lit(lang))
        best = step if best is None else best.when(cond, F.lit(lang))
    pred = best.otherwise(F.lit("und"))
    return df.select(
        F.col(id_col),
        *[s[lang].cast("long").alias(f"score_{lang}") for lang in langs],
        pred.alias("lang_pred"),
    )


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality features + composite 0-100 score:
    length band, stopword ratio, repetition (distinct/total),
    mean word length band. Integer arithmetic end-to-end."""
    toks = tokens(text_col)
    n = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en, t))).cast("long")
    len_ok = (n >= 20) & (n <= 2000)
    stop_ok = (n_stop * 100 >= n * 2) & (n_stop * 100 <= n * 40)
    rep_ok = n_distinct * 100 >= n * 30
    score = (
        F.when(len_ok, 40).otherwise(0)
        + F.when(stop_ok, 30).otherwise(0)
        + F.when(rep_ok, 30).otherwise(0)
    )
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        n_distinct.alias("n_distinct"),
        score.cast("long").alias("quality"),
    )


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Order-sensitive rolling document hash: fold over tokens with
    h = (h·31 + ascii(tok[0])·100 + len(tok)) mod (2³¹−1).
    Pure integer math with fixed fold order — engine-exact, unlike
    seeded or implementation-defined string hashes."""
    h = F.aggregate(
        tokens(text_col),
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * 31 + F.ascii(t).cast("long") * 100 + F.length(t), F.lit(2147483647)
        ),
    )
    return df.select(F.col(id_col), h.alias("fingerprint"))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-budget chunks — the
    pre-tokenization step of a training pipeline.

    Chunk i covers tokens [i·(N−O), i·(N−O)+N); the last chunk may be
    short; a doc shorter than N yields one chunk. Pure explode of an
    in-plan sequence — no UDF, no driver involvement.
    """
    if not 0 <= overlap < chunk_tokens:
        # negative overlap passes the old guard but makes the stride
        # EXCEED the chunk width, silently dropping the tokens
        # between consecutive chunks from the training stream
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    stride = chunk_tokens - overlap
    n = F.size("__toks")
    # number of chunks = 1 + ceil(max(0, n-N) / stride)
    extra = F.greatest(n - chunk_tokens, F.lit(0))
    n_chunks = F.lit(1) + F.ceil(extra / stride).cast("int")
    return (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice("__toks", i * stride + 1, chunk_tokens)
                    ),
                )
            ).alias("chunk_idx", "chunk_text"),
        )
        .withColumn("chunk_tokens", F.size(F.split("chunk_text", " ")).cast("long"))
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repetition quality signals per document (the Gopher-style
    filters): duplicate-token fraction and the share of token
    positions covered by the single most frequent 2-gram. Highly
    repetitive documents (boilerplate, SEO spam, template churn) score
    high on both and get filtered before training.

    Shape: one explode + two aggregations keyed by (doc, gram) then
    doc — linear in corpus size and partitioned by doc id, unlike the
    per-row nested-loop alternative (count each distinct gram inside
    the array), which is quadratic in document length. Fractions are
    emitted via integer micro-unit rounding so both engines hash
    identically.
    """
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        toks.alias("__toks"),
    )
    # 2-grams exist only for docs with >= 2 tokens: without the
    # filter, sequence(0, greatest(size-2, 0)) emits the lone token
    # itself as a phantom gram for a 1-token doc (and "" for an
    # empty one), scoring it top_gram_frac = 1.0 — maximally
    # repetitive — when it has ZERO 2-gram positions.
    grams = base.filter(F.col("n_tokens") >= 2).select(
        id_col,
        "n_tokens",
        "n_distinct",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - 2),
                lambda i: F.concat_ws(" ", F.slice("__toks", i + 1, 2)),
            )
        ).alias("gram"),
    )
    per_gram = grams.groupBy(id_col, "gram").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.max("n_distinct").alias("n_distinct"),
        F.count(F.lit(1)).alias("gram_count"),
    )
    per_doc = per_gram.groupBy(id_col).agg(
        F.max("n_tokens").alias("n_tokens"),
        F.max("n_distinct").alias("n_distinct"),
        F.max("gram_count").alias("top_gram_count"),
    ).unionByName(
        # sub-2-token docs re-enter with top_gram_count 0 — a union
        # of a ~empty frame, not a join, so the hot path keeps its
        # carried-aggregate shape (no extra id-keyed shuffle)
        base.filter(F.col("n_tokens") < 2).select(
            id_col,
            "n_tokens",
            "n_distinct",
            F.lit(0).cast("long").alias("top_gram_count"),
        )
    )
    # exact 6dp fractions: floor(a·10⁶/b + ½) on integers, then /10⁶
    def frac6(a: Column, b: Column) -> Column:
        return (
            F.floor((a * 2_000_000 + b) / (b * 2)).cast("double") / 1_000_000
        )

    return per_doc.select(
        id_col,
        "n_tokens",
        "top_gram_count",
        frac6(F.col("n_tokens") - F.col("n_distinct"), F.col("n_tokens")).alias(
            "dup_tok_frac"
        ),
        # share of 2-gram positions occupied by the most frequent
        # 2-gram (n-1 positions for an n-token doc) — bounded [0,1]
        frac6(
            F.col("top_gram_count"),
            F.greatest(F.col("n_tokens") - 1, F.lit(1).cast("long")),
        ).alias("top_gram_frac"),
    )


#: PII-ish patterns → replacement tokens (regex scrubbing pass).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "[EMAIL]"),
    (r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b", "[PHONE]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
]


def redact_pii(df: DataFrame, text_col: str, out: str | None = None) -> DataFrame:
    """Regex-scrub PII-shaped substrings (emails, phones, SSNs) —
    chained JVM-side regexp_replace, codegen-friendly."""
    c = F.col(text_col)
    for pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return df.withColumn(out or text_col, c)


def word_freq(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus top-k token frequencies (count desc, token asc)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(k)
    )


def keyword_search(
    df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boolean keyword retrieval: per (query, doc), the number of the
    query's terms the doc contains, top-``k`` per query by that count
    (id tie-break). ``queries_df`` is (qid, token), one row per term.
    The broadcast query-term join on the distinct-token explode IS
    the inverted-index probe. Emits (qid, id, n_matched, rank)."""
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("token"),
    )
    hits = (
        tok.join(F.broadcast(queries_df), "token")
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


def tf_idf(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", top_per_doc: int = 5
) -> DataFrame:
    """TF-IDF per (doc, term), top terms per doc.

    idf = ln((N+1)/(df+1)) + 1 (smoothed); weight = tf · idf rounded
    to 6dp. Two aggregations + one broadcastable join on term.
    """
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(id_col).distinct().count()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.withColumn(
        "idf", F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0
    )
    weighted = tf.join(F.broadcast(idf), "term").withColumn(
        "tfidf", F.round(F.col("tf") * F.col("idf"), 6)
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        weighted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_per_doc)
        .select(id_col, "term", "tf", "df", "tfidf", F.col("rn").cast("long").alias("rank"))
    )

def unigram_lm_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style LM quality signal without an external model: score
    each document by the corpus's OWN unigram distribution — documents
    made of globally rare tokens (mojibake, boilerplate hashes, OCR
    noise) score low; fluent text built from common tokens scores
    high. CCNet ranks by wikipedia-LM perplexity; at corpus-bootstrap
    time the corpus unigram table is the model you actually have.

    Exact integer arithmetic end to end: per-token probability in
    micro-units ``(cnt * 1e6) div total``, per-doc score the integer
    mean of its tokens' micro-probabilities — no float sums, so the
    score is engine-, order- and retry-stable.

    Scale: the vocab aggregation is one partial-combine shuffle; the
    frequency table broadcasts (web-scale vocabs are ~10⁷ rows ≈
    100 MB; beyond that the same join runs bucketed); scoring is one
    groupBy(doc). Nothing is quadratic and nothing collects.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    # 128-bit product (r13 token-scale audit): cnt is a TOKEN count —
    # a head token holds ~5% of a 100-TB corpus's ~1e14 tokens, so
    # cnt·1e6 passes 2^63 where a row-count ratio would not; the
    # quotient (≤ 1e6) fits BIGINT, so only the product widens
    freq = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.expr(
            "(CAST(cnt AS DECIMAL(38,0)) * 1000000) div total"
        ).alias("freq_micro"),
    )
    return (
        tok.join(F.broadcast(freq), "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq_micro").alias("sum_fm"),
        )
        .select(
            id_col,
            "n_tokens",
            F.expr("sum_fm div n_tokens").alias("lm_micro"),
        )
    )


def bigram_lm_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bigram conditional-probability quality score — the next rung
    above :func:`unigram_lm_score`: a document of individually-common
    tokens in implausible ORDER ("the the of and") scores low because
    each transition P(w_i | w_{i-1}) = count(w_{i-1} w_i) /
    count(w_{i-1}) is rare, which the unigram score cannot see.

    Same exact-integer discipline: per-transition probability in
    micro-units via integer div, per-doc score the integer mean over
    its transitions. Docs with fewer than two tokens have no
    transitions and are absent from the output (callers left-join
    and default, exactly like any feature table).

    Scale: bigram and unigram count tables are two partial-combine
    aggregations; the joins back are broadcastable at real-corpus
    bigram vocabularies (~10⁸ rows would switch to a bucketed join —
    same plan shape); scoring is one groupBy(doc).
    """
    toks = df.select(F.col(id_col), tokens(text_col).alias("t")).filter(
        # sequence(1, n-1) DESCENDS when n < 2 — guard, don't rely on it
        F.size("t") >= 2
    )
    bi = toks.select(
        F.col(id_col),
        F.explode(
            F.expr("transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))")
        ).alias("b"),
    ).select(id_col, "b.w1", "b.w2")
    uni = (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ucnt"))
    )
    bgc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bc"))
    scored = (
        bi.join(F.broadcast(bgc), ["w1", "w2"])
        .join(F.broadcast(uni), bi.w1 == uni.tok)
        # bc is a token-scaled bigram count — widen (r13 audit)
        .select(
            id_col,
            F.expr("(CAST(bc AS DECIMAL(38,0)) * 1000000) div ucnt").alias("cm"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("cm").alias("s"))
        .select(id_col, "n_bigrams", F.expr("s div n_bigrams").alias("lm2_micro"))
    )


def strip_markup(
    df: DataFrame, text_col: str = "text", out: str = "clean_text"
) -> DataFrame:
    """Web-corpus markup cleaning: remove HTML/XML tags, decode the
    five core entities, collapse runs of whitespace. Pure map-side
    regexp chain (JVM regex, whole-stage codegen — never a Python
    UDF); the same patterns run verbatim in the oracle, so the clean
    is engine-exact. Tag stripping is regex-based boilerplate removal
    (the CommonCrawl-style fast path), not an HTML parser — nested
    CDATA/script edge cases belong to a real extractor upstream.
    The tag pattern requires a tag-start character after ``<``
    (letter, ``/``, ``!``, or ``?`` — the last so processing
    instructions like ``<?xml ... ?>`` are stripped too), so
    comparative prose like ``5 < 10 and 20 > 7`` survives — a bare
    ``<[^>]*>`` would delete everything from a lone ``<`` to the
    next ``>``, newlines included."""
    c = F.col(text_col)
    c = F.regexp_replace(c, r"<[a-zA-Z/!?][^>]*>", " ")
    # &amp; decodes LAST (standard unescape order): decoding it first
    # double-decodes escaped-escapes — '&amp;lt;' is literal text
    # '&lt;' and must NOT come out as '<'.
    for ent, rep in (
        ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ):
        c = F.regexp_replace(c, ent, rep)
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out, c)
