"""BPE vocabulary training over the corpus — the tokenizer-building
step of an LLM data pipeline, expressed Spark-first.

The corpus is scanned ONCE (word-frequency aggregation); every merge
iteration then runs on the weighted VOCAB table, which is small by
construction (10⁵–10⁷ distinct words even at web scale) — so the
iterative part never touches corpus-sized data, exactly like the
k-means refinement loop. Each round is one aggregation + one
top-k reduction; the chosen pairs come back to the driver as a few
rows (the merge TABLE is the training output and is tiny by
definition). :func:`bpe_train` is the one Spark merge loop;
:func:`bpe_train_local` runs the same merges in driver memory after
one corpus-sized job. Both return ``[(step, pair, n), ...]``.

Merge application is defined as literal, left-to-right,
non-overlapping replacement on the space-joined symbol string — the
semantics `replace()` has in BOTH Spark and DuckDB, which is what
makes the whole training run hash-verifiable against a SQL oracle.
This deliberately diverges from canonical BPE wherever occurrences
of the winning pair SHARE a delimiter space: self-overlaps
("a a a" under pair "a a") and back-to-back occurrences ("a b a b"
under pair "a b" — the first replacement consumes the shared space,
so the second occurrence merges on a LATER step, and the same pair
can therefore be selected more than once, each selection's ``n``
counting occurrences before that step's replacement). Train, encode
and the SQL oracle all share these exact semantics, so the artifact
is self-consistent and deterministic — which matters more here than
canonical fidelity. Ties break lexicographically — engine- and
retry-stable where "first seen" would not be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: adjacent symbol pairs of the (trimmed, space-joined) symbol string
_PAIRS = (
    "transform(sequence(2, size(split(trim(sym), ' '))), "
    "i -> concat(element_at(split(trim(sym), ' '), i - 1), ' ', "
    "element_at(split(trim(sym), ' '), i)))"
)

#: Truncate the merge-application lineage every this-many replaces.
#: Each merge appends one `replace()` to the symbol column's
#: expression tree; left unchecked, a production 32k-merge vocabulary
#: yields a 32k-deep expression that breaks the analyzer and codegen
#: long before data size matters. Chunked `localCheckpoint` bounds
#: every plan segment to ≤ this depth — the frame being checkpointed
#: is the VOCAB table (10⁵–10⁷ rows at web scale), so the
#: materialization cost is trivial next to the corpus scan.
_CHECKPOINT_EVERY = 50


def _prepare_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """The vocab-preparation stage of :func:`bpe_train`: ONE
    corpus scan into a persisted (cnt, sym) table of space-padded
    symbol strings, right-sized to ~100k words per partition. Every
    merge step afterwards is a full Spark job over this table, so
    per-task overhead multiplies by the round count: a web-scale
    10⁵–10⁷-word vocab still gets tens of partitions, a small one
    collapses to 1 instead of paying default-parallelism empty tasks
    once per round (measured 8.4s → 3.1s at sf0.01 local[32]).
    Caller owns the returned frame's unpersist."""
    from configdrivendatapipeline_spark.llm.textstats import tokens

    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    ).persist()
    n_vocab = words.count()  # the corpus scan happens exactly once
    parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            int(n_vocab // 100_000) + 1,
        ),
    )
    vocab = (
        words.select(
            "cnt",
            F.concat(
                F.lit(" "), F.concat_ws(" ", F.split("word", "")), F.lit(" ")
            ).alias("sym"),
        )
        .coalesce(parts)
        .persist()
    )
    vocab.count()  # from the words cache — no second corpus scan
    words.unpersist()
    return vocab


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    batch_size: int = 1,
) -> list:
    """Learn ``n_merges`` BPE merges from the corpus; returns the
    merge table as driver rows ``[(step, pair, n), ...]`` — the
    artifact a tokenizer ships (n_merges rows by definition; a model
    parameter list, not row data).

    Each round is one aggregation over the vocab table that collects
    the top pairs by (count desc, pair asc). ``batch_size=1`` is the
    exact sequential trainer: the top pair always fills the batch, so
    each round applies one merge — the run the SQL oracle replays
    stage by stage. ``batch_size=B > 1`` is production recipe #2
    (SCALING.md "Round-9 BPE wall-clock boundary"): per round,
    select the top-B pairwise-DISJOINT pairs from one count
    snapshot and apply them all in a single job —
    ``n_merges / B`` sequential Spark rounds instead of ``n_merges``
    (32k merges at B=64 ⇒ ~500 rounds ≈ minutes at the measured
    per-round cost, vs ~13.4 h exact).

    Correctness of batching rests on one exact property: a merge of
    pair (a, b) destroys occurrences of pairs containing a or b (it
    rewrites ``… x a b y …`` adjacencies) and CREATES occurrences of
    pairs containing the new symbol a+b. So selected pairs must be
    disjoint on their symbols AND on their merged concatenations:
    no batch member's symbol may equal another member's a+b (e.g.
    (a, b) together with (ab, y) where ``ab`` is a prior-round
    symbol — the (a, b) replace would mint fresh ``ab y``
    adjacencies for the chained (ab, y) replace to consume). Under
    that two-sided disjointness the snapshot counts are exactly the
    counts sequential application would see, and the replaces
    commute (each replacement is space-delimited on both sides, so
    disjoint patterns cannot overlap or be created mid-batch). The
    recorded ``n`` values are therefore exact. The ONE documented
    divergence from exact BPE: a pair built from a symbol created
    earlier in the same batch (e.g. ("ab", c) right after (a, b))
    cannot be seen until the next round's snapshot, so such merges
    land up to one round later than exact training would place
    them — bounded deferral, not a different merge semantics.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    vocab = _prepare_vocab(df, text_col)
    merges: list[tuple[int, str, int]] = []
    current = vocab
    try:
        while len(merges) < n_merges:
            want = min(batch_size, n_merges - len(merges))
            # over-fetch so the disjointness filter can skip
            # overlapping candidates and still usually fill the batch
            top = (
                # guard BEFORE building pairs: sequence(2, 1) would
                # DESCEND on single-symbol words, not come back empty
                current.filter(F.size(F.split(F.trim("sym"), " ")) >= 2)
                .select("cnt", F.explode(F.expr(_PAIRS)).alias("pr"))
                .groupBy("pr")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.col("n").desc(), F.col("pr").asc())
                .limit(want * 3 + 8)
                .collect()
            )
            if not top:
                break
            used: set = set()
            batch: list[tuple[str, int]] = []
            for r in top:
                a, b = r["pr"].split(" ")
                merged_sym = a + b
                # Disjointness must cover the CREATED symbol too: a
                # replace of (a, b) destroys occurrences of pairs
                # containing a or b AND creates occurrences of pairs
                # containing a+b. If a+b is itself a live symbol
                # (built in a prior round), a batch-mate like
                # (a+b, y) would consume occurrences this replace
                # just created, making its recorded n non-snapshot
                # and the replaces non-commuting. So: skip a
                # candidate whose own symbols OR whose merged
                # concatenation collide with any earlier selection's
                # symbols or merged concatenation.
                if a in used or b in used or merged_sym in used:
                    continue
                used.update((a, b, merged_sym))
                batch.append((r["pr"], int(r["n"])))
                if len(batch) >= want:
                    break
            for pr, n in batch:
                merges.append((len(merges), pr, n))
                merged = pr.replace(" ", "")
                current = current.withColumn(
                    "sym",
                    F.replace(
                        F.col("sym"), F.lit(f" {pr} "), F.lit(f" {merged} ")
                    ),
                )
                done = len(merges)
                if done % _CHECKPOINT_EVERY == 0 and done < n_merges:
                    # bound the replace-chain depth (see
                    # _CHECKPOINT_EVERY); skip after the final merge —
                    # the post-merge vocab is never read again and the
                    # eager materialization would be one wasted job
                    current = current.localCheckpoint(eager=True)
    finally:
        vocab.unpersist()
    return merges


def bpe_encode_counts(
    df: DataFrame,
    merges: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge list and emit per-doc BPE token counts —
    the sizing pass (context packing, cost estimation) a tokenizer
    exists for. Applies merges to the DISTINCT word table (vocab-
    sized), then broadcast-joins the word → token-count map back to
    the corpus: the per-word merge chain is never evaluated per
    occurrence, which is what makes encode cheap at 100 TB."""
    from configdrivendatapipeline_spark.llm.textstats import tokens

    word_tokens = _word_token_counts(df, merges, text_col)
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("word"))
    return (
        toks.join(F.broadcast(word_tokens), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("wtok").alias("n_bpe_tokens"),
        )
    )


def _word_token_counts(
    df: DataFrame, merges: list[str], text_col: str
) -> DataFrame:
    """word → post-merge BPE token count, evaluated on the DISTINCT
    word table only (vocab-sized — the broadcastable encode map)."""
    from configdrivendatapipeline_spark.llm.textstats import tokens

    words = df.select(F.explode(tokens(text_col)).alias("word")).distinct()
    sym = words.select(
        "word",
        F.concat(
            F.lit(" "), F.concat_ws(" ", F.split("word", "")), F.lit(" ")
        ).alias("sym"),
    )
    for i, pr in enumerate(merges):
        merged = pr.replace(" ", "")
        sym = sym.withColumn(
            "sym",
            F.replace(F.col("sym"), F.lit(f" {pr} "), F.lit(f" {merged} ")),
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and (i + 1) < len(merges):
            # bound the replace-chain depth (see _CHECKPOINT_EVERY)
            sym = sym.localCheckpoint(eager=True)
    return sym.select(
        "word", F.size(F.split(F.trim("sym"), " ")).cast("long").alias("wtok")
    )


def bpe_fertility(
    df: DataFrame,
    merges: list[str],
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility per stratum: BPE tokens emitted per
    whitespace word, in exact integer micro-units — the
    tokenizer-equity audit a multilingual corpus runs (a tokenizer
    trained on the head languages fragments the tail into many more
    tokens per word, silently taxing those languages' context budget
    and training cost).

    Same cost shape as encode: the merge chain runs on the DISTINCT
    word table only, a broadcast word → token-count map joins back,
    and the rollup is one small aggregation per stratum: this is
    :func:`bpe_encode_counts` grouped by ``group_col``.
    """
    return bpe_encode_counts(df, merges, group_col, text_col).select(
        group_col,
        "n_words",
        "n_bpe_tokens",
        # n_bpe_tokens is a per-stratum TOKEN count (~1e14 at 100 TB)
        # — widen the micro product; the fertility ratio itself
        # (tokens per word, ≤ max word length × 1e6) fits BIGINT
        # (r13 token-scale audit)
        F.expr(
            "(CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000) div n_words"
        ).alias("fertility_micro"),
    )


def merge_pairs_from_table(merges: DataFrame) -> list:
    """Extract the ordered merge-pair list from a trained merge
    TABLE (the ``bpe_train`` output relation) — how a stored
    tokenizer artifact re-enters an encode stage. Driver-sized by
    the same argument as :func:`bpe_train`'s returned rows."""
    return [
        r["pair"] for r in merges.orderBy("step").select("step", "pair").collect()
    ]


def _sym_pairs(sym: str) -> list:
    """Adjacent symbol pairs of a padded symbol string — the Python
    mirror of the ``_PAIRS`` SQL expression (split the trimmed
    string on single spaces, pair neighbors, every occurrence
    counted)."""
    toks = sym.strip(" ").split(" ")
    return [f"{a} {b}" for a, b in zip(toks, toks[1:])]


#: Default cap on bpe_train_local's collected vocabulary. 1M weighted
#: (word, count) rows is tens of MB on the driver — comfortably a
#: "model input", far above any sane tokenizer-training vocab — while
#: an UNCAPPED distinct-word table on a 100 TB web corpus is billions
#: of rows and would OOM the driver (r16 verdict item: the cap used to
#: be optional, so the local trainer could be pointed at an uncapped
#: corpus by accident). Pass ``max_vocab=None`` to explicitly opt in
#: to the uncapped whole-corpus collect.
DEFAULT_MAX_VOCAB = 1_000_000


def bpe_train_local(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    max_vocab: int | None = DEFAULT_MAX_VOCAB,
) -> list:
    """Production BPE recipe #1 (SCALING.md "Round-9 BPE wall-clock
    boundary"): Spark runs the ONE corpus-sized job — the
    word-frequency aggregation — and the merge loop runs in-memory
    on the collected vocab (10⁵–10⁷ weighted words is megabytes; a
    model input, not row data). Returns ``[(step, pair, n), ...]``,
    bit-identical to :func:`bpe_train` at ``batch_size=1`` by
    construction:

    - pair counting mirrors ``_PAIRS`` (every adjacent occurrence,
      weighted by word count), ties break lexicographically;
    - merge application is the SAME literal left-to-right
      non-overlapping ``str.replace`` on the padded symbol string —
      Python, Java and DuckDB ``replace`` share these semantics, so
      the shared-delimiter quirks documented in the module docstring
      ("a a a", "a b a b") reproduce exactly.

    The loop is the classic incremental trainer: a lazy max-heap
    over pair counts plus a pair→words occurrence index, so each
    merge touches only the words containing the winning pair —
    minutes for a 32k-merge production vocabulary where the
    driver-paced exact trainer measures ~13.4 h.

    ``max_vocab`` caps the collected vocabulary to the top-K words by
    (count desc, word asc) — the corpus-sample training mode; the
    merge table then reflects the capped vocab (documented divergence
    from exact whole-corpus training when the corpus has more distinct
    words than the cap). It DEFAULTS to :data:`DEFAULT_MAX_VOCAB` (1M)
    so the driver-side collect is bounded by construction; pass
    ``max_vocab=None`` to explicitly opt in to the uncapped
    whole-corpus collect. The cap's top-K is a
    ``TakeOrderedAndProject`` (orderBy+limit), not a global sort, so
    the bounded path costs no extra shuffle over the aggregation that
    precedes it.

    Raises on supplementary-plane characters: Spark splits symbols
    on UTF-16 code units (surrogate halves), Python on code points —
    rather than silently diverge, non-BMP corpora must use the
    distributed trainer.
    """
    import heapq
    from collections import Counter, defaultdict

    from configdrivendatapipeline_spark.llm.textstats import tokens

    words_df = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if max_vocab is not None:
        words_df = words_df.orderBy(
            F.col("cnt").desc(), F.col("word").asc()
        ).limit(int(max_vocab))
    vocab_rows = words_df.collect()  # the one corpus-sized job

    syms: list[str] = []
    cnts: list[int] = []
    for r in vocab_rows:
        w = r["word"]
        if any(ord(ch) > 0xFFFF for ch in w):
            raise ValueError(
                "bpe_train_local guarantees bit-identity with the "
                "distributed trainer for BMP text only (Spark splits "
                f"on UTF-16 code units); word {w!r} contains a "
                "supplementary-plane character — use the distributed "
                "trainer"
            )
        syms.append(" " + " ".join(w) + " ")
        cnts.append(int(r["cnt"]))

    pair_counts: Counter = Counter()
    occ: defaultdict = defaultdict(set)  # pair -> word indices
    for i, sym in enumerate(syms):
        for p in _sym_pairs(sym):
            pair_counts[p] += cnts[i]
            occ[p].add(i)
    heap = [(-n, p) for p, n in pair_counts.items()]
    heapq.heapify(heap)

    merges: list = []
    for step in range(n_merges):
        # lazy-invalidation pop: entries are stale whenever a merge
        # changed their pair's count after they were pushed
        while heap:
            neg_n, pr = heap[0]
            if pair_counts.get(pr, 0) == -neg_n:
                break
            heapq.heappop(heap)
            if pair_counts.get(pr, 0) > 0:
                heapq.heappush(heap, (-pair_counts[pr], pr))
        if not heap:
            break
        n, pr = -heap[0][0], heap[0][1]
        merges.append((step, pr, n))
        merged = pr.replace(" ", "")
        touched: Counter = Counter()
        for i in sorted(occ[pr]):
            old = syms[i]
            new = old.replace(f" {pr} ", f" {merged} ")
            if new == old:
                continue
            syms[i] = new
            for p in _sym_pairs(old):
                touched[p] -= cnts[i]
                occ[p].discard(i)
            for p in _sym_pairs(new):
                touched[p] += cnts[i]
                occ[p].add(i)
        for p, d in touched.items():
            if d:
                pair_counts[p] += d
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                    occ.pop(p, None)
                else:
                    heapq.heappush(heap, (-pair_counts[p], p))
    return merges
