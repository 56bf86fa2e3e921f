"""Batched-BPE fidelity curve: divergence rate vs batch size B
(VERDICT r10 item 4).

Recipe #2 (llm/bpe.py:bpe_train at batch_size=B) trades merge-loop
rounds for bounded deferral: per round it applies the top-B
symbol-AND-merged-concatenation-disjoint pairs from one snapshot, so
a pair that collides with a batch-mate lands one round later than
exact training would place it. This probe MEASURES what that costs in merge-table
fidelity on the real corpus, so the recipe ships with a tuning curve
(B vs wall-clock vs divergence) instead of one point.

Per B it reports, against the exact sequential trainer's table at the
same n_merges:

- ``pos_div``  — fraction of steps whose pair differs positionally
  (order drift; harmless to the learned vocabulary if the SET agrees)
- ``set_div``  — fraction of exact-table pairs missing from the
  batched table entirely (true vocabulary drift)
- ``cnt_div``  — among pairs present in both, fraction whose recorded
  snapshot count differs (should be 0 for pairs applied in the same
  relative order; deferral can legitimately change counts)

Usage:
    python tools/bpe_divergence.py [--sf DIR] [--merges N] [--batches 1,4,16,64]
    python tools/bpe_divergence.py --synthetic-docs 400 --merges 1000 --batches 40,20,10,2

The real sf0.1 documents corpus exhausts at 89 merges, so the
production operating point (32k merges at B=64 ⇒ n/B ≈ 500 rounds)
was unmeasurable on it (round-11 curve stops at n/B = 80).
``--synthetic-docs`` swaps in a deterministic syllable-composed
corpus whose word vocabulary is deep enough to sustain ≥1000
merges, putting n/B = 25/50/100/500 inside the measured range
(VERDICT r11 item 2).

Prints one JSON line per B plus a trailing exact-baseline line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

#: Composable sub-word units for the synthetic deep-merge corpus.
#: Two- and three-letter syllables compose into pronounceable-ish
#: words the way natural text composes morphemes, so BPE's pair
#: distribution is heavy-tailed (a few syllable bigrams dominate,
#: as 'th'/'he' do in English) instead of exhausting like the tiny
#: fixture vocabulary does.
_SYLLABLES = (
    "ba ce di fo gu ha ki lo mu na pe ri so tu va we xi yo zu qa "
    "bla cre dro fle gri kno pla que sta tri vro wra sche spli "
    "mon ter ful ish est ing ed er an on at en or"
).split()


def synthetic_corpus(spark, n_docs: int = 400, seed: int = 7):
    """Deterministic synthetic documents frame (doc_id, text) with a
    DEEP BPE merge budget: ~3000 distinct words of 3–6 syllables,
    Zipf-weighted both in syllable choice and word choice, so pair
    frequencies decay smoothly instead of hitting a cliff. A plain
    LCG (same constants as Numerical Recipes) replaces ``random`` so
    the corpus is bit-identical across platforms and Python builds —
    the pinned divergence-bound test replays it exactly."""
    state = seed & 0xFFFFFFFF

    def rnd(n: int) -> int:
        nonlocal state
        state = (state * 1664525 + 1013904223) & 0xFFFFFFFF
        return state % n

    def zipf_pick(items: list) -> str:
        # rank-weighted: rank r picked with weight ~ 1/(r+1) via
        # rejection-free cumulative trick on a small precomputed table
        n = len(items)
        # triangular-ish skew: min of two uniforms biases toward rank 0
        r = min(rnd(n), rnd(n))
        return items[r]

    words = []
    for _ in range(3000):
        k = 3 + rnd(4)
        words.append("".join(zipf_pick(_SYLLABLES) for _ in range(k)))
    docs = []
    for i in range(n_docs):
        docs.append((i, " ".join(zipf_pick(words) for _ in range(120))))
    return spark.createDataFrame(docs, "doc_id INT, text STRING")


def divergence(exact: list, got: list) -> dict:
    """Merge-table divergence metrics. A pair can legitimately occur
    at SEVERAL steps of one table (space-delimited replacement skips
    alternating adjacent occurrences, so e.g. 'a b' re-emerges — see
    the ababy corpus in tests/test_llm.py), so counts are compared as
    per-pair COUNT MULTISETS, not last-wins scalars; cnt_div is the
    fraction of shared pairs whose count multisets differ, bounded to
    [0, 1] by construction."""
    n = len(exact)
    if n == 0:
        return {"pos_div": 0.0, "set_div": 0.0, "cnt_div": 0.0}
    pos = sum(1 for a, b in zip(exact, got) if a[1] != b[1])
    pos += abs(len(exact) - len(got))

    def by_pair(table: list) -> dict:
        acc: dict = {}
        for _, p, c in table:
            acc.setdefault(p, []).append(c)
        return {p: sorted(cs) for p, cs in acc.items()}

    ecnt, gcnt = by_pair(exact), by_pair(got)
    missing = len(set(ecnt) - set(gcnt))
    common = set(ecnt) & set(gcnt)
    cnt = sum(1 for p in common if ecnt[p] != gcnt[p])
    return {
        "pos_div": round(pos / n, 4),
        "set_div": round(missing / n, 4),
        "cnt_div": round(cnt / max(1, len(common)), 4),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--merges", type=int, default=80)
    ap.add_argument("--batches", default="1,4,16,64")
    ap.add_argument(
        "--synthetic-docs",
        type=int,
        default=0,
        help="use the deterministic deep-merge syllable corpus with "
        "this many documents instead of the --sf parquet corpus",
    )
    args = ap.parse_args()

    sys.path.insert(0, "/root/repo")
    from configdrivendatapipeline_spark.llm.bpe import bpe_train
    from configdrivendatapipeline_spark.queries import load
    from configdrivendatapipeline_spark.session import get_spark

    spark = get_spark("bpe-divergence")
    if args.synthetic_docs:
        docs = synthetic_corpus(spark, n_docs=args.synthetic_docs)
    else:
        docs = load(spark, args.sf, "documents")
    bpe_train(docs, n_merges=3)  # warm JVM/codegen/parquet

    t0 = time.monotonic()
    exact = bpe_train(docs, n_merges=args.merges)
    exact_sec = round(time.monotonic() - t0, 1)

    for b in [int(x) for x in args.batches.split(",")]:
        t0 = time.monotonic()
        got = bpe_train(docs, n_merges=args.merges, batch_size=b)
        sec = round(time.monotonic() - t0, 1)
        d = divergence(exact, got)
        print(
            json.dumps(
                {
                    "B": b,
                    "sec": sec,
                    "speedup": round(exact_sec / sec, 2) if sec else None,
                    "merges": len(got),
                    **d,
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "B": "exact",
                "sec": exact_sec,
                "merges": len(exact),
                "sf": "synthetic" if args.synthetic_docs else args.sf,
                "synthetic_docs": args.synthetic_docs or None,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
