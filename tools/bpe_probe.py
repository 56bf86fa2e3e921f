"""Measure the BPE-training wall-clock boundary (VERDICT r8 item 3).

Exact distributed BPE is inherently driver-paced: every merge is one
Spark job over the vocab table plus a small top-pair collect
(llm/bpe.py:bpe_train at batch_size=1). This probe measures per-merge cost at a real
merge count (default 1,000) so SCALING.md can state a MEASURED
extrapolation to a production 32k-merge vocabulary instead of a
guess.

Usage:
    python tools/bpe_probe.py [--sf DIR] [--merges N] [--window W]

Prints one JSON line: total seconds, merges completed, per-merge cost
overall and over the final W merges (steady-state — early merges are
cheaper because the hot pairs die out fast), and the 32k-merge
extrapolation from the steady-state rate.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--merges", type=int, default=1000)
    ap.add_argument("--window", type=int, default=200)
    ap.add_argument(
        "--synthetic-vocab",
        type=int,
        default=0,
        metavar="N",
        help="ignore --sf and train on a deterministic corpus of N "
        "distinct 16-char words (the driver testdata's fixed word "
        "pool exhausts after ~89 merges — measured, see "
        "docs/BPE_PROBE_r09*.json — so sustained-merge cost needs a "
        "corpus whose vocabulary doesn't fully merge away)",
    )
    args = ap.parse_args()

    sys.path.insert(0, "/root/repo")
    from configdrivendatapipeline_spark.llm.bpe import bpe_train
    from configdrivendatapipeline_spark.queries import load
    from configdrivendatapipeline_spark.session import get_spark

    spark = get_spark("bpe-probe")
    if args.synthetic_vocab:
        from pyspark.sql import functions as F

        # word_i = the 16-hex-char md5 prefix of i: N distinct words
        # over a 16-symbol alphabet, so initial pair diversity is
        # dense (≤256 kinds) and merged symbols keep spawning fresh
        # pairs — the vocabulary never fully merges away within any
        # realistic n_merges. Deterministic across runs and engines.
        n = args.synthetic_vocab
        words = spark.range(n).select(
            (F.col("id") % 10_000).alias("doc_id"),
            F.substring(F.md5(F.col("id").cast("string")), 1, 16).alias("word"),
        )
        docs = words.groupBy("doc_id").agg(
            F.concat_ws(" ", F.collect_list("word")).alias("text")
        )
    else:
        docs = load(spark, args.sf, "documents")

    # Warm the JVM/codegen paths so the measurement isn't startup.
    bpe_train(docs, n_merges=3)

    t0 = time.monotonic()
    merges = bpe_train(docs, n_merges=args.merges)
    total = time.monotonic() - t0
    done = len(merges)

    # Steady-state rate: time the final --window merges separately by
    # re-running to (done - window) and subtracting. One extra run is
    # cheaper and more honest than instrumenting the library with
    # timing hooks.
    head = max(0, done - args.window)
    t1 = time.monotonic()
    bpe_train(docs, n_merges=head)
    head_s = time.monotonic() - t1
    tail_s = max(0.0, total - head_s)
    tail_n = done - head
    per_merge_tail = tail_s / tail_n if tail_n else float("nan")

    out = {
        "sf": (
            f"synthetic:{args.synthetic_vocab}-word-vocab"
            if args.synthetic_vocab
            else args.sf
        ),
        "merges_requested": args.merges,
        "merges_completed": done,
        "total_s": round(total, 1),
        "per_merge_s_overall": round(total / done, 4) if done else None,
        "steady_state_window": tail_n,
        "per_merge_s_steady": round(per_merge_tail, 4),
        "extrapolated_32k_merges_hours": round(
            32_000 * per_merge_tail / 3600, 2
        ),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
