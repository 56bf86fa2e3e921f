"""CC-family scale probe: pair build + label propagation at 1x/5x/25x.

The connected-components family (llm_jaccard_neardup,
llm_dup_clusters, llm_cluster_sizes, llm_dedup_canonical,
pipeline_dedup_reuse) sat in scale_probe's documented
quadratic-pair exclusion class: plain key-offset replication keeps
the TEXT identical across replicas, so every doc gains k-1 exact
clones, near-dup pair OUTPUT grows ~k² and the wall ratio measures
result volume, not plan efficiency. This probe closes that gap with
TOKEN-SALTED replication (scale_probe.stage(salt_docs=True)):
replicas share no vocabulary, cross-replica Jaccard is 0, and the
corpus scales with its pair table and cluster structure growing
exactly k× — the shape a k×-larger real corpus has.

Per factor it reports:
- the PPJoin pair build (t=0.8 raw counts, the shared artifact every
  family consumer reads, built once per session and fixture): wall +
  pair count. Nothing is staged across runs, so every process pays
  this build cold;
- duplicate_clusters over the exact-filtered t=0.95 edges: wall,
  component count, and the PROPAGATION ROUND COUNT
  (dedup.LAST_CC_ROUNDS) — pointer-doubled min-label propagation
  converges in O(log diameter) rounds, so the round count must stay
  FLAT as rows grow k× (salting preserves per-replica cluster
  diameter); a round count growing with k would mean the iterative
  cost compounds with data size and the 100 TB story fails;
- steady-state walls for the five registry consumers (pair table
  already built — the per-query cost a census sees after the one
  build per fixture).

Usage: python tools/cc_probe.py [--factors 1 5 25]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = "/root/testdata/sf0.1"

FAMILY = [
    "llm_jaccard_neardup",
    "llm_dup_clusters",
    "llm_cluster_sizes",
    "llm_dedup_canonical",
    "pipeline_dedup_reuse",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", type=int, nargs="+", default=[1, 5, 25])
    ap.add_argument("--ids", nargs="+", default=FAMILY,
                    help="registry ids to time per factor (default: the "
                         "five CC-family ids; pipeline_dedup_reuse is "
                         "worth dropping at x25 — its warm run pays an "
                         "in-pipeline t=0.95 build of the SAME pair "
                         "artifact the build row already times)")
    args = ap.parse_args()

    from configdrivendatapipeline_spark.llm import dedup
    from configdrivendatapipeline_spark.queries import load, registry
    from configdrivendatapipeline_spark.queries.llm_q import _neardup_scores
    from configdrivendatapipeline_spark.session import get_spark
    from tools.scale_probe import stage

    spark = get_spark("cc-probe")
    reg = registry()
    errored = 0

    for factor in args.factors:
        sf_dir = (
            BASE_SF if factor == 1 else stage(spark, factor, salt_docs=True)
        )
        docs = load(spark, sf_dir, "documents")
        n_docs = docs.count()

        t0 = time.monotonic()
        scored = _neardup_scores(spark, sf_dir)
        n_pairs = scored.count()
        build_s = time.monotonic() - t0

        pairs95 = dedup.filter_jaccard(scored, 0.95).select("id_a", "id_b")
        t0 = time.monotonic()
        comp = dedup.duplicate_clusters(pairs95, docs, id_col="doc_id")
        n_comp = comp.select("component").distinct().count()
        cc_s = time.monotonic() - t0
        rounds = dedup.LAST_CC_ROUNDS

        print(
            f"\nfactor x{factor}: docs={n_docs} pairs_t80={n_pairs} "
            f"build={build_s:.1f}s  cc={cc_s:.1f}s "
            f"rounds={rounds} components={n_comp}",
            flush=True,
        )
        for name in args.ids:
            try:
                reg[name].build(spark, sf_dir).count()  # warm
                t0 = time.monotonic()
                reg[name].build(spark, sf_dir).count()
                print(
                    f"  {name:24s} {time.monotonic() - t0:8.1f}s",
                    flush=True,
                )
            except Exception as e:  # noqa: BLE001
                msg = str(e).split("\n")[0][:120]
                print(f"  {name:24s} ERROR {type(e).__name__}: {msg}",
                      flush=True)
                errored += 1
    if errored:
        print(f"{errored} id(s) errored", flush=True)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
