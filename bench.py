"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {...}, "sf": ...}.

Headline set: the flagship pricing summary plus one representative
query per major SURVEY.md §2 family that exists in the registry.
Timing excludes Spark session startup and includes a warm-up of the
parquet footers; each query is executed once via a count-style action
that forces the full plan without driver materialization.

r18 addition (additive only — existing keys unchanged): a fourth,
untimed instrumented pass per query emits deterministic metrics
("metrics": {name: {jobs, shuffle_bytes, exchanges, broadcasts,
codegen_compiles}}) so byte-reduction and shuffle-removal wins are
visible even where sf0.1 wall seconds are noise-bound (see
OPTIMIZATION_r18.md). A query that raises in that pass reports
{"error": text} in place of its counters.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from configdrivendatapipeline_spark.queries import registry
from configdrivendatapipeline_spark.session import codegen_compiles, get_spark

# Ordered preference — first N that exist in the registry are run.
HEADLINE = [
    "agg_groupby",
    "join_multiway_star",
    "win_topk_per_group",
    "agg_count_distinct",
    "sort_multi",
    "llm_exact_dedup",
    "llm_cosine_topk",
    "llm_minhash_dedup",
    "stream_tumbling",
    "val_summary",
    "enr_scd2",
    "fn_string",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("cddp-bench")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    names = [n for n in HEADLINE if n in reg] or sorted(reg)[:8]

    # Warm-up: run every headline plan once at the smallest SF so
    # whole-stage-codegen JIT cost isn't charged to the measurement
    # (plan shape, not data volume, drives codegen).
    warm_dir = "/root/testdata/sf0.001"
    warm_dir = warm_dir if os.path.isdir(warm_dir) else sf_dir
    for name in names:
        try:
            reg[name].build(spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass

    # Median-of-3 per query: single-shot timings on this box swing
    # ±60% on the shuffle-heavy queries (JIT/GC noise — identical code
    # measured 9.6 s..15.6 s total across runs in round 4), and the
    # median of three independent executions sits reliably inside the
    # steady-state band. Runs are interleaved (pass over all queries,
    # three passes) so one GC pause can't poison one query's all three.
    runs: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(3):
        for name in names:
            t0 = time.monotonic()
            # noop write executes the complete plan on the executors
            # without collecting results to the driver.
            reg[name].build(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs[name].append(time.monotonic() - t0)
    timings = {name: round(sorted(ts)[1], 3) for name, ts in runs.items()}

    # Deterministic per-query metrics (ADDITIVE — the timed medians
    # above are untouched; this fourth, UNtimed pass runs after them).
    # Wall seconds at sf0.1 are an overhead-bound noise instrument on
    # this box (every headliner runs faster at 8 cores than 32, r17
    # scaling block), so byte-reduction and shuffle-removal wins are
    # invisible in `queries`. These three metrics pin them exactly:
    #   jobs            — Spark jobs launched by one noop-sink run
    #   shuffle_bytes   — shuffle bytes written (executor totals delta)
    #   exchanges/broadcasts — shuffle / broadcast Exchange nodes in
    #                     the pre-execution physical plan (static
    #                     shape; AQE reuse doesn't mask structure)
    #   codegen_compiles — generated classes Janino compiled for this
    #                     run; after three timed runs of the same plan
    #                     every class should be a codegen-cache hit
    metrics: dict[str, dict] = {}
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tracker = sc.statusTracker()

    def _flush() -> None:
        # The status store is fed asynchronously off the listener bus;
        # drain it so post-action deltas are complete, not racy.
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:
            time.sleep(0.5)

    def _shuffle_write() -> int:
        exes = jsc.statusStore().executorList(False)
        return sum(
            exes.apply(i).totalShuffleWrite() for i in range(exes.size())
        )

    for name in names:
        try:
            # Snapshot BEFORE build: streaming queries drain their
            # micro-batches inside build(), and the timed passes above
            # time build+write — the deltas must cover the same span.
            _flush()
            jobs0 = len(tracker.getJobIdsForGroup(None))
            shuf0 = _shuffle_write()
            compiles0 = codegen_compiles(spark)
            df = reg[name].build(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            lines = [
                ln.lstrip(" +-*:(0123456789)")
                for ln in plan.splitlines()
            ]
            n_exch = sum(ln.startswith("Exchange") for ln in lines)
            n_bcast = sum(ln.startswith("BroadcastExchange") for ln in lines)
            df.write.format("noop").mode("overwrite").save()
            _flush()
            metrics[name] = {
                "jobs": len(tracker.getJobIdsForGroup(None)) - jobs0,
                "shuffle_bytes": _shuffle_write() - shuf0,
                "exchanges": n_exch,
                "broadcasts": n_bcast,
                "codegen_compiles": codegen_compiles(spark) - compiles0,
            }
        except Exception as exc:  # metrics never fail the bench
            metrics[name] = {"error": f"{type(exc).__name__}: {exc}"[:500]}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "metrics": metrics,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
