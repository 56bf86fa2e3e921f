"""Spark-side wall-clock census over the full query registry.

The correctness harness' per-query times fold in the DuckDB oracle,
which at some SFs dwarfs the Spark side (the four documented
quadratic-ORACLE ids most of all). This census times ONLY the Spark
plan — build + execute (count) — per registry id, so slow entries
point at engine plans, not oracle replays. Output: one JSON line per
query (name, seconds, rows) to stdout, then a sorted top-N summary
to stderr.

Usage: python tools/timing_census.py [--sf DIR] [--top 15] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run_entries(spark) -> set[str]:
    """Entries of the process's scratch run directory. Everything the
    engine stages (doubled streaming feeds, binary-file stages,
    scratch parquet) lands there as ``<name>-<8 hex>``, so the entry
    set is the complete observable staging state."""
    from configdrivendatapipeline_spark.scratch import run_dir

    return set(os.listdir(run_dir(spark)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from configdrivendatapipeline_spark.queries import registry
    from configdrivendatapipeline_spark.session import get_spark

    spark = get_spark("timing-census")
    reg = registry()
    names = args.names or list(reg)
    # Warm the session before timing anything: the first ids
    # otherwise absorb JVM/codegen warm-up, the first parquet-footer
    # reads, and Python-worker-pool startup — the round-10 census
    # diff flagged five head-of-registry ids at 2-45x purely from
    # the coverage-window rotation moving them to the front
    # (steady-state re-runs matched round 9 exactly).
    from pyspark.sql import functions as F

    spark.range(1_000_000).agg(F.sum("id")).collect()
    # Warm-up is best-effort, not a precondition: a fixture dir
    # missing either table (e.g. a --names run over a trimmed
    # fixture) must not crash the census before it starts.
    try:
        warm_tables = spark.read.parquet(f"{args.sf}/lineitem.parquet")
        warm_tables.agg(F.count(F.lit(1))).collect()
    except Exception as exc:
        print(f"warm-up skip (lineitem): {str(exc)[:120]}", file=sys.stderr)
    try:
        pdf = spark.read.parquet(f"{args.sf}/documents.parquet").limit(64)
        pdf.mapInPandas(lambda it: it, pdf.schema).count()  # pandas workers
    except Exception as exc:
        print(f"warm-up skip (documents): {str(exc)[:120]}", file=sys.stderr)
    out = []
    for name in names:
        # Snapshot the run directory around each timed run: an id
        # that builds a scratch fixture inside its window (a doubled
        # streaming feed) pays that one-off build in ITS census
        # seconds; later ids of the session reuse it. Annotating the
        # line makes the census-vs-steady gap attributable
        # mechanically (r16 verdict item 8: stream_dedup_watermark's
        # 16 s census / 2.2 s steady needed a human to explain).
        pre_entries = _run_entries(spark)
        t0 = time.monotonic()
        try:
            n = reg[name].build(spark, args.sf).count()
            sec = round(time.monotonic() - t0, 2)
            rec = {"name": name, "sec": sec, "rows": n}
            staged = sorted(
                {e.rsplit("-", 1)[0] for e in _run_entries(spark) - pre_entries}
            )
            if staged:
                rec["cold_stage"] = staged
            out.append(rec)
            print(json.dumps(rec), flush=True)
        except Exception as exc:  # keep the census moving; report
            print(
                json.dumps({"name": name, "err": str(exc)[:200]}), flush=True
            )
    out.sort(key=lambda r: -r["sec"])
    print(f"-- top {args.top} of {len(out)} by Spark-side seconds --", file=sys.stderr)
    for r in out[: args.top]:
        print(f"{r['sec']:8.2f}s  {r['name']}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
