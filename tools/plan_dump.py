"""Dump .explain("formatted") for named queries to plans/<tag>/<name>_<suffix>.txt.

Usage: python tools/plan_dump.py --tag r17 --suffix before [names...]
Default names: the bench HEADLINE list. Plans are captured at the bench
scale factor (sf0.1) so PushedFilters/stats match what the bench runs.
Expression ids (``#123``, ``#123L``), exchange plan ids
(``[plan_id=123]``) and the run directory's pid/hex suffixes change on
every run and are stripped, so dumps of two commits diff cleanly.
"""
from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from configdrivendatapipeline_spark.queries import registry
from configdrivendatapipeline_spark.session import get_spark

_EXPR_ID = re.compile(r"#\d+L?\b")
# Exchange / BroadcastExchange argument: `..., ENSURE_REQUIREMENTS, [plan_id=648]`
_PLAN_ID = re.compile(r",? ?\[plan_id=\d+\]")
# a path inside the run directory: cddp_scratch-<pid>-<hex>/<name>-<hex>/...
_RUN_PATH = re.compile(r"cddp_scratch-\d+-[0-9a-f]{8}[^\s,\]\)]*")
_HEX_SUFFIX = re.compile(r"-(?:\d+-)?[0-9a-f]{8}(?=/|$)")


def stable(plan: str) -> str:
    """``plan`` with expression ids, plan ids and run-directory suffixes removed."""
    plan = _PLAN_ID.sub("", _EXPR_ID.sub("#", plan))
    return _RUN_PATH.sub(lambda m: _HEX_SUFFIX.sub("", m.group(0)), plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="r17")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    names = args.names
    if not names:
        from bench import HEADLINE

        names = HEADLINE
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("cddp-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    for name in names:
        df = reg[name].build(spark, args.sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(stable(buf.getvalue()))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
