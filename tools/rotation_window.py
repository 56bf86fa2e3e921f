"""Rebuild the driver-rotation window from CORRECTNESS_r*.json.

The driver hash-checks the FIRST ~50 registry entries per round, so
registry order is the correctness-coverage budget. The standing
protocol (queries/__init__.py, the _ROTATION_WINDOW handoff comment):
order ALL registry ids by how stale their latest driver hash-green
evidence is — never-checked ids first, then oldest cohort first,
alphabetical within a cohort. This tool computes that ordering
mechanically from the committed CORRECTNESS files and emits the
tuple body ready to paste, plus the cohort histogram and the
predicted drain for the next round's 50-budget (what the handoff
comment should say).

Usage: python tools/rotation_window.py [--budget 50] [--repo /root/repo]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
from collections import Counter


def latest_green(repo: str) -> dict[str, int]:
    """id -> newest round with rows+schema+HASH green (no err).

    ``hash_match`` must be literally True: a rows/schema-only pass
    (``hash_match: None`` — the driver skipped the value hash that
    round, e.g. the r01/r02/r04 rows-only entries) does NOT count as
    hash-green evidence, so such an id stays stale-ordered until a
    real hash-true round lands. (r16 advice: ``is not False`` silently
    advanced staleness for never-hash-verified ids.)
    """
    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        data = json.load(open(f))
        for qid, res in data.get("queries", data).items():
            if not isinstance(res, dict):
                ok = bool(res)
            else:
                ok = (
                    res.get("rows_match")
                    and res.get("schema_match")
                    and res.get("hash_match") is True
                    and not res.get("err")
                )
            if ok and rnd > latest.get(qid, -1):
                latest[qid] = rnd
    return latest


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--budget", type=int, default=50,
                    help="driver per-round hash-check budget")
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    args = ap.parse_args()
    sys.path.insert(0, args.repo)

    from configdrivendatapipeline_spark.queries import registry

    ids = list(registry())
    latest = latest_green(args.repo)
    never = sorted(i for i in ids if i not in latest)
    order = never + sorted(
        (i for i in ids if i in latest), key=lambda i: (latest[i], i)
    )

    hist = Counter(latest[i] for i in ids if i in latest)
    print(f"# registry ids: {len(ids)}; never-checked: {len(never)}")
    print(f"# latest-evidence histogram: "
          f"{dict(sorted(hist.items()))}", flush=True)

    window = order[: args.budget]
    drained = Counter(latest.get(i) for i in window)
    print(f"# next {args.budget}-budget drains: "
          + ", ".join(
              f"{n}x r{r if r is not None else '-never'}"
              for r, n in sorted(drained.items(),
                                 key=lambda kv: (kv[0] is not None, kv[0]))
          )
          + f" (…{window[-1]})")

    prev = object()
    for i in order:
        r = latest.get(i)
        if r != prev:
            n = sum(1 for x in order if latest.get(x) == r)
            tag = f"r{r}" if r is not None else "NEVER CHECKED"
            print(f"    # ---- latest driver evidence {tag} ({n} ids) ----")
            prev = r
        print(f'    "{i}",')
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
