"""Benchmark entry point: one seeded run of one workload.

    python3 perfbench/run.py --workload etl_write --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from
the seed, starts ``worker.py`` as a fresh process that sets up the
engine's session and runs the passes, checks every operation's output
against its registry oracle in DuckDB (outside the timed region, in
this process, so DuckDB's memory is not the Spark JVM's), and prints
two JSON lines: run facts (cores, Spark version, seed, input rows,
per-op check results), then the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.

Each run works in its own directory under ``.perfbench/`` (temp dir,
Spark scratch and local dirs, working directory, sinks, inputs), which
is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

import gen  # noqa: E402
from spans import median, percentile, tail_percentile  # noqa: E402
from workloads import WARM_PASSES, WORKLOADS, Workload  # noqa: E402

PACKAGE = "configdrivendatapipeline_spark"
WORKER_TIMEOUT_S = 160


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def end_to_end(result: dict, setup_s: float, units: dict[str, str]) -> tuple[dict, dict]:
    """End-to-end metrics from untraced passes, plus facts about them:
    per-pass figures, each operation's latencies, and the wall-clock
    latencies BENCHMARK.json does not gate."""
    cold, warm = result["passes"][0], result["passes"][1:1 + WARM_PASSES]
    warm = [p for p in warm if not p["traced"]]
    lat = [o["wall_s"] for p in warm for o in p["ops"] if not o.get("error")]
    # fewer than 20 samples leave no percentile with ten above it: the
    # tail is then the slowest sample
    p_tail = tail_percentile(len(lat)) or 100.0
    vals = {
        "setup_s": setup_s,
        "cold_pass_s": cold["wall_s"],
        "pass_s": median([p["wall_s"] for p in warm]),
        "op_p50_s": median(lat),
        "op_tail_s": percentile(lat, p_tail),
        "cpu_s": sum(p["cpu_s"] for p in warm) / len(warm),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    metrics = {k: (vals[k], units[k]) for k in units}
    by_op: dict[str, list[float]] = {}
    for p in warm:
        for o in p["ops"]:
            by_op.setdefault(o["id"], []).append(round(o["wall_s"], 3))
    facts = {
        # on a shared host, hypervisor steal moves these by more than
        # the largest bound BENCHMARK.json may set, so they are
        # reported, not gated
        "wall": {k: v for k, v in vals.items() if k not in units},
        "op_tail_percentile": p_tail,
        "op_samples": len(lat),
        # every pass after the cold one; the metrics use the first WARM_PASSES
        "all_warm_pass_s": [round(p["wall_s"], 3) for p in result["passes"][1:]],
        "warm_pass_s": [round(p["wall_s"], 3) for p in warm],
        "warm_cpu_s": [round(p["cpu_s"], 2) for p in warm],
        # hypervisor steal summed over all CPUs: high values mark runs
        # slowed by other tenants, not by the program
        "steal_s": {"cold": round(cold["steal_s"], 2), "warm": [round(p["steal_s"], 2) for p in warm]},
        "cold_op_s": {o["id"]: round(o["wall_s"], 3) for o in cold["ops"]},
        "warm_op_s": by_op,
    }
    return metrics, facts


def per_layer(result: dict, setup_s: float, units: dict[str, str]) -> tuple[dict, dict]:
    """Per-layer metrics: medians over traced warm passes, and tracing
    overhead as traced minus untraced warm pass time."""
    warm = result["passes"][1:1 + WARM_PASSES]
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    vals: dict[str, float] = {"session.start_s": setup_s}
    for key in traced[0]["layers"]:
        vals[key] = median([p["layers"][key] for p in traced])
    traced_s = median([p["wall_s"] for p in traced])
    plain_s = median([p["wall_s"] for p in plain])
    vals["trace.pass_s"] = traced_s
    vals["trace.overhead_s"] = traced_s - plain_s
    metrics = {k: (vals[k], units[k]) for k in units}
    facts = {"traced_passes": len(traced), "untraced_passes": len(plain),
             "trace_overhead_frac": (traced_s - plain_s) / plain_s}
    return metrics, facts


def check_outputs(wl: Workload, outputs: dict, duck_tmp: str) -> dict[str, str]:
    """Compare each operation's output with its registry oracle run in
    DuckDB on the same input files; returns op id -> "ok" or a reason."""
    import duckdb

    from configdrivendatapipeline_spark.queries import registry
    from tools.check_correctness import canon_rows, dtype_mismatches

    reg = registry()
    status: dict[str, str] = {}
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{duck_tmp}'")
    con.execute("SET memory_limit='2GB'")
    try:
        for op in wl.ops:
            out = outputs.get(op.id)
            if out is None:
                status[op.id] = "no output (the operation raised)"
                continue
            if "error" in out:
                status[op.id] = out["error"]
                continue
            for t in gen.TABLES:
                p = os.path.join(out["input"], f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
            oracle = reg[op.id].oracle
            if oracle is None:
                status[op.id] = "ok" if out["rows"] else "no rows"
                continue
            try:
                otbl = con.execute(oracle).arrow()
            except duckdb.Error as e:
                status[op.id] = f"oracle error: {e}"[:300]
                continue
            ocols = list(otbl.column_names)
            want = canon_rows(ocols, [tuple(d[c] for c in ocols) for d in otbl.to_pylist()])
            drift = dtype_mismatches([tuple(x) for x in out["dtypes"]], otbl.schema)
            if (out["cols"], out["rows"]) != tuple(want):
                status[op.id] = (
                    f"mismatch: {len(out['rows'])} rows {out['cols']} vs oracle "
                    f"{len(want[1])} rows {want[0]}"
                )
            elif drift:
                status[op.id] = f"type drift: {drift}"
            elif out.get("sink_files", 1) == 0:
                status[op.id] = "sink wrote no files"
            else:
                status[op.id] = "ok"
    finally:
        con.close()
    return status


def _stop_group(pgid: int, timeout_s: float = 20.0) -> None:
    """Kill what is left of the worker's process group (the JVM, Python
    workers) and wait until every member has exited."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = False
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


def run_worker(args, run_dir: str, root: str) -> tuple[dict, float]:
    """Start the worker as a fresh process; return its result and the
    set-up time from process start to a ready session."""
    for sub in ("tmp", "scratch", "local", "work"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM, the launcher's too: temp files in the run directory
        # and no /tmp/hsperfdata_* entries
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    })
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    out_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [
        sys.executable, os.path.join(_HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--out", out_path,
    ]
    with open(log_path, "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            cmd, cwd=os.path.join(run_dir, "work"), env=env,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(out_path) as f:
        result = json.load(f)
    return result, result["ready_wall"] - t_spawn


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its worker and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    missing = [p for p in (os.path.join(PACKAGE, "__init__.py"), os.path.join("tools", "check_correctness.py"))
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wl = WORKLOADS[args.workload]

    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    try:
        manifest = None
        if not wl.fresh_input:
            manifest = gen.generate(os.path.join(run_dir, "inputs", "shared"), args.seed, wl.sf, wl.groups)
        result, setup_s = run_worker(args, run_dir, root)
        status = check_outputs(wl, result["outputs"], os.path.join(run_dir, "tmp"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run's directory is still there

    n_bad_checks = sum(s != "ok" for s in status.values())
    failed = len(result["failures"]) + n_bad_checks
    attempted = result["attempted"]
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[kind]}
    summarize = per_layer if args.trace else end_to_end
    metrics, facts = summarize(result, setup_s, units)
    inputs = [manifest] if manifest else result["inputs"]
    print(json.dumps({
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "nproc": nproc(), "defaultParallelism": result["defaultParallelism"],
        "master": result["master"], "spark_version": result["spark_version"],
        "input_rows": inputs[0]["rows"],
        "neardup_share": [m["neardup_share"] for m in inputs if "neardup_share" in m],
        "failed_frac": failed / attempted, "failures": result["failures"],
        "checks": status, "reduced_check_ids": [], **facts,
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
