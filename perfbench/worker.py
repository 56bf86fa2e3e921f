"""Spark side of one benchmark run (started by ``run.py``).

A fresh process: starts the engine's session, imports the query
registry, then runs one cold pass and warm passes of the workload's
operations, one at a time (a closed loop with one client). It writes
timings, resource readings, canonicalised outputs for the output check
and, when tracing, per-layer numbers to a JSON file.

Usage (normally through ``run.py``)::

    python perfbench/worker.py --workload etl_write --seed 1 --seconds 10 \
        --trace 0 --run-dir RUN --out RUN/result.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from typing import Any

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

import gen  # noqa: E402
from layers import Layers  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WARM_PASSES, WORKLOADS, Workload  # noqa: E402

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and all its live descendants, including
    what each has collected from children that already exited."""
    procs: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2:].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        procs[int(name)] = (ppid, ticks / _CLK_TCK)
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            total += procs[pid][1]
        todo.extend(kids.get(pid, []))
    return total


def steal_s() -> float:
    """CPU seconds this machine's CPUs have waited on the hypervisor
    since boot: other tenants' load, which inflates wall times."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _canon(cols: list[str], rows: list, dtypes: list) -> dict:
    from tools.check_correctness import canon_rows

    scols, srows = canon_rows(cols, [tuple(r) for r in rows])
    return {"cols": scols, "rows": srows, "dtypes": dtypes}


class Run:
    def __init__(self, wl: Workload, args: argparse.Namespace) -> None:
        self.wl, self.args = wl, args
        self.run_dir = args.run_dir
        self.tracer = Tracer()
        self.passes: list[dict] = []
        self.failures: list[dict] = []
        self.inputs: list[dict] = []
        self.attempted = 0
        self.layers: Layers | None = None
        self.last: dict[str, Any] = {}

    # -- inputs -----------------------------------------------------------
    def input_dir(self, k: int) -> str:
        if not self.wl.fresh_input:
            return os.path.join(self.run_dir, "inputs", "shared")
        d = os.path.join(self.run_dir, "inputs", f"pass{k}")
        self.inputs.append(gen.generate(d, self.args.seed * 1000 + k, self.wl.sf, self.wl.groups))
        return d

    # -- one pass ---------------------------------------------------------
    def run_pass(self, spark, reg, k: int, traced: bool) -> dict:
        from configdrivendatapipeline_spark.io import sinks

        d = self.input_dir(k)
        self.tracer.enabled = traced
        self.tracer.spans = []
        ops: list[dict] = []
        last: dict[str, Any] = {}
        cpu0, steal0 = tree_cpu_s(os.getpid()), steal_s()
        t_pass = time.perf_counter()
        for op in self.wl.ops:
            self.attempted += 1
            rec: dict[str, Any] = {"id": op.id}
            if traced:
                self.layers.begin_op(f"{op.id}#{k}", op.id)
            act = None
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    with self.tracer.span("queries.build"):
                        df = reg[op.id].build(spark, d)
                    if traced:
                        rec.update(self.layers.after_build(df))
                    with self.tracer.span("queries.action") as act:
                        act.attrs["wall_start"] = time.time()
                        if op.sink is not None:
                            path = os.path.join(self.run_dir, "sinks", f"pass{k}", op.id)
                            sinks.write_sink(df, {**op.sink, "path": path})
                            last[op.id] = (df.columns, df.dtypes, df.schema, path)
                        else:
                            last[op.id] = (df.columns, df.dtypes, df.collect(), d)
                        act.attrs["wall_end"] = time.time()
            except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                self.failures.append({"op": op.id, "pass": k, "error": f"{type(e).__name__}: {e}"[:500]})
                rec["error"] = True
            rec["wall_s"] = time.perf_counter() - t0
            if traced:
                span = self.tracer.spans[act.idx] if act is not None and act.idx is not None else None
                rec.update(self.layers.end_op(rec["wall_s"], span))
            ops.append(rec)
        wall = time.perf_counter() - t_pass
        self.tracer.enabled = False
        p = {
            "k": k, "traced": traced, "wall_s": wall,
            "cpu_s": tree_cpu_s(os.getpid()) - cpu0, "steal_s": steal_s() - steal0,
            "ops": ops, "input": d,
        }
        if traced:
            p["layers"] = self.layers.pass_layers(self.tracer.spans, ops)
        self.passes.append(p)
        self.last = last
        return p

    # -- output check material (untimed) ------------------------------------
    def outputs(self, spark) -> dict:
        out = {}
        for op_id, (cols, dtypes, payload, where) in self.last.items():
            if isinstance(payload, list):  # collected rows; ``where`` is the input
                out[op_id] = {"input": where, **_canon(cols, payload, dtypes)}
                continue
            # read the sink back, so the check covers what was written
            op = next(o for o in self.wl.ops if o.id == op_id)
            try:
                back = spark.read.schema(payload).format(op.sink["format"]).load(where)
                rows = back.collect()
            except Exception as e:  # noqa: BLE001 - reported by the output check
                out[op_id] = {"error": f"sink read-back: {type(e).__name__}: {e}"[:500]}
                continue
            files = [
                f for _, _, fs in os.walk(where) for f in fs
                if not f.startswith(("_", ".")) and not f.endswith(".crc")
            ]
            out[op_id] = {
                "input": self.passes[-1]["input"], "sink_files": len(files),
                **_canon(back.columns, rows, dtypes),
            }
        return out


def spark_conf(run_dir: str) -> dict[str, str]:
    """Keep the files the session writes inside the run directory (the
    JVMs' temp dir comes from ``JAVA_TOOL_OPTIONS``, set by ``run.py``)."""
    return {
        "spark.driver.memory": "1g",
        "spark.cddp.scratchDir": os.path.join(run_dir, "scratch"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "work", "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={os.path.join(run_dir, 'work')}",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    from configdrivendatapipeline_spark.queries import registry
    from configdrivendatapipeline_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=spark_conf(args.run_dir))
    reg = registry()
    ready = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    wl = WORKLOADS[args.workload]
    run = Run(wl, args)
    if args.trace:
        run.layers = Layers(run.tracer, spark)
        run.layers.install()
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    run.run_pass(spark, reg, 0, traced=False)  # cold: first pass in a fresh JVM
    t_warm, k = time.perf_counter(), 1
    # warm passes until the window is spent, at least WARM_PASSES; a
    # traced run alternates traced and untraced passes to measure
    # tracing overhead
    while k <= WARM_PASSES or time.perf_counter() - t_warm < args.seconds:
        # traced first: the warm-up trend then can only overstate overhead
        run.run_pass(spark, reg, k, traced=bool(args.trace) and k % 2 == 1)
        if k == WARM_PASSES:
            peak_rss_mb = vm_hwm_mb(jvm_pid)
        k += 1
    outputs = run.outputs(spark)
    sc = spark.sparkContext
    result = {
        "ready_wall": ready,
        "passes": run.passes,
        "attempted": run.attempted,
        "failures": run.failures,
        "peak_rss_mb": peak_rss_mb,
        "outputs": outputs,
        "inputs": run.inputs,
        "spark_version": spark.version,
        "defaultParallelism": sc.defaultParallelism,
        "master": sc.master,
    }
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
