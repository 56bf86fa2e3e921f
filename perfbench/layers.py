"""Per-layer measurement for the traced run.

:class:`Layers` wraps the engine's public layer functions (see
:meth:`Layers.install`) in spans, labels each operation's Spark jobs
with a job group, and reads the jobs' stage metrics from Spark's
status store after each operation. Only a traced run creates one; an
untraced run leaves the engine exactly as it is.
"""

from __future__ import annotations

import inspect
import os
from typing import Any

from spans import Span, Tracer, outermost, self_times, spanning, union_length, wrap


def frame_functions(module) -> list:
    """Public functions defined in ``module`` that return a DataFrame:
    the calls that cross into that layer from the outside."""
    out = []
    for name, fn in vars(module).items():
        if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != module.__name__:
            continue
        if "DataFrame" in str(inspect.signature(fn).return_annotation):
            out.append(fn)
    return out


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")) or f.endswith(".crc"):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def _opt_epoch_s(opt) -> float | None:
    """Epoch seconds from a Scala ``Option[java.util.Date]``."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Layers:
    def __init__(self, tracer: Tracer, spark) -> None:
        sc = spark.sparkContext
        self.tracer = tracer
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.tracker = sc.statusTracker()
        self.cores = sc.defaultParallelism
        self.group: str | None = None

    # -- wrappers -------------------------------------------------------------
    def install(self) -> None:
        from configdrivendatapipeline_spark import compiler, enrichment, scratch, validation
        from configdrivendatapipeline_spark.config import loader
        from configdrivendatapipeline_spark.io import sinks, sources
        from configdrivendatapipeline_spark.llm import dedup, similarity
        from configdrivendatapipeline_spark.streaming import ops as streaming

        t = self.tracer
        wrap(loader.load_pipeline_str, spanning(t, "config.load"))
        wrap(loader.load_pipeline, spanning(t, "config.load"))
        wrap(compiler.compile_pipeline, spanning(
            t, "compiler.compile", before=self._n_jobs,
            after=lambda a, k, out, n0: {"jobs": self._n_jobs() - n0},
        ))
        wrap(sources.read_source, spanning(t, "io.sources.read"))
        wrap(sinks.write_sink, spanning(t, "io.sinks.write", after=self._sink_counts))
        wrap(validation.run_rules, spanning(t, "validation.run_rules"))
        wrap(dedup.jaccard_pairs, spanning(t, "llm.dedup.jaccard_pairs"))
        wrap(dedup.duplicate_clusters, spanning(
            t, "llm.dedup.clusters",
            after=lambda a, k, out, s: {"cc_rounds": dedup.LAST_CC_ROUNDS},
        ))
        wrap(scratch.scratch_parquet, spanning(t, "scratch", after=self._scratch_bytes))
        for module, name in (
            (enrichment, "enrichment"),
            (streaming, "streaming"),
            (similarity, "llm.similarity"),
        ):
            for fn in frame_functions(module):
                wrap(fn, spanning(t, name))

    @staticmethod
    def _sink_counts(args, kwargs, out, state) -> dict[str, Any]:
        cfg = args[1] if len(args) > 1 else kwargs["cfg"]
        n, size = _dir_files(cfg["path"])
        return {"files": n, "bytes": size}

    @staticmethod
    def _scratch_bytes(args, kwargs, out, state) -> dict[str, Any]:
        return {"bytes": sum(os.path.getsize(p.split(":", 1)[-1]) for p in out.inputFiles())}

    # -- Spark jobs of the current operation --------------------------------
    def _flush(self) -> None:
        # the status store is fed asynchronously from the listener bus
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def _job_ids(self) -> list[int]:
        self._flush()
        return list(self.tracker.getJobIdsForGroup(self.group))

    def _n_jobs(self) -> int:
        return len(self._job_ids())

    def begin_op(self, group: str, op_id: str) -> None:
        self.group = group
        self.tracer.op = op_id
        self.sc.setJobGroup(group, group)

    def after_build(self, df) -> dict[str, Any]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        nodes = [ln.lstrip(" +-*:(0123456789)") for ln in plan.splitlines()]
        return {
            "build_jobs": self._n_jobs(),
            "exchanges": sum(n.startswith("Exchange") for n in nodes),
        }

    def end_op(self, wall_s: float, action: Span | None) -> dict[str, Any]:
        stats = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                 "input_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        intervals = []
        for jid in self._job_ids():
            job = self.store.job(jid)
            stats["jobs"] += 1
            start, end = _opt_epoch_s(job.submissionTime()), _opt_epoch_s(job.completionTime())
            if start is not None and end is not None:
                intervals.append((start, end))
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self.store.lastStageAttempt(ids.apply(i))
                except Exception:  # noqa: BLE001 - stage evicted or never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stats["stages"] += 1
                stats["tasks"] += st.numCompleteTasks()
                stats["executor_run_s"] += st.executorRunTime() / 1000.0
                stats["input_bytes"] += st.inputBytes()
                stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        gap = 0.0
        if action is not None and "wall_end" in action.attrs:
            a0, a1 = action.attrs["wall_start"], action.attrs["wall_end"]
            busy = union_length([(max(s, a0), min(e, a1)) for s, e in intervals if e > a0 and s < a1])
            gap = max(0.0, (a1 - a0) - busy)
        stats["job_gap_s"] = gap
        self.tracer.op = None
        return stats

    # -- per-pass summary ---------------------------------------------------
    def pass_layers(self, spans: list[Span], ops: list[dict]) -> dict[str, float]:
        selft = self_times(spans)

        def incl(name: str) -> float:
            return sum(s.duration for s in outermost(spans, name))

        def calls(name: str) -> int:
            return len(outermost(spans, name))

        def attr(name: str, key: str) -> float:
            return sum(s.attrs.get(key, 0) for s in outermost(spans, name))

        def op_sum(key: str) -> float:
            return sum(o.get(key, 0) for o in ops)

        wall = op_sum("wall_s")
        return {
            "config.load_s": incl("config.load"),
            "compiler.compile_s": sum(t for s, t in zip(spans, selft) if s.name == "compiler.compile"),
            "compiler.eager_jobs": attr("compiler.compile", "jobs"),
            "queries.build_s": incl("queries.build"),
            "queries.build_jobs": op_sum("build_jobs"),
            "queries.jobs": op_sum("jobs"),
            "queries.stages": op_sum("stages"),
            "queries.tasks": op_sum("tasks"),
            "queries.job_gap_s": op_sum("job_gap_s"),
            "queries.busy_frac": op_sum("executor_run_s") / (wall * self.cores) if wall else 0.0,
            "queries.input_bytes": op_sum("input_bytes"),
            "queries.shuffle_write_bytes": op_sum("shuffle_write_bytes"),
            "queries.spill_bytes": op_sum("spill_bytes"),
            "queries.exchanges": op_sum("exchanges"),
            "io.sources.read_s": incl("io.sources.read"),
            "io.sources.calls": calls("io.sources.read"),
            "io.sinks.write_s": incl("io.sinks.write"),
            "io.sinks.files": attr("io.sinks.write", "files"),
            "io.sinks.bytes": attr("io.sinks.write", "bytes"),
            "validation.run_rules_s": incl("validation.run_rules"),
            "enrichment.s": incl("enrichment"),
            "streaming.s": incl("streaming"),
            "llm.dedup.jaccard_pairs_s": incl("llm.dedup.jaccard_pairs"),
            "llm.dedup.clusters_s": incl("llm.dedup.clusters"),
            "llm.dedup.clusters_calls": calls("llm.dedup.clusters"),
            "llm.dedup.cc_rounds": attr("llm.dedup.clusters", "cc_rounds"),
            "llm.similarity.s": incl("llm.similarity"),
            "scratch.calls": calls("scratch"),
            "scratch.s": incl("scratch"),
            "scratch.bytes": attr("scratch", "bytes"),
        }
