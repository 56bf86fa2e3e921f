"""The benchmark's workloads: which declared queries run, on what input,
and through which action.

An *operation* is one declared query id: ``build`` plus its action. A
*pass* runs every operation of the workload once, in order.

Sizes are set by run time, not data volume: on 4 cores a fresh session
costs ~9 s and the first pass ~20-25 s of JIT and first-job overhead,
and each run must finish in about a minute. Per-operation cost at these
sizes is fixed overhead (scheduling, planning, small files), which is
what ``etl_write`` is meant to show; ``llm_fresh`` shows the near-dup
and connected-component builds that a new corpus forces on every pass.
"""

from __future__ import annotations

from dataclasses import dataclass

#: warm passes the metrics are taken from. The run goes on until the
#: measuring window is spent, but JIT keeps warming over the first
#: passes, so a count that grew with speed would make a faster commit
#: look cheaper per pass than it is.
WARM_PASSES = 2


@dataclass(frozen=True)
class Op:
    id: str
    #: ``write_sink`` config minus ``path`` for ``etl_write``; ``None``
    #: means the result is collected to the Spark driver.
    sink: dict | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    #: scale of the generated input (``sf=0.1`` is 600k lineitem rows)
    sf: float
    #: table groups generated (see ``gen.generate``)
    groups: tuple[str, ...]
    #: each pass reads a newly generated input directory
    fresh_input: bool


def _pq(**kw) -> dict:
    return {"format": "parquet", "mode": "error", **kw}


def _json() -> dict:
    return {"format": "json", "mode": "error"}


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="etl_write",
            ops=(
                Op("agg_groupby", _pq()),
                Op("stream_tumbling", _pq()),
                # partitioned as examples/lake_maintenance.yaml lays out orders
                Op("pipeline_join_agg", _pq(partition_by=["o_orderpriority"])),
                Op("pipeline_validate", _json()),
                Op("pipeline_enrich", _pq()),
            ),
            sf=0.01,
            groups=("star", "events"),
            fresh_input=False,
        ),
        Workload(
            name="llm_fresh",
            ops=(
                Op("llm_jaccard_neardup"),
                Op("llm_dup_clusters"),
                Op("llm_cluster_sizes"),
                Op("llm_knn_join"),
            ),
            sf=0.002,
            groups=("documents", "embeddings"),
            fresh_input=True,
        ),
    )
}
