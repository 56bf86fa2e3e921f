"""Generated classes are compiled once per session.

Iterative operators re-plan the same query shapes round after round
(CC label propagation, PageRank), and a pipeline re-runs them on every
new corpus. Spark keeps compiled whole-stage classes in an LRU cache;
if one run's working set does not fit (Spark's default is 100 entries)
or the generated source carries a per-plan name (a limit counter inside
a codegen stage, the stage id in the class name), every run pays Janino
and the JIT again.
"""

from __future__ import annotations

from configdrivendatapipeline_spark.queries import registry
from configdrivendatapipeline_spark.session import codegen_compiles

#: ids that run the iterative loops: the CC label propagation (rebuilt
#: each run once its memo is cleared) and PageRank
LOOP_IDS = ("llm_dup_clusters", "llm_dup_pagerank")


def _run_group(spark, sf_dir, memo) -> int:
    reg = registry()
    before = codegen_compiles(spark)
    for qid in LOOP_IDS:
        memo.pop("cc", None)
        reg[qid].build(spark, sf_dir).collect()
    return codegen_compiles(spark) - before


def test_second_run_reuses_generated_classes(spark, sf_dir, memo):
    first = _run_group(spark, sf_dir, memo)
    second = _run_group(spark, sf_dir, memo)
    # The first run may find classes earlier tests compiled; the second
    # must find nearly all of its own. At Spark's default cache size
    # it compiled ~140, as many as the first. Not exactly zero: AQE
    # re-plans as stages finish, so a run can still meet a plan variant
    # (another join build side) that no earlier run produced (0-9 seen).
    assert second <= 20, f"first run compiled {first}, second {second}"
