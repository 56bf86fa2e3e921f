"""Tests for the benchmark's own code (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
import subprocess
import sys
import types
from types import SimpleNamespace

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from layers import Layers  # noqa: E402
from spans import Span, Tracer, outermost, self_times, spanning, tail_percentile, union_length, wrap  # noqa: E402


def _digests(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


@pytest.fixture(scope="module")
def gen_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("gen")
    out = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = str(base / name)
        out[name] = (d, gen.generate(d, seed, 0.002))
    return out


def test_same_seed_same_files(gen_dirs):
    (a, ma), (b, mb) = gen_dirs["a"], gen_dirs["b"]
    assert _digests(a) == _digests(b)
    assert ma == mb


def test_other_seed_other_data(gen_dirs):
    da, dc = _digests(gen_dirs["a"][0]), _digests(gen_dirs["c"][0])
    # region and nation are fixed reference tables; every drawn table differs
    assert {t for t in da if da[t] != dc[t]} == {
        f"{t}.parquet" for t in gen.TABLES if t not in ("region", "nation")
    }


def test_subset_matches_full_draw(gen_dirs, tmp_path):
    full = _digests(gen_dirs["a"][0])
    part = gen.generate(str(tmp_path), 7, 0.002, ("documents", "embeddings"))
    assert set(part["rows"]) == {"documents", "embeddings"}
    assert {f: h for f, h in full.items() if f in _digests(str(tmp_path))} == _digests(str(tmp_path))


def test_manifest_row_counts(gen_dirs):
    d, m = gen_dirs["a"]
    con = duckdb.connect()
    for t, n in m["rows"].items():
        assert con.execute(f"SELECT COUNT(*) FROM '{d}/{t}.parquet'").fetchone()[0] == n
    want = gen.row_counts(0.002)
    assert all(m["rows"][t] == want[t] for t in want if t != "lineitem")
    assert 0.5 < m["rows"]["lineitem"] / m["rows"]["orders"] / 4 < 1.5


def test_scaled_tables_keep_keys_unique_and_foreign_keys_valid(tmp_path):
    d = str(tmp_path)
    gen.generate(d, 3, 0.01, ("star",))
    con = duckdb.connect()
    for t in ("region", "nation", "supplier", "customer", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    for t, key in (("region", "r_regionkey"), ("nation", "n_nationkey"), ("supplier", "s_suppkey"),
                   ("customer", "c_custkey"), ("part", "p_partkey"), ("orders", "o_orderkey"),
                   ("lineitem", "l_orderkey, l_linenumber")):
        n, distinct = con.execute(f"SELECT COUNT(*), COUNT(DISTINCT ({key})) FROM {t}").fetchone()
        assert n == distinct, t
    for child, fk, parent, pk in (
        ("nation", "n_regionkey", "region", "r_regionkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ):
        orphans = con.execute(
            f"SELECT COUNT(*) FROM {child} LEFT JOIN {parent} ON {fk} = {pk} WHERE {pk} IS NULL"
        ).fetchone()[0]
        assert orphans == 0, (child, fk)


def test_neardup_share_matches_all_pairs(gen_dirs):
    d, m = gen_dirs["a"]
    texts = duckdb.sql(f"SELECT text FROM '{d}/documents.parquet' ORDER BY doc_id").fetchall()
    sets = [set(t.split()) for (t,) in texts]
    has = [False] * len(sets)
    for i, j in itertools.combinations(range(len(sets)), 2):
        if len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= 0.8:
            has[i] = has[j] = True
    assert m["neardup_share"] == round(sum(has) / len(sets), 4)
    assert 0.2 < m["neardup_share"] < 0.6


@pytest.mark.parametrize("n, p", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_above(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert n * (1000 - round(10 * p)) >= 10_000  # ten samples above, in tenths of a percent


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_covered_part_of_children():
    spans = [
        Span("op", 0.0, 10.0, None, "x"),
        Span("compile", 1.0, 5.0, 0, "x"),
        Span("read", 2.0, 3.0, 1, "x"),
        Span("read", 2.5, 4.0, 1, "x"),  # overlaps its sibling
        Span("write", 6.0, 9.0, 0, "x"),
    ]
    assert self_times(spans) == [3.0, 2.0, 1.0, 1.5, 3.0]


def test_outermost_skips_nested_calls_of_the_same_layer():
    spans = [
        Span("dedup", 0.0, 4.0, None, None),
        Span("scratch", 1.0, 2.0, 0, None),
        Span("dedup", 1.2, 1.8, 1, None),
        Span("dedup", 5.0, 6.0, None, None),
    ]
    assert [s.start for s in outermost(spans, "dedup")] == [0.0, 5.0]


def test_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("a"):
        pass
    t.enabled = True
    with t.span("a"):
        with t.span("b"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("a", None), ("b", 0)]


def test_wrap_traces_every_binding_of_a_function():
    def build(x):
        return x * 2

    mods = [types.ModuleType(f"configdrivendatapipeline_spark_fake{i}") for i in range(2)]
    mods[0].build = build
    mods[1].imported_build = build  # as bound by ``from mod import build``
    sys.modules.update({m.__name__: m for m in mods})
    t = Tracer()
    try:
        wrap(build, spanning(t, "layer", before=lambda: 5, after=lambda a, k, out, s: {"n": out + s}))
        assert mods[0].build(1) == 2 and t.spans == []  # disabled: passes through
        t.enabled = True
        assert mods[1].imported_build(3) == 6
    finally:
        for m in mods:
            del sys.modules[m.__name__]
    assert [(s.name, s.attrs) for s in t.spans] == [("layer", {"n": 11})]
    assert mods[0].build is mods[1].imported_build is not build


def _fake_result() -> dict:
    def pas(k, traced, wall):
        ops = [{"id": f"q{i}", "wall_s": wall / 4} for i in range(4)]
        p = {"k": k, "traced": traced, "wall_s": wall, "cpu_s": 2 * wall, "steal_s": 0.0, "ops": ops}
        if traced:
            spans = [Span("op", 0.0, 1.0, None, "q0"), Span("compiler.compile", 0.1, 0.5, 0, "q0")]
            p["layers"] = Layers.pass_layers(SimpleNamespace(cores=4), spans, ops)
        return p

    # the fourth pass runs past the window and is left out of the metrics
    return {"passes": [pas(0, False, 9.0), pas(1, True, 4.4), pas(2, False, 4.0), pas(3, False, 2.0)],
            "peak_rss_mb": 900.0}


def test_metric_names_match_benchmark_json():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for kind, summarize in (("end_to_end", run.end_to_end), ("per_layer", run.per_layer)):
        units = {m["name"]: m["unit"] for m in bench[kind]}
        metrics, _ = summarize(_fake_result(), 8.0, units)
        assert set(metrics) == set(units)
        assert all(isinstance(v, float | int) for v, _ in metrics.values())


def test_end_to_end_arithmetic():
    units = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
    metrics, facts = run.end_to_end(_fake_result(), 8.0, units)
    assert metrics == {"setup_s": (8.0, "s"), "cpu_s": (8.0, "s"), "peak_rss_mb": (900.0, "MB")}
    wall = facts["wall"]
    assert wall["cold_pass_s"] == 9.0
    assert wall["pass_s"] == 4.0  # the traced pass is left out
    assert wall["op_p50_s"] == 1.0 and wall["op_tail_s"] == 1.0
    assert facts["op_samples"] == 4 and facts["op_tail_percentile"] == 100.0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_write", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout == ""
