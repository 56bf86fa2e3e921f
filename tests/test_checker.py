"""Regression tests for the local correctness checker's dtype-drift
guard (tools/check_correctness.py).

Two driver reds (r3 agg_stats, r5 llm_seq_packing) shared the
signature "local checker passes, driver hash fails" because the
checker fetched oracle rows via fetchall(), which canonicalizes
DuckDB HUGEINT to Python int while the driver's pandas bridge turns
it into float64. The checker now compares Arrow dtypes against the
Spark schema; these tests pin that behavior without needing Spark.
"""

from __future__ import annotations

import duckdb
import pytest

from tools.check_correctness import (
    arrow_type_class,
    dtype_mismatches,
    spark_type_class,
)

# The exact shape that produced the r5 llm_seq_packing red: a windowed
# SUM over BIGINT returns HUGEINT in DuckDB.
UNCAST_WINDOW_SUM = """
WITH d AS (SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30)) t(id, n))
SELECT id,
       COALESCE(SUM(CAST(n AS BIGINT)) OVER (
         ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         0) AS tok_offset
FROM d
"""


def test_uncast_window_sum_is_flagged():
    tbl = duckdb.connect().execute(UNCAST_WINDOW_SUM).arrow()
    # fetchall() would have returned plain Python ints — the blind spot.
    spark_dtypes = [("id", "int"), ("tok_offset", "bigint")]
    drift = dtype_mismatches(spark_dtypes, tbl.schema)
    assert any(m.startswith("tok_offset:") for m in drift), (
        "checker must flag HUGEINT window-sum vs Spark bigint "
        f"(got: {drift}, arrow schema: {tbl.schema})"
    )


CAST_WINDOW_SUM = """
WITH d AS (SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30)) t(id, n))
SELECT id,
       CAST(COALESCE(SUM(CAST(n AS BIGINT)) OVER (
         ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         0) AS BIGINT) AS tok_offset
FROM d
"""


def test_cast_window_sum_is_clean():
    tbl = duckdb.connect().execute(CAST_WINDOW_SUM).arrow()
    spark_dtypes = [("id", "int"), ("tok_offset", "bigint")]
    assert dtype_mismatches(spark_dtypes, tbl.schema) == []


@pytest.mark.parametrize(
    "sql,arrow_cls",
    [
        ("SELECT SUM(x) AS s FROM (VALUES (1),(2)) t(x)", "int64"),
        ("SELECT CAST(1 AS BIGINT) AS s", "int64"),
        ("SELECT 1.5 AS s", "float64"),  # DuckDB literal 1.5 is DECIMAL
        ("SELECT CAST(1.5 AS DOUBLE) AS s", "float64"),
        ("SELECT 'a' AS s", "string"),
        ("SELECT TRUE AS s", "bool"),
        ("SELECT DATE '2024-01-01' AS s", "date"),
    ],
)
def test_arrow_type_classes(sql, arrow_cls):
    tbl = duckdb.connect().execute(sql).arrow()
    got = arrow_type_class(tbl.schema.field("s").type)
    if sql.startswith("SELECT 1.5"):
        # decimal literal: must NOT class as float64 — it would hash
        # as float64 via pandas but the point is the checker sees the
        # difference from Spark double and flags it.
        assert got != "float64"
    elif sql.startswith("SELECT SUM"):
        # plain (non-windowed) SUM(INTEGER) → HUGEINT as well; ensure
        # it is NOT classed int64 so uncast aggregates get flagged.
        assert got != "int64"
    else:
        assert got == arrow_cls


def test_spark_type_classes():
    assert spark_type_class("bigint") == "int64"
    assert spark_type_class("double") == "float64"
    assert spark_type_class("string") == "string"
    assert spark_type_class("timestamp_ntz") == "timestamp"
    assert spark_type_class("boolean") == "bool"


def test_rule_param_typo_reports_missing_param_not_unknown_rule():
    """A typo'd rule param (colum:) must say 'missing required param',
    not 'unknown row rule type' — the broad KeyError handler used to
    rebrand builder KeyErrors as unknown-rule errors."""
    import pytest

    from configdrivendatapipeline_spark.validation import (
        Rule,
        row_fail_predicate,
    )

    with pytest.raises(ValueError, match="missing required param 'column'"):
        row_fail_predicate(
            Rule(name="r0", rule="not_null", params={"colum": "x"}, on_fail="warn")
        )
    with pytest.raises(ValueError, match="unknown row rule type"):
        row_fail_predicate(
            Rule(name="r1", rule="nut_nell", params={}, on_fail="warn")
        )


def test_bench_output_contract(sf_dir):
    """bench.py is the driver's per-round feedback loop; its output
    must stay ONE parseable JSON line with the documented keys, at
    whatever SF the env points it to."""
    import json
    import os
    import subprocess
    import sys

    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=os.path.join(os.path.dirname(__file__), ".."),
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    d = json.loads(line)
    assert d["unit"] == "sec" and d["value"] > 0
    assert d["metric"] and isinstance(d["queries"], dict) and d["queries"]
    assert all(v >= 0 for v in d["queries"].values())
    # untimed counter pass: one entry per timed query, counters or the
    # query's exception text
    assert set(d["metrics"]) == set(d["queries"])
    for m in d["metrics"].values():
        assert "error" in m or m["codegen_compiles"] >= 0, m


def test_spark_entry_contract(spark):
    """__spark_entry__ is the driver's primary interface: entry()
    must return a non-empty batch DataFrame on sf0.001, queries()
    and oracle_sql() must cover the same ids (every oracle names a
    declared query), and every oracle is non-empty SQL text."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("spark_entry", path)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    df = m.entry(spark)
    assert not df.isStreaming and df.count() > 0 and df.columns

    qs, oracles = m.queries(), m.oracle_sql()
    assert set(oracles) <= set(qs), "oracle for an undeclared query"
    assert len(qs) >= 389
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())


def test_census_warmup_is_best_effort(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """The census warm-up reads lineitem + documents, but those reads
    are best-effort: a fixture dir missing either table (e.g. a
    --names run over a trimmed fixture) must still run the named
    queries instead of crashing before timing starts."""
    import json as _json
    import shutil
    import sys as _sys

    import tools.timing_census as census

    trimmed = tmp_path / "trimmed_sf"
    trimmed.mkdir()
    shutil.copy(f"{sf_dir}/customer.parquet", trimmed / "customer.parquet")
    monkeypatch.setattr(
        _sys,
        "argv",
        [
            "timing_census.py",
            "--sf",
            str(trimmed),
            "project_select",
        ],
    )
    assert census.main() == 0
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ]
    by_name = {d["name"]: d for d in lines}
    assert "project_select" in by_name
    assert "err" not in by_name["project_select"]
    assert by_name["project_select"]["rows"] > 0


def test_bpe_divergence_metric_handles_repeats_and_empty():
    """divergence() (tools/bpe_divergence.py) compares per-pair count
    MULTISETS: a pair occurring at several merge steps (the ababy
    corpus produces ('a b', 13) then ('a b', 5)) must not be reduced
    last-wins, which would both invent divergence on identical tables
    and mask real count drift; an empty exact table reports zeros
    instead of dividing by zero."""
    from tools.bpe_divergence import divergence

    exact = [(0, "a b", 13), (1, "a b", 5), (2, "ab y", 8)]
    assert divergence(exact, list(exact)) == {
        "pos_div": 0.0,
        "set_div": 0.0,
        "cnt_div": 0.0,
    }
    # same pairs, one count drifted -> cnt_div flags exactly that pair
    drifted = [(0, "a b", 13), (1, "a b", 4), (2, "ab y", 8)]
    d = divergence(exact, drifted)
    assert d["cnt_div"] == 0.5 and d["set_div"] == 0.0
    # a deferred re-emergence (pair merged once instead of twice)
    # counts as count drift on that pair, not as a missing pair
    deferred = [(0, "a b", 13), (1, "ab y", 8), (2, "aby q", 2)]
    d2 = divergence(exact, deferred)
    assert d2["cnt_div"] == 0.5 and d2["set_div"] == 0.0
    assert divergence([], []) == {
        "pos_div": 0.0,
        "set_div": 0.0,
        "cnt_div": 0.0,
    }


def test_census_diff_flags_and_explained_tail(tmp_path, monkeypatch, capsys):
    """census_diff (tools/census_diff.py) flags >ratio growth above
    the floor outside the explained tail (exit 1), keeps explained-
    tail growth informational (exit 0), and ignores sub-floor ids."""
    import json as _json
    import sys as _sys

    import tools.census_diff as cd

    old = tmp_path / "old.jsonl"
    new = tmp_path / "new.jsonl"
    old.write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"name": "q_reg", "sec": 1.0, "rows": 1},
                {"name": "llm_dup_clusters", "sec": 50.0, "rows": 1},
                {"name": "q_noise", "sec": 0.2, "rows": 1},
            ]
        )
    )
    new.write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"name": "q_reg", "sec": 4.0, "rows": 1},       # 4x, above floor
                {"name": "llm_dup_clusters", "sec": 120.0, "rows": 1},  # explained
                {"name": "q_noise", "sec": 1.9, "rows": 1},     # below floor
            ]
        )
    )
    monkeypatch.setattr(_sys, "argv", ["census_diff.py", str(old), str(new)])
    assert cd.main() == 1
    out = capsys.readouterr().out
    assert "FLAG  q_reg" in out
    assert "grew  llm_dup_clusters" in out
    assert "q_noise" not in out

    # the regression drops below ratio -> clean exit
    new.write_text(
        _json.dumps({"name": "q_reg", "sec": 1.5, "rows": 1})
        + "\n"
        + _json.dumps({"name": "llm_dup_clusters", "sec": 55.0, "rows": 1})
    )
    monkeypatch.setattr(_sys, "argv", ["census_diff.py", str(old), str(new)])
    assert cd.main() == 0


def test_census_diff_retime_closes_explained_grews(
    tmp_path, monkeypatch, capsys
):
    """VERDICT r13 item 5: under --retime, an explained-tail id that
    grew >ratio gets the same steady-state warm re-run as a flag and
    the committed diff line closes it mechanically — 'environmental,
    explanation holds' when the steady time is back within ratio,
    'STILL above ratio' when it is not. Either way the tail stays
    exit-0 (the gate is the unexplained set); _retime is stubbed so
    the unit test never spins Spark."""
    import json as _json
    import sys as _sys

    import tools.census_diff as cd

    old = tmp_path / "old.jsonl"
    new = tmp_path / "new.jsonl"
    old.write_text(
        _json.dumps({"name": "llm_embed_neardup", "sec": 8.0, "rows": 1})
        + "\n"
        + _json.dumps({"name": "llm_dup_clusters", "sec": 50.0, "rows": 1})
        + "\n"
        + _json.dumps({"name": "sql_recursive", "sec": 10.0, "rows": 1})
        + "\n"
        + _json.dumps({"name": "fn_struct", "sec": 0.15, "rows": 1})
    )
    new.write_text(
        _json.dumps({"name": "llm_embed_neardup", "sec": 37.0, "rows": 1})
        + "\n"
        + _json.dumps({"name": "llm_dup_clusters", "sec": 120.0, "rows": 1})
        + "\n"
        + _json.dumps({"name": "sql_recursive", "sec": 30.0, "rows": 1})
        + "\n"
        + _json.dumps({"name": "fn_struct", "sec": 3.08, "rows": 1})
    )
    steady = {
        "llm_embed_neardup": 9.0,
        "llm_dup_clusters": 140.0,
        "sql_recursive": None,  # retime errored — r14 advice case
        # sub-floor steady on a tiny old census: 0.32 > 0.15*2 but far
        # below the 2 s flag floor — must clear, not stay flagged
        # (r15: the real fn_struct case, rotation-head warmup)
        "fn_struct": 0.32,
    }
    monkeypatch.setattr(cd, "_retime", lambda name, sf: steady[name])
    monkeypatch.setattr(
        _sys, "argv", ["census_diff.py", str(old), str(new), "--retime"]
    )
    assert cd.main() == 0
    out = capsys.readouterr().out
    assert (
        "grew  llm_embed_neardup: 8.0 -> 37.0 s (4.6x; steady-state 9.0 s"
        " — environmental, explanation holds)" in out
    )
    assert (
        "grew  llm_dup_clusters: 50.0 -> 120.0 s (2.4x; steady-state"
        " 140.0 s — STILL above ratio; re-check its SCALING.md"
        " explanation)" in out
    )
    # r14 advice: a retime that errored must NOT print
    # "steady-state None s — STILL above ratio" (a failed measurement
    # is not a confirmed over-ratio steady time)
    assert (
        "grew  sql_recursive: 10.0 -> 30.0 s (3.0x; retime"
        " failed/errored — grow unconfirmed; re-run or check the"
        " query by hand)" in out
    )
    assert "None" not in out
    assert (
        "clear fn_struct: 0.15 -> 3.08 s census, steady-state 0.32 s"
        in out
    )
    assert "verdict: 0 unexplained flags (after --retime" in out
    # without --retime the explained line still carries the manual
    # re-check cue, and the unexplained fn_struct flag now gates
    # (exit 1) since no steady-state pass has cleared it
    monkeypatch.setattr(
        _sys, "argv", ["census_diff.py", str(old), str(new)]
    )
    assert cd.main() == 1
    out = capsys.readouterr().out
    assert "explained tail — re-check its SCALING.md explanation" in out
    assert "FLAG  fn_struct" in out


def test_census_diff_retime_failure_on_unexplained_flag(
    tmp_path, monkeypatch, capsys
):
    """r15 ADVICE: the r14 failed-retime wording fix covered only the
    explained-grew loop; an UNEXPLAINED flag whose retime errors
    (steady None) must also say 'retime failed/errored' — and stay
    flagged (exit 1, conservative) — instead of interpolating
    'steady-state None s' as if a measurement existed."""
    import json as _json
    import sys as _sys

    import tools.census_diff as cd

    old = tmp_path / "old.jsonl"
    new = tmp_path / "new.jsonl"
    old.write_text(_json.dumps({"name": "fn_math", "sec": 5.0, "rows": 1}))
    new.write_text(_json.dumps({"name": "fn_math", "sec": 15.0, "rows": 1}))
    monkeypatch.setattr(cd, "_retime", lambda name, sf: None)
    monkeypatch.setattr(
        _sys, "argv", ["census_diff.py", str(old), str(new), "--retime"]
    )
    assert cd.main() == 1
    out = capsys.readouterr().out
    assert "FLAG  fn_math" in out
    assert "retime failed/errored — re-run or check the query by hand" in out
    assert "None" not in out


def test_census_diff_big_id_drift_rule(tmp_path, monkeypatch, capsys):
    """r16 verdict item 2: ids whose NEW census time is >= --abs-floor
    (30 s) are held to the tighter --abs-ratio (1.3x), so the census's
    biggest ids cannot drift sub-2x silently — FLAG (exit 1) outside
    the explained tail, a 'grew' line inside it, and nothing for a big
    id under the tight ratio. Retime clearing must judge a big-id
    drift against ITS rule: a steady-state still 1.4x the old census
    stays flagged even though it is under the main 2x ratio."""
    import json as _json
    import sys as _sys

    import tools.census_diff as cd

    old = tmp_path / "old.jsonl"
    new = tmp_path / "new.jsonl"
    old.write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"name": "q_big", "sec": 78.2, "rows": 1},
                {"name": "pipeline_dedup_reuse", "sec": 78.2, "rows": 1},
                {"name": "q_big_steady", "sec": 40.0, "rows": 1},
            ]
        )
    )
    new.write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                # 1.4x at 109 s: above abs-floor + abs-ratio, under the
                # main 2x ratio — exactly the r16 silent-drift shape.
                {"name": "q_big", "sec": 109.2, "rows": 1},
                {"name": "pipeline_dedup_reuse", "sec": 109.2, "rows": 1},
                # 1.2x at 48 s: big, but under abs-ratio — not flagged.
                {"name": "q_big_steady", "sec": 48.0, "rows": 1},
            ]
        )
    )
    monkeypatch.setattr(_sys, "argv", ["census_diff.py", str(old), str(new)])
    assert cd.main() == 1
    out = capsys.readouterr().out
    assert "FLAG  q_big" in out and "big-id drift" in out
    assert "grew  pipeline_dedup_reuse" in out  # explained tail: exit-0 path
    assert "q_big_steady" not in out

    # Retime: steady-state 109 s is still 1.4x the old 78.2 s census —
    # under the main 2x ratio but above the big-id 1.3x rule that
    # flagged it, so it must STAY flagged (and the tail line must say
    # the SCALING.md explanation needs a re-check).
    monkeypatch.setattr(cd, "_retime", lambda name, sf: 109.0)
    monkeypatch.setattr(
        _sys, "argv", ["census_diff.py", str(old), str(new), "--retime"]
    )
    assert cd.main() == 1
    out = capsys.readouterr().out
    assert "FLAG  q_big" in out and "steady-state 109.0 s" in out
    assert "STILL above ratio" in out  # the explained-tail closing line

    # Steady-state back at 85 s (1.09x): within the big-id rule —
    # cleared as environmental, exit 0.
    monkeypatch.setattr(cd, "_retime", lambda name, sf: 85.0)
    monkeypatch.setattr(
        _sys, "argv", ["census_diff.py", str(old), str(new), "--retime"]
    )
    assert cd.main() == 0
    out = capsys.readouterr().out
    assert "clear q_big" in out


def test_census_diff_cold_stage_attribution(tmp_path, monkeypatch, capsys):
    """r16 verdict item 8: the census annotates ids that built a
    scratch fixture inside their timed window (cold_stage list); the
    diff must carry that attribution into its flag/grew notes so
    census-vs-steady gaps are explainable mechanically — in BOTH
    directions (new run paid the cold build, or the old one did and
    the new run looks 'faster' only because it read a warm stage)."""
    import json as _json
    import sys as _sys

    import tools.census_diff as cd

    old = tmp_path / "old.jsonl"
    new = tmp_path / "new.jsonl"
    old.write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"name": "q_cold_new", "sec": 2.2, "rows": 1},
                {"name": "stream_stream_join", "sec": 3.0, "rows": 1,
                 "cold_stage": ["events_two_batch"]},
            ]
        )
    )
    new.write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                # flagged at 7.3x — but the line says the run paid the
                # doubled-feed build inside its window
                {"name": "q_cold_new", "sec": 16.0, "rows": 1,
                 "cold_stage": ["events_doubled_wm"]},
                # explained-tail id grew with a WARM stage the old run
                # built — attribution points the other way
                {"name": "stream_stream_join", "sec": 9.1, "rows": 1},
            ]
        )
    )
    monkeypatch.setattr(_sys, "argv", ["census_diff.py", str(old), str(new)])
    assert cd.main() == 1
    out = capsys.readouterr().out
    assert (
        "FLAG  q_cold_new" in out
        and "new run paid cold stage build: events_doubled_wm" in out
    )
    assert (
        "grew  stream_stream_join" in out
        and "old run paid cold stage build: events_two_batch" in out
    )


def test_scale_probe_errored_ids_exit_nonzero(monkeypatch, capsys):
    """r15 ADVICE: per-id error isolation in scale_probe must not turn
    an all-ERROR wave into a clean exit — any id that hits the except
    branch makes main() return 1 and prints an 'N errored' summary."""
    import sys as _sys

    import tools.scale_probe as sp

    class _BadQuery:
        def build(self, spark, sf_dir):
            raise RuntimeError("boom: fixture missing")

    import configdrivendatapipeline_spark.queries as q
    import configdrivendatapipeline_spark.session as sess

    monkeypatch.setattr(q, "registry", lambda: {"bad_id": _BadQuery()})
    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: object())
    monkeypatch.setattr(sp, "stage", lambda *a, **k: sp.BASE_SF)
    monkeypatch.setattr(
        _sys, "argv", ["scale_probe.py", "--factor", "5", "bad_id"]
    )
    assert sp.main() == 1
    out = capsys.readouterr().out
    assert "bad_id" in out and "ERROR RuntimeError: boom" in out
    assert "1 id(s) errored" in out


def test_scale_probe_vector_salt_preserves_within_replica_cosine(
    spark, sf_dir, monkeypatch, tmp_path
):
    """r17: --salt-vectors replicates embeddings with a per-replica
    cyclic rotation of the array. The probe's honesty rests on two
    invariants: (a) one permutation applied to every vector of a
    replica preserves all within-replica dot products and norms
    EXACTLY, so each replica's neighbor structure is isomorphic to
    base; (b) replica vectors are NOT elementwise-identical to base,
    so LSH buckets spread instead of concentrating k copies (plain
    replication measured pipeline_contrastive at 111x under x25 —
    result volume, not plan efficiency)."""
    import tempfile as _tempfile

    import tools.scale_probe as sp

    monkeypatch.setattr(sp, "BASE_SF", sf_dir)
    monkeypatch.setattr(_tempfile, "gettempdir", lambda: str(tmp_path))
    out = sp.stage(spark, 2, salt_vectors=True)

    base = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .limit(4)
        .collect()
    }
    step = sp.OFFSETS["embeddings"]["vec_id"]
    staged = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{out}/embeddings.parquet")
        .filter(f"vec_id in ({','.join(str(k) for k in base)}) or "
                f"vec_id in ({','.join(str(k + step) for k in base)})")
        .collect()
    }

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    ids = sorted(base)
    for v in ids:
        # replica 0 is the base data verbatim
        assert staged[v] == base[v]
        # replica 1 is rotated: same length, NOT identical...
        rot = staged[v + step]
        assert len(rot) == len(base[v]) and rot != base[v]
        # ...with norms preserved exactly (a permutation)
        assert abs(dot(rot, rot) - dot(base[v], base[v])) < 1e-6
    # within-replica pairwise dot products match base pairwise
    a, b = ids[0], ids[1]
    assert abs(
        dot(staged[a + step], staged[b + step]) - dot(base[a], base[b])
    ) < 1e-6


def test_session_caches_are_lru_bounded():
    """Judge r13 residual nit: the id(session)-keyed conf/load caches
    must not pin sessions (or grow) for process lifetime when the
    engine is embedded with session churn. Weakrefs cannot solve
    this (cached DataFrames strongly reference their session), so
    the caches LRU-evict past _MAX_SESSIONS; the evicted session's
    load-cache entries go with it."""
    from configdrivendatapipeline_spark import queries as q

    saved_conf, saved_load = dict(q._CONF_DONE), dict(q._LOAD_CACHE)
    q._CONF_DONE.clear()
    q._LOAD_CACHE.clear()
    try:
        sessions = [object() for _ in range(q._MAX_SESSIONS + 2)]
        for s in sessions:
            q._CONF_DONE[id(s)] = s
            q._LOAD_CACHE[(id(s), "/sf", "t")] = (s, None)
            q._evict_lru_sessions()
        assert len(q._CONF_DONE) == q._MAX_SESSIONS
        kept = sessions[-q._MAX_SESSIONS:]
        assert [q._CONF_DONE[id(s)] for s in kept] == kept
        assert set(q._LOAD_CACHE) == {(id(s), "/sf", "t") for s in kept}
    finally:
        q._CONF_DONE.clear(), q._CONF_DONE.update(saved_conf)
        q._LOAD_CACHE.clear(), q._LOAD_CACHE.update(saved_load)


def test_session_cache_eviction_is_recency_ordered():
    """A long-lived primary session that keeps getting used must
    never be evicted by transient-session churn: touching a cached
    session refreshes its recency, so eviction hits the
    least-recently-TOUCHED session, not the first-seen one."""
    from configdrivendatapipeline_spark import queries as q

    saved_conf, saved_load = dict(q._CONF_DONE), dict(q._LOAD_CACHE)
    q._CONF_DONE.clear()
    q._LOAD_CACHE.clear()
    try:
        primary, *churn = [object() for _ in range(q._MAX_SESSIONS + 2)]
        q._CONF_DONE[id(primary)] = primary
        for s in churn:
            # touch primary between each new transient session, the
            # way ensure_session_confs' move-to-end refresh does
            q._CONF_DONE[id(primary)] = q._CONF_DONE.pop(id(primary))
            q._CONF_DONE[id(s)] = s
            q._evict_lru_sessions()
        assert id(primary) in q._CONF_DONE, "primary evicted by churn"
        assert len(q._CONF_DONE) == q._MAX_SESSIONS
    finally:
        q._CONF_DONE.clear(), q._CONF_DONE.update(saved_conf)
        q._LOAD_CACHE.clear(), q._LOAD_CACHE.update(saved_load)


def test_load_cache_hit_refreshes_recency():
    """r14 advice: load()'s cache-hit fast path must ALSO refresh the
    session's LRU recency — a primary session touched only via cached
    loads would otherwise still be evictable by 4+ transient sessions,
    voiding the recency guarantee the move-to-end refresh claims."""
    from configdrivendatapipeline_spark import queries as q

    saved_conf, saved_load = dict(q._CONF_DONE), dict(q._LOAD_CACHE)
    q._CONF_DONE.clear()
    q._LOAD_CACHE.clear()
    try:
        primary, *churn = [object() for _ in range(q._MAX_SESSIONS + 2)]
        q._CONF_DONE[id(primary)] = primary
        sentinel = object()
        q._LOAD_CACHE[(id(primary), "/sf", "t")] = (primary, sentinel)
        for s in churn:
            # touch primary ONLY through the load() hit path
            assert q.load(primary, "/sf", "t") is sentinel
            q._CONF_DONE[id(s)] = s
            q._evict_lru_sessions()
        assert id(primary) in q._CONF_DONE, (
            "primary evicted despite cached-load touches"
        )
        assert (id(primary), "/sf", "t") in q._LOAD_CACHE
    finally:
        q._CONF_DONE.clear(), q._CONF_DONE.update(saved_conf)
        q._LOAD_CACHE.clear(), q._LOAD_CACHE.update(saved_load)
