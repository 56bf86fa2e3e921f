"""Physical-plan assertions (SURVEY.md §4): the optimizations the
engine promises must be visible in `.explain` output — these tests
fail if a future change defeats pushdown, pruning, or broadcasting."""

from __future__ import annotations

from configdrivendatapipeline_spark.queries import registry


def _plan(spark, sf_dir, name) -> str:
    import io
    from contextlib import redirect_stdout

    df = registry()[name].build(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_groupby")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_flagship_columns_pruned(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_groupby")
    # the scan must not read the join keys it doesn't need
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_multiway_star")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_semi_anti_stay_joins_not_subqueries(spark, sf_dir):
    for name in ("join_semi", "join_anti"):
        plan = _plan(spark, sf_dir, name)
        assert "Join" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_global")
    assert "TakeOrderedAndProject" in plan


def test_scalar_queries_stay_codegen(spark, sf_dir):
    """No Python evaluation in built-in-function queries."""
    for name in ("fn_string", "fn_math", "derive_column"):
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # formatted-mode marks codegen stages with a leading '*'
        assert "\n* " in plan or "+- * " in plan


def test_lookup_broadcasts_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "enr_lookup")
    assert "BroadcastHashJoin" in plan


def test_pair_queries_never_quadratic(spark, sf_dir):
    """The dedup/ANN pair generators were rewritten (round 2-3) from
    O(n²) self-joins to bucketed/prefix-filtered equi-joins; these
    assertions pin the plan shape so a regression to a cartesian or
    nested-loop join — the 100 TB killer — fails CI even in rounds
    where the driver's correctness window doesn't cover the query.
    (brute-force/IVF top-k keep a deliberate bounded broadcast
    crossJoin against a fixed-size probe/centroid side and are
    excluded.)"""
    for name in (
        "llm_minhash_dedup",
        "llm_embed_neardup",
        "llm_jaccard_neardup",
        "llm_ngram_jaccard",
        "llm_knn_join",
        "llm_knn_lsh",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_semdedup_bucket_bounded(spark, sf_dir):
    """Survivor selection must inherit the LSH equi-join candidate
    shape — never a cartesian/nested-loop pair space."""
    plan = _plan(spark, sf_dir, "llm_semdedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_packing_and_shuffle_single_exchange_no_global_sort(spark, sf_dir):
    """pack/shuffle layouts must shuffle once on the shard key and
    sort only within partitions (a global Sort/range partitioning
    would serialize the corpus through one ordering)."""
    for name in ("llm_seq_packing", "llm_shuffle"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("hashpartitioning(shard") == 1, name
        assert "rangepartitioning" not in plan, name
        # text must be consumed map-side, never shuffled: the Exchange
        # node's Input schema may not carry the text column
        lines = plan.splitlines()
        ex_inputs = [
            lines[i + 1]
            for i, l in enumerate(lines)
            if l.strip().endswith("Exchange") and "Input" in lines[i + 1]
        ]
        assert ex_inputs and all("text" not in l for l in ex_inputs), name


def _nodes(plan: str, op: str) -> int:
    """Count physical nodes of a type in `formatted` output (the
    details section lists each node once as '(N) <Op>')."""
    import re

    return len(re.findall(rf"^\(\d+\) {re.escape(op)}", plan, re.M))


def test_val_drift_scans_fact_table_once(spark, sf_dir):
    """Totals come from a bounded window over the bin frame — a
    second aggregate branch would re-scan the fact table."""
    plan = _plan(spark, sf_dir, "val_drift")
    assert _nodes(plan, "Scan parquet") == 1, plan


def test_sessionize_windows_share_one_shuffle(spark, sf_dir):
    """lag and cumsum both partition by user_id — one exchange, not
    one per window pass."""
    plan = _plan(spark, sf_dir, "win_sessionize")
    assert _nodes(plan, "Exchange") == 1, plan
    assert _nodes(plan, "Scan parquet") == 1, plan


def test_agg_mode_two_aggregation_shuffles_only(spark, sf_dir):
    """count shuffle + per-group top-1 over the tiny count frame;
    anything more means the plan regressed."""
    plan = _plan(spark, sf_dir, "agg_mode")
    assert _nodes(plan, "Exchange") <= 2, plan


def test_bloom_fact_side_map_only_before_test(spark, sf_dir):
    """The fact scan must reach the bloom membership test without any
    Exchange — the whole point of the bitmap is shedding rows BEFORE
    a shuffle. The only fact-side Exchange allowed is the final
    groupBy; the bitmap arrives via broadcast."""
    plan = _plan(spark, sf_dir, "join_bloom")
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row bitmap attach
    assert "CartesianProduct" not in plan
    # orders (the fact) scans once; no Exchange between its scan and
    # the bloom filter — verified structurally: the plan has exactly
    # two shuffle Exchanges (dim distinct + final aggregate), never a
    # fact-side pre-join repartition.
    exchanges = [l for l in plan.splitlines() if l.strip().startswith("(") and "Exchange" in l and "Broadcast" not in l]
    assert len(exchanges) <= 3, plan


def test_zorder_value_is_map_side(spark, sf_dir):
    """layout_zorder: one aggregate for min/max (broadcast back), one
    aggregate for the cells — the z-value itself must be computed
    without any extra shuffle or Python eval."""
    plan = _plan(spark, sf_dir, "layout_zorder")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_skew_stats_takeordered_no_global_window(spark, sf_dir):
    """val_skew must TakeOrdered the hot keys, not row_number every
    key through a single partition."""
    plan = _plan(spark, sf_dir, "val_skew")
    assert "TakeOrderedAndProject" in plan


def test_unigram_lm_two_shuffles_only(spark, sf_dir):
    """Vocab agg + per-doc agg; the frequency join must broadcast."""
    plan = _plan(spark, sf_dir, "llm_unigram_lm")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_benford_constants_and_share_conservation(spark, sf_dir):
    import math

    from configdrivendatapipeline_spark.validation import (
        BENFORD_MICRO,
        benford_profile,
    )

    for d, micro in enumerate(BENFORD_MICRO, start=1):
        assert micro == round(math.log10(1 + 1 / d) * 1_000_000)
    rows = benford_profile(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_totalprice"
    ).collect()
    assert {r["first_digit"] for r in rows} <= set(range(1, 10))
    total = sum(r["n_rows"] for r in rows)
    # floor-divided shares undershoot by < 1 micro each
    s = sum(r["share_micro"] for r in rows)
    assert 1_000_000 - 9 <= s <= 1_000_000
    for r in rows:
        assert r["benford_dev_micro"] == abs(
            r["share_micro"] - r["benford_micro"]
        )


def test_running_distinct_matches_final_count_and_monotone(spark, sf_dir):
    from pyspark.sql import functions as F

    from configdrivendatapipeline_spark.queries.windows import (
        win_running_distinct,
    )

    out = win_running_distinct(spark, sf_dir).collect()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    finals = {
        r["o_custkey"]: r["n"]
        for r in o.groupBy("o_custkey")
        .agg(F.countDistinct("o_orderpriority").alias("n"))
        .collect()
    }
    by_cust: dict = {}
    for r in out:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    for ck, rs in by_cust.items():
        rs.sort(key=lambda r: (r["o_orderdate"], r["o_orderkey"]))
        vals = [r["distinct_so_far"] for r in rs]
        assert vals[0] == 1
        assert all(b - a in (0, 1) for a, b in zip(vals, vals[1:]))
        assert vals[-1] == finals[ck]


def test_ewma_matches_python_reference(spark, sf_dir):
    from configdrivendatapipeline_spark.queries.windows import win_ewma

    out = {
        (r["user_id"], r["event_id"]): (r["n_in_frame"], r["ewma_micro"])
        for r in win_ewma(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    import math

    by_user: dict = {}
    for r in ev:
        cents = math.floor(r["value"] * 100 + 0.5)
        by_user.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], cents)
        )
    for uid, rows in by_user.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        hist: list = []
        for (_, eid, cents) in rows:
            hist.append(cents)
            frame = hist[-8:]
            m = len(frame)
            num = sum(c * (1 << (7 - k)) for k, c in enumerate(reversed(frame)))
            den = 256 - (1 << (8 - m))
            assert out[(uid, eid)] == (m, (num * 1_000_000) // den), (uid, eid)


def test_gapfill_linear_brackets_and_agrees_on_observed(spark, sf_dir):
    from configdrivendatapipeline_spark.queries.windows import (
        win_gapfill_linear,
        win_gapfill_locf,
    )

    lin = {
        (r["user_id"], r["day"]): (r["value_micro"], r["observed"])
        for r in win_gapfill_linear(spark, sf_dir).collect()
    }
    locf = {
        (r["user_id"], r["day"]): (r["value_micro"], r["observed"])
        for r in win_gapfill_locf(spark, sf_dir).collect()
    }
    assert set(lin) == set(locf)
    for k, (v, obs) in lin.items():
        assert v is not None
        if obs:
            # observed days agree exactly with LOCF (both emit the obs)
            assert locf[k][0] == v
    # every interpolated value lies between its bracketing observations
    by_user: dict = {}
    for (uid, day), (v, obs) in lin.items():
        by_user.setdefault(uid, []).append((day, v, obs))
    for uid, rows in by_user.items():
        rows.sort()
        obs_idx = [i for i, r in enumerate(rows) if r[2]]
        for a, b in zip(obs_idx, obs_idx[1:]):
            lo = min(rows[a][1], rows[b][1])
            hi = max(rows[a][1], rows[b][1])
            for i in range(a + 1, b):
                assert lo - 1 <= rows[i][1] <= hi + 1, (uid, rows[i])


def test_hampel_flags_planted_spike_not_steady_drift(spark, tmp_path):
    import datetime as dt

    from configdrivendatapipeline_spark.queries.windows import win_hampel
    from configdrivendatapipeline_spark.queries import _REGISTRY

    # build a tiny staged events table: steady series with one spike
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    vals = [10.0, 10.1, 10.2, 10.1, 99.0, 10.2, 10.3, 10.2]
    for i, v in enumerate(vals):
        rows.append((i, 1, t0 + dt.timedelta(minutes=i), "click", v))
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value"]
    )
    path = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{path}/events.parquet")
    out = {r["event_id"]: r["is_spike"] for r in win_hampel(spark, path).collect()}
    assert out[4] is True            # the planted spike
    assert not any(out[i] for i in (0, 1, 2, 3))  # steady ramp is clean


def test_gini_extremes(spark, sf_dir, tmp_path):
    """Gini is ~0 for uniform values and approaches (n-1)/n when one
    holder owns everything."""
    from configdrivendatapipeline_spark.queries import _REGISTRY

    uniform = spark.createDataFrame(
        [(1, 50.0, i) for i in range(10)],
        ["c_nationkey", "c_acctbal", "c_custkey"],
    )
    # two dirs: queries.load() caches per (session, sf_dir, table)
    path_u = str(tmp_path / "uniform")
    path_c = str(tmp_path / "conc")
    uniform.write.mode("overwrite").parquet(f"{path_u}/customer.parquet")
    from configdrivendatapipeline_spark.queries.aggregates import agg_gini

    r = agg_gini(spark, path_u).collect()[0]
    assert abs(r["gini_micro"]) <= 1  # integer-floor wobble only
    concentrated = spark.createDataFrame(
        [(1, 0.0, i) for i in range(9)] + [(1, 10000.0, 9)],
        ["c_nationkey", "c_acctbal", "c_custkey"],
    )
    concentrated.write.mode("overwrite").parquet(f"{path_c}/customer.parquet")
    r = agg_gini(spark, path_c).collect()[0]
    # analytic value: values (9x 1e5, 1x 1.1e6) cents -> G = 0.45
    assert r["gini_micro"] == 450_000


def test_drawdown_never_negative_and_peak_monotone(spark, sf_dir):
    from configdrivendatapipeline_spark.queries.windows import win_drawdown

    rows = win_drawdown(spark, sf_dir).collect()
    assert all(r["drawdown_micro"] >= 0 for r in rows)
    assert all(r["peak_micro"] >= r["cum_micro"] for r in rows)


def test_cusum_matches_recursive_definition(spark, sf_dir):
    """The two-window rewrite equals the textbook recurrence
    S_t = max(0, S_{t-1} + (x_t - target)) on real data."""
    import math

    from configdrivendatapipeline_spark.queries.windows import win_cusum

    got = {
        (r["user_id"], r["event_id"]): r["cusum_cents"]
        for r in win_cusum(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    by_user: dict = {}
    for r in ev:
        cents = math.floor(r["value"] * 100 + 0.5)
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], cents))
    for uid, rows in by_user.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        total = sum(c for _, _, c in rows)
        n = len(rows)
        target = (total * 2 + n) // (2 * n)
        s = 0
        for (_, eid, cents) in rows:
            s = max(0, s + (cents - target))
            assert got[(uid, eid)] == s, (uid, eid)


def test_python_datasource_partitions_and_determinism(spark):
    from configdrivendatapipeline_spark.io import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("shards", 3)
        .option("rows_per_shard", 7)
        .load()
    )
    rows = df.collect()
    assert len(rows) == 21
    assert df.rdd.getNumPartitions() == 3
    for r in rows:
        assert r["shard"] == r["doc_id"] // 7
        assert r["text"] == pydatasource.synthetic_text(r["doc_id"])
    # re-read is bit-identical (pure function of ids — retry-safe)
    again = {r["doc_id"]: r["text"] for r in df.collect()}
    assert again == {r["doc_id"]: r["text"] for r in rows}


def test_growth_accounting_identities(spark, sf_dir):
    """active(t) = new + retained + resurrected and
    churn(t) = active(t-1) - retained(t) hold exactly."""
    from pyspark.sql import functions as F

    from configdrivendatapipeline_spark.queries.aggregates import (
        agg_growth_accounting,
    )

    rows = agg_growth_accounting(spark, sf_dir).collect()
    by_wk: dict = {}
    for r in rows:
        by_wk.setdefault(str(r["wk"]), {})[r["status"]] = r["n"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    weekly = {
        str(r["wk"]): r["n"]
        for r in act.groupBy("wk").agg(F.count("*").alias("n")).collect()
    }
    weeks = sorted(weekly)
    for i, wk in enumerate(weeks):
        g = by_wk.get(wk, {})
        assert (
            g.get("new", 0) + g.get("retained", 0) + g.get("resurrected", 0)
            == weekly[wk]
        ), wk
        if i > 0:
            assert g.get("churned", 0) == weekly[weeks[i - 1]] - g.get(
                "retained", 0
            ), wk


def test_peak_concurrency_matches_python_sweep(spark, sf_dir):
    import datetime as dt

    from configdrivendatapipeline_spark.queries.aggregates import (
        agg_peak_concurrency,
    )

    got = {
        str(r["day"]): r["peak_concurrent"]
        for r in agg_peak_concurrency(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    by_day: dict = {}
    for r in ev:
        day = r["ts"].date()
        end = min(
            r["ts"] + dt.timedelta(minutes=30),
            dt.datetime.combine(day + dt.timedelta(days=1), dt.time()),
        )
        by_day.setdefault(day, []).append((r["ts"], 1, r["event_id"]))
        by_day[day].append((end, -1, r["event_id"]))
    for day, pts in by_day.items():
        pts.sort()  # (t, delta, id): ends (-1) before starts at equal t
        cur = peak = 0
        for (_, d, _) in pts:
            cur += d
            peak = max(peak, cur)
        assert got[str(day)] == peak, day


def test_lint_plan_detects_each_antipattern():
    """The lint's pattern detectors must actually fire: a planted
    cartesian, a row-Python UDF, and an unpartitioned window each
    flag for a non-allowlisted query name, and the logical-dedup of
    window specs counts a reused subtree once."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_lint import lint_plan

    assert lint_plan("some_query", "... CartesianProduct ...") == [
        "CartesianProduct"
    ]
    assert lint_plan("some_query", "... BatchEvalPython ...") == [
        "BatchEvalPython"
    ]
    gw = (
        "Window [sum(x#12L) windowspecdefinition(y#3L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$()))]"
    )
    assert lint_plan("some_query", gw) == ["GLOBAL_WINDOW"]
    # partitioned window: first arg is a bare column, no direction
    pw = (
        "Window [sum(x#12L) windowspecdefinition(part#7, y#3L ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$()))]"
    )
    assert lint_plan("some_query", pw) == []
    # allowlisted name passes, but only up to its pinned count
    assert lint_plan("val_skew", gw) == []
    two = gw + "\n" + gw.replace("y#3L", "z#9L")
    hits = lint_plan("val_skew", two)
    assert hits and "allowed" in hits[0]
    # N window FUNCTIONS sharing one spec inside ONE Window node
    # dedup to one window...
    one_node = gw.replace(
        "]", ", max(x#12L) windowspecdefinition(y#3L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$()))]"
    )
    assert lint_plan("val_skew", one_node) == []
    # ...but a SECOND Window node counts even when its spec is
    # id-stripped-identical — it cannot hide behind the exemption
    two_nodes = gw + "\n" + gw.replace("#3L", "#88L")
    hits = lint_plan("val_skew", two_nodes)
    assert hits and "allowed" in hits[0]


def test_widen_narrow_scan_is_rdd_free_and_conditional(spark, sf_dir):
    """widen_narrow_scan/shingle_hash_sets derive arrival width from
    the scan's file list (no plan-to-RDD conversion): a single-file
    local scan is widened to defaultParallelism and the repartition lands on
    exactly that width; a frame with no file source reports None and
    is left untouched. (Contract: callers feed scan projections —
    inputFiles reports LEAF scans, so post-shuffle frames are out of
    scope by design; see partitioning.py.)"""
    from pyspark.sql import functions as F

    from configdrivendatapipeline_spark.partitioning import (
        scan_split_count,
        widen_narrow_scan,
    )
    from configdrivendatapipeline_spark.queries import load

    li = load(spark, sf_dir, "lineitem")
    assert scan_split_count(li) == 1  # driver fixtures: one file/table
    wide = widen_narrow_scan(li)
    assert "Exchange" in wide._jdf.queryExecution().executedPlan().toString()
    target = spark.sparkContext.defaultParallelism
    # the repartition actually lands on the target width
    assert (
        wide.select(F.spark_partition_id().alias("p")).distinct().count()
        == target
    )
    no_files = spark.createDataFrame([(1,)], "x INT")
    assert scan_split_count(no_files) is None
    assert widen_narrow_scan(no_files) is no_files  # no-op, no shuffle


def test_shingle_hash_sets_widens_in_memory_frames(spark):
    """Public-API callers may pass in-memory frames (inputFiles()
    empty → scan_split_count None); those arrive in a handful of
    parallelize splits and must still be widened before the
    CPU-heavy shingle map stage — the regression ADVICE r9 flagged
    when the .rdd width probe was removed."""
    from configdrivendatapipeline_spark.llm.dedup import shingle_hash_sets

    docs = spark.createDataFrame(
        [(i, "tok%d a b c d e" % i) for i in range(40)],
        "doc_id INT, text STRING",
    )
    hs = shingle_hash_sets(docs, id_col="doc_id", text_col="text")
    plan = hs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan  # the widening repartition is present
    assert hs.count() == 40


def test_phash_pairs_decodes_once(spark, sf_dir):
    """mm_phash_pairs fans the hash table into the banding explode,
    the bucket cap, and both verify-join sides; without the
    materialization in multimodal.phash_pairs each subtree re-runs
    the full payload-generate + decode Python pipeline (measured: 6
    ArrowEvalPython + 6 MapInPandas nodes, ~25% more summed task
    time at sf0.1, 6x the decode CPU at scale). The checkpoint keeps
    every Python crossing out of the executed pair plan — the decode
    runs exactly once, in the materialization job."""
    for name in ("mm_phash_pairs", "mm_video_scenes"):
        plan = _plan(spark, sf_dir, name)
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
        # consumers read the materialized table
        assert "ExistingRDD" in plan
