"""Skew utilities + config-driven streaming pipeline tests."""

from __future__ import annotations

import os
import pathlib

import pytest

from pyspark.sql import functions as F

from configdrivendatapipeline_spark.skew import salted_agg, salted_join


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    plain = li.join(sup, "l_suppkey").groupBy("s_name").count()
    salted = salted_join(li, sup, on="l_suppkey", salt=8).groupBy("s_name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_agg_matches_plain_agg(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plain = {
        tuple(r)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("min_q"),
            F.max("l_quantity").alias("max_q"),
        )
        .collect()
    }
    salted = {
        tuple(r)
        for r in salted_agg(
            li,
            ["l_returnflag"],
            {
                "n": ("count", "l_quantity"),
                "min_q": ("min", "l_quantity"),
                "max_q": ("max", "l_quantity"),
            },
            salt=8,
        ).collect()
    }
    assert plain == salted


def test_salted_agg_rejects_non_algebraic(spark, sf_dir):
    import pytest

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    with pytest.raises(ValueError, match="salted_agg supports"):
        salted_agg(li, ["l_returnflag"], {"m": ("median", "l_quantity")})


def test_streaming_pipeline_from_yaml(spark, tmp_path):
    """The streaming_purchases example (its sink pointed at a tmpdir)
    runs end-to-end via config and produces exactly the
    batch-equivalent rows."""
    from configdrivendatapipeline_spark.compiler import run_pipeline
    from configdrivendatapipeline_spark.config import load_pipeline

    text = pathlib.Path("examples/streaming_purchases.yaml").read_text()
    assert "/tmp/cddp_out/purchases_stream" in text
    out = str(tmp_path / "purchases_stream")
    yaml_path = tmp_path / "streaming_purchases.yaml"
    yaml_path.write_text(text.replace("/tmp/cddp_out/purchases_stream", out))
    cfg = load_pipeline(str(yaml_path))
    frames = run_pipeline(spark, cfg)
    assert frames["shaped"].isStreaming
    got = spark.read.parquet(out)
    want = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert got.count() == want
    assert set(got.columns) == {"event_id", "user_id", "event_ts", "value"}
    assert dict(got.dtypes)["event_ts"] == "timestamp"


def test_streaming_sink_config_is_not_mutated(spark, sf_dir, tmp_path):
    """A streaming sink is written per micro-batch with mode=append,
    set on a copy: the loaded config's sink keeps what the document
    said (here, no mode at all)."""
    from configdrivendatapipeline_spark.compiler import run_pipeline
    from configdrivendatapipeline_spark.config import load_pipeline_str

    out = str(tmp_path / "ids")
    cfg = load_pipeline_str(
        f"""
sources:
  ev: {{format: parquet, path: "{sf_dir}/events.parquet", streaming: true}}
steps:
  - {{id: ids, input: ev, op: select, params: {{columns: [event_id]}}}}
sinks:
  - {{input: ids, format: parquet, path: "{out}"}}
"""
    )
    before = dict(cfg.sinks[0])
    run_pipeline(spark, cfg)
    assert cfg.sinks[0] == before and "mode" not in before
    assert (
        spark.read.parquet(out).count()
        == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    )


def test_schema_drift_modes(spark):
    """passthrough keeps unknowns + nulls missing; drop shapes to the
    declared schema; strict raises."""
    import pytest

    from configdrivendatapipeline_spark.io.sources import apply_schema_drift
    from pyspark.sql.types import _parse_datatype_string

    df = spark.createDataFrame([(1, "x", 2.0)], "a INT, b STRING, extra DOUBLE")
    expected = _parse_datatype_string("a INT, b STRING, missing BIGINT")

    pt = apply_schema_drift(df, expected, "passthrough")
    assert set(pt.columns) == {"a", "b", "extra", "missing"}
    assert pt.collect()[0].missing is None

    dr = apply_schema_drift(df, expected, "drop")
    assert dr.columns == ["a", "b", "missing"]

    with pytest.raises(ValueError, match="schema drift"):
        apply_schema_drift(df, expected, "strict")


def test_salted_join_rejects_outer_types(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").withColumnRenamed(
        "s_suppkey", "l_suppkey"
    )
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(li, sup, on="l_suppkey", how="full")


def test_salted_ops_reject_nonpositive_salt(spark, sf_dir):
    """salt=0 would make pmod(hash, 0) NULL on every big-side row:
    salted_join's equi-join silently returns ZERO rows, and
    salted_agg silently degrades to an unsalted aggregation — both
    must fail at plan time instead."""
    import pytest

    from configdrivendatapipeline_spark.queries import load

    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="salt >= 1"):
            salted_join(li, sup, on="l_suppkey", salt=bad)
        with pytest.raises(ValueError, match="salt >= 1"):
            salted_agg(
                li, ["l_returnflag"], {"n": ("count", "l_orderkey")}, salt=bad
            )


def test_salted_join_rejects_key_only_big_side(spark, sf_dir):
    """The salt is a full-row hash: a big side whose ONLY column is
    the join key hashes every hot-key row identically, so the whole
    hot key still lands on one salt — the split is a silent no-op.
    Refuse at plan time (round-12 self-review)."""
    import pytest

    from configdrivendatapipeline_spark.queries import load

    li = load(spark, sf_dir, "lineitem").select("l_suppkey")
    sup = load(spark, sf_dir, "supplier").withColumnRenamed(
        "s_suppkey", "l_suppkey"
    )
    with pytest.raises(ValueError, match="only column is the join key"):
        salted_join(li, sup, on="l_suppkey")


def test_skew_ratio_exact_beyond_bigint_intermediates(spark):
    """skew_stats / llm_shard_balance compute ratio numerators as
    n_rows·n_keys·1e6 — at 100 TB that intermediate exceeds BIGINT
    and a non-ANSI long multiply WRAPS silently (verified: the old
    expression returns a negative 'ratio'). Both engines now widen to
    128 bits (DECIMAL(38,0) / HUGEINT); this pins that the widened
    expression is exact exactly where the long one corrupts."""
    import duckdb

    n_rows, n_keys, total = 3_000_000_000, 4_000_000_000, 9_000_000_000_000
    want = (n_rows * n_keys * 1_000_000) // total  # Python int = exact
    got_spark = spark.sql(
        f"SELECT CAST((CAST({n_rows} AS DECIMAL(38,0)) * {n_keys} * 1000000)"
        f" div {total} AS BIGINT) AS r"
    ).collect()[0]["r"]
    got_duck = duckdb.sql(
        f"SELECT CAST((CAST({n_rows} AS HUGEINT) * {n_keys} * 1000000)"
        f" // {total} AS BIGINT) AS r"
    ).fetchone()[0]
    assert got_spark == got_duck == want
    # and the OLD long expression really is broken at this magnitude:
    # ANSI mode throws ARITHMETIC_OVERFLOW (query dies at scale),
    # non-ANSI silently wraps to a wrong ratio — both failure modes
    # are the bug the widening fixes
    try:
        wrapped = spark.sql(
            f"SELECT ({n_rows} * {n_keys} * 1000000) div {total} AS r"
        ).collect()[0]["r"]
        assert wrapped != want
    except Exception as e:  # noqa: BLE001
        assert "ARITHMETIC_OVERFLOW" in str(e)
