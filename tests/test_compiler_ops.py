"""Every compiler op is reachable from YAML and produces the same
result as the equivalent hand-built DataFrame expression."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from configdrivendatapipeline_spark.compiler import OPS, compile_pipeline
from configdrivendatapipeline_spark.config import ConfigError, load_pipeline_str


def run_step(spark, sf_dir, table: str, step_yaml: str, extra_sources: str = ""):
    cfg = load_pipeline_str(
        f"""
sources:
  {table}: {{format: parquet, path: "{sf_dir}/{table}.parquet"}}
{extra_sources}steps:
{step_yaml}
"""
    )
    return compile_pipeline(spark, cfg)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_every_op_is_exercised_below():
    """Every registered compiler op must be exercised through
    run_step/YAML somewhere in this file — derived by scanning the
    file's own `op:` usages, so the gate cannot drift from reality
    the way a hand-maintained list can."""
    import pathlib
    import re

    src = pathlib.Path(__file__).read_text()
    used = set(re.findall(r"op: ([a-z0-9_]+)", src))
    missing = set(OPS) - used
    assert not missing, f"compiler ops never exercised via YAML here: {sorted(missing)}"


def test_projection_ops(spark, sf_dir):
    frames = run_step(
        spark,
        sf_dir,
        "nation",
        """
  - {id: sel, input: nation, op: select, params: {columns: [n_nationkey, n_name]}}
  - {id: ren, input: sel, op: rename, params: {mapping: {n_name: nation_name}}}
  - {id: dr, input: nation, op: drop, params: {columns: [n_regionkey]}}
  - {id: der, input: nation, op: derive, params: {columns: {double_key: "n_nationkey * 2"}}}
  - {id: ca, input: nation, op: cast, params: {columns: {n_nationkey: bigint}}}
  - {id: casafe, input: nation, op: cast, params: {mode: safe, columns: {n_name: int}}}
""",
    )
    assert frames["ren"].columns == ["n_nationkey", "nation_name"]
    assert frames["dr"].columns == ["n_nationkey", "n_name"]
    assert frames["der"].select(F.max("double_key")).collect()[0][0] == 48
    assert dict(frames["ca"].dtypes)["n_nationkey"] == "bigint"
    assert frames["casafe"].filter(F.col("n_name").isNotNull()).count() == 0


def test_join_union_distinct_ops(spark, sf_dir):
    frames = run_step(
        spark,
        sf_dir,
        "nation",
        """
  - id: j
    inputs: [nation, region]
    op: join
    params: {condition: "n_regionkey = r_regionkey", how: inner, broadcast: true}
  - id: u
    inputs: [nation, nation]
    op: union
    params: {}
  - id: d
    input: u
    op: distinct
    params: {columns: [n_regionkey]}
""",
        extra_sources=f'  region: {{format: parquet, path: "{sf_dir}/region.parquet"}}\n',
    )
    assert frames["j"].count() == 25
    assert frames["u"].count() == 50
    assert frames["d"].count() == 5


def test_aggregate_window_dedup_ops(spark, sf_dir):
    frames = run_step(
        spark,
        sf_dir,
        "orders",
        """
  - id: agg
    input: orders
    op: aggregate
    params:
      group_by: [o_orderstatus]
      aggs: {n: "COUNT(*)"}
      having: "COUNT(*) > 1"
  - id: roll
    input: orders
    op: aggregate
    params: {kind: rollup, group_by: [o_orderstatus], aggs: {n: "COUNT(*)"}}
  - id: piv
    input: orders
    op: pivot
    params: {group_by: [o_orderpriority], pivot_column: o_orderstatus,
             values: [F, O], agg: "COUNT(*)"}
  - id: unp
    input: orders
    op: unpivot
    params: {ids: [o_orderkey], values: [o_totalprice], var_name: m, value_name: v}
  - id: win
    input: orders
    op: window
    params:
      partition_by: [o_custkey]
      order_by: [o_orderdate, o_orderkey]
      columns: {seq: "ROW_NUMBER()"}
  - id: ded
    input: orders
    op: dedup
    params: {keys: [o_custkey], order_by: ["o_orderdate DESC", "o_orderkey"]}
  - id: srt
    input: ded
    op: sort
    params: {by: ["o_custkey"]}
  - id: lim
    input: srt
    op: limit
    params: {n: 7}
""",
    )
    statuses = dict((r[0], r[1]) for r in frames["agg"].collect())
    assert sum(statuses.values()) == frames["orders"].count()
    assert frames["roll"].count() == len(statuses) + 1
    assert set(frames["piv"].columns) == {"o_orderpriority", "F", "O"}
    assert frames["unp"].columns == ["o_orderkey", "m", "v"]
    assert frames["win"].filter(F.col("seq") == 1).count() == frames[
        "orders"
    ].select("o_custkey").distinct().count()
    assert frames["ded"].count() == frames["orders"].select("o_custkey").distinct().count()
    assert frames["lim"].count() == 7


def test_enrichment_and_salted_ops(spark, sf_dir):
    frames = run_step(
        spark,
        sf_dir,
        "customer",
        """
  - id: lk
    inputs: [customer, nation]
    op: lookup
    params:
      keys: {c_nationkey: n_nationkey}
      take: {nation_name: n_name}
  - id: std
    input: customer
    op: standardize
    params: {columns: [c_mktsegment]}
  - id: bz
    input: customer
    op: bucketize
    params: {column: c_acctbal, bounds: [0, 5000], labels: [debt, low, high], out: tier}
  - id: sk
    input: customer
    op: surrogate_key
    params: {order_by: [c_custkey], partition_by: [c_nationkey], out: sk}
  - id: au
    input: customer
    op: audit
    params: {load_id: L1, source_name: cust}
  - id: natkeyed
    input: nation
    op: rename
    params: {mapping: {n_nationkey: c_nationkey}}
  - id: sj
    inputs: [customer, natkeyed]
    op: salted_join
    params: {key: c_nationkey, salt: 4}
  - id: sa
    input: customer
    op: salted_agg
    params: {group_by: [c_nationkey], aggs: {n: [count, c_custkey]}, salt: 4}
  - id: sc
    input: customer
    op: scd2
    params: {key: [c_nationkey], ts: c_custkey}
  - id: sct
    input: customer
    op: scd2
    params: {key: [c_mktsegment], ts: c_nationkey, tiebreak: [c_custkey]}
""",
        extra_sources=(
            f'  nation: {{format: parquet, path: "{sf_dir}/nation.parquet",'
            ' schema: "n_nationkey INT, n_name STRING, n_regionkey INT"}\n'
        ),
    )
    c = frames["customer"]
    n_cust = c.count()
    assert frames["lk"].filter(F.col("nation_name").isNotNull()).count() == n_cust
    assert frames["std"].select("c_mktsegment").distinct().count() == 5
    assert frames["bz"].filter(F.col("tier").isin("debt", "low", "high")).count() == n_cust
    assert frames["sk"].filter(F.col("sk") == 1).count() == c.select(
        "c_nationkey"
    ).distinct().count()
    assert frames["au"].select("_load_id").distinct().collect()[0][0] == "L1"
    # salted join must equal a plain join ON the renamed key
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    plain = c.join(
        nat.withColumnsRenamed({"n_nationkey": "c_nationkey"}), "c_nationkey"
    ).count()
    assert frames["sj"].count() == plain
    sa = {tuple(r) for r in frames["sa"].collect()}
    plain_agg = {
        tuple(r)
        for r in c.groupBy("c_nationkey").agg(F.count("c_custkey").alias("n")).collect()
    }
    assert sa == plain_agg
    assert frames["sc"].filter(F.col("is_current")).count() == c.select(
        "c_nationkey"
    ).distinct().count()
    # tiebreak makes the same-ts 'current' version deterministic: per
    # segment the current row must be the max (ts, tiebreak) pair
    cur = {
        (r["c_mktsegment"], r["c_nationkey"], r["c_custkey"])
        for r in frames["sct"].filter(F.col("is_current")).collect()
    }
    want = {
        tuple(r)
        for r in c.groupBy("c_mktsegment")
        .agg(F.max(F.struct("c_nationkey", "c_custkey")).alias("m"))
        .select("c_mktsegment", "m.c_nationkey", "m.c_custkey")
        .collect()
    }
    assert cur == want


def test_bucketize_rejects_unordered_bounds(spark):
    """Out-of-order cut points don't error downstream — the first
    matching `< bound` wins, so bounds [10, 5] silently mis-band every
    value in [5, 10). Loud plan-time validation instead (round-12
    self-review; same contract as length_buckets caps)."""
    import pytest

    from configdrivendatapipeline_spark.enrichment import bucketize

    df = spark.createDataFrame([(7.0,)], ["x"])
    with pytest.raises(ValueError, match="strictly increasing"):
        bucketize(df, "x", [10.0, 5.0], ["a", "b", "c"], out="band")
    with pytest.raises(ValueError, match="strictly increasing"):
        bucketize(df, "x", [5.0, 5.0], ["a", "b", "c"], out="band")
    ok = bucketize(df, "x", [5.0, 10.0], ["a", "b", "c"], out="band")
    assert ok.collect()[0]["band"] == "b"


def test_merge_op(spark, sf_dir):
    frames = run_step(
        spark,
        sf_dir,
        "region",
        """
  - id: upd
    input: region
    op: derive
    params: {columns: {r_name: "'PATCHED'"}}
  - id: patch
    input: upd
    op: filter
    params: {predicate: "r_regionkey = 0"}
  - id: merged
    inputs: [region, patch]
    op: merge
    params: {key: [r_regionkey]}
""",
    )
    rows_ = {(r.r_regionkey, r.r_name) for r in frames["merged"].collect()}
    assert ("PATCHED" in {n for k, n in rows_ if k == 0})
    assert len(rows_) == 5


def test_validate_and_sql_ops_again(spark, sf_dir):
    frames = run_step(
        spark,
        sf_dir,
        "orders",
        """
  - id: m
    input: orders
    op: validate
    params:
      output: metrics
      rules:
        - {rule: not_null, name: ok, column: o_orderkey}
  - id: q
    input: orders
    op: sql
    params:
      views: [o]
      query: "SELECT COUNT(*) AS n FROM o"
""",
    )
    assert frames["m"].collect()[0].passed is True
    assert frames["q"].collect()[0].n == frames["orders"].count()


def test_unknown_join_input_count_raises(spark, sf_dir):
    with pytest.raises(ValueError, match="exactly 2 inputs"):
        run_step(
            spark,
            sf_dir,
            "orders",
            """
  - {id: j, inputs: [orders], op: join, params: {condition: "1=1"}}
""",
        )


def test_llm_corpus_ops(spark, sf_dir):
    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - id: q
    input: documents
    op: text_quality
    params: {min_quality: 70, keep_text: true}
  - id: r
    input: q
    op: redact
    params: {text_column: text}
  - id: u
    input: r
    op: dedup_exact
    params: {}
  - id: c
    input: u
    op: chunk
    params: {chunk_tokens: 32, overlap: 8}
""",
    )
    assert frames["q"].count() <= frames["documents"].count()
    assert frames["u"].count() <= frames["q"].count()
    ch = frames["c"]
    assert ch.filter(F.col("chunk_tokens") > 32).count() == 0
    assert ch.select("doc_id").distinct().count() == frames["u"].count()


def test_merge_upsert_sets_null_and_rejects_dup_keys(spark):
    from configdrivendatapipeline_spark.enrichment import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, name string, v double"
    )
    updates = spark.createDataFrame(
        [(2, None, 99.0), (3, "c", 30.0)], "k int, name string, v double"
    )
    got = {tuple(r) for r in merge_upsert(target, updates, key=["k"]).collect()}
    # matched row k=2 takes the update's NULL name (MERGE semantics),
    # not the stale 'b' a coalesce() would silently keep.
    assert got == {(1, "a", 10.0), (2, None, 99.0), (3, "c", 30.0)}

    dup = spark.createDataFrame(
        [(2, "x", 1.0), (2, "y", 2.0)], "k int, name string, v double"
    )
    # The uniqueness guard is in-plan (lazy — the updates input runs
    # once, at merge time, not an extra compile-time aggregate), so
    # the error surfaces at the action.
    with pytest.raises(Exception, match="duplicate keys"):
        merge_upsert(target, dup, key=["k"]).collect()
    # ... and guaranteed-unique callers can skip even that
    assert merge_upsert(target, dup.limit(1), key=["k"], validate_unique=False
                        ).count() == 2


def test_cast_strict_raises_without_ansi(spark):
    from configdrivendatapipeline_spark.compiler import OPS

    df = spark.createDataFrame([("12",), ("oops",)], "x string")
    bad = OPS["cast"](spark, [df], {"columns": {"x": "int"}, "mode": "strict"})
    with pytest.raises(Exception, match="invalid int"):
        bad.collect()
    ok = OPS["cast"](spark, [df], {"columns": {"x": "int"}, "mode": "safe"})
    assert [r.x for r in ok.orderBy("x").collect()] == [None, 12]


def test_sampling_and_pair_ops_through_yaml(spark, sf_dir):
    from configdrivendatapipeline_spark.config.loader import load_pipeline_str

    cfg = load_pipeline_str(
        f"""
sources:
  documents: {{format: parquet, path: "{sf_dir}/documents.parquet"}}
  embeddings: {{format: parquet, path: "{sf_dir}/embeddings.parquet"}}
steps:
  - id: split
    input: documents
    op: hash_split
    params: {{train_pct: 80, val_pct: 10}}
  - id: sampled
    input: documents
    op: hash_sample
    params: {{fraction: 0.2}}
  - id: mixed
    input: documents
    op: mixture_sample
    params: {{fractions: {{src0: 0.0, src1: 1.0}}}}
  - id: jac
    input: documents
    op: jaccard_pairs
    params: {{threshold: 0.9}}
  - id: ndp
    input: embeddings
    op: neardup_pairs
    params: {{threshold: 0.3}}
"""
    )
    frames = compile_pipeline(spark, cfg)
    n_docs = frames["documents"].count()
    splits = dict(
        frames["split"].groupBy("split").count().rdd.map(tuple).collect()
    )
    assert set(splits) <= {"train", "val", "test"} and sum(splits.values()) == n_docs
    n_sample = frames["sampled"].count()
    assert 0 < n_sample < n_docs
    mixed = frames["mixed"]
    assert mixed.filter(F.col("source") == "src0").count() == 0
    n_src1 = frames["documents"].filter(F.col("source") == "src1").count()
    assert mixed.filter(F.col("source") == "src1").count() == n_src1
    assert frames["jac"].columns == ["id_a", "id_b", "jaccard"]
    assert frames["ndp"].columns == ["id_a", "id_b", "cos_sim"]
    assert frames["ndp"].count() > 0


def test_curation_ops_through_yaml(spark, sf_dir):
    """decontaminate / cross_dedup / repetition_stats / quantize_int8
    are YAML-reachable and keep their library semantics."""
    from configdrivendatapipeline_spark.config.loader import load_pipeline_str

    cfg = load_pipeline_str(
        f"""
sources:
  documents: {{format: parquet, path: "{sf_dir}/documents.parquet"}}
  embeddings: {{format: parquet, path: "{sf_dir}/embeddings.parquet"}}
steps:
  - id: bench
    input: documents
    op: filter
    params: {{predicate: "doc_id % 20 = 0"}}
  - id: train
    input: documents
    op: filter
    params: {{predicate: "doc_id % 20 <> 0"}}
  - id: contaminated
    inputs: [train, bench]
    op: decontaminate
    params: {{ngram: 8}}
  - id: fresh
    inputs: [train, bench]
    op: cross_dedup
    params: {{}}
  - id: rep
    input: documents
    op: repetition_stats
    params: {{}}
  - id: quant
    input: embeddings
    op: quantize_int8
    params: {{}}
"""
    )
    frames = compile_pipeline(spark, cfg)
    assert frames["contaminated"].columns == ["doc_id", "n_overlap"]
    # train and bench are disjoint splits of one corpus: nothing in
    # train has content identical to bench, so cross_dedup keeps all
    assert frames["fresh"].count() == frames["train"].count()
    assert frames["rep"].columns == [
        "doc_id", "n_tokens", "top_gram_count", "dup_tok_frac", "top_gram_frac"
    ]
    assert frames["quant"].count() == frames["embeddings"].count()


def test_knn_join_through_yaml(spark, sf_dir):
    """knn_join is YAML-reachable: every vector gets ≤ k LSH-candidate
    neighbors, ranked by cosine within its candidate set."""
    from configdrivendatapipeline_spark.config.loader import load_pipeline_str

    cfg = load_pipeline_str(
        f"""
sources:
  embeddings: {{format: parquet, path: "{sf_dir}/embeddings.parquet"}}
steps:
  - id: neighbors
    input: embeddings
    op: knn_join
    params: {{k: 2, n_tables: 6, planes_per_table: 4}}
"""
    )
    frames = compile_pipeline(spark, cfg)
    out = frames["neighbors"]
    assert out.columns == ["left_id", "right_id", "cos_sim", "rank"]
    from pyspark.sql import functions as F

    per_left = out.groupBy("left_id").count()
    assert per_left.filter(F.col("count") > 2).count() == 0
    assert out.filter(F.col("rank") > 2).count() == 0
    assert out.count() > 0


def test_semdedup_and_pack_through_yaml(spark, sf_dir):
    """semdedup and pack are YAML-reachable and agree with their
    library twins."""
    from configdrivendatapipeline_spark.config.loader import load_pipeline_str

    cfg = load_pipeline_str(
        f"""
sources:
  embeddings: {{format: parquet, path: "{sf_dir}/embeddings.parquet"}}
  documents: {{format: parquet, path: "{sf_dir}/documents.parquet"}}
  events: {{format: parquet, path: "{sf_dir}/events.parquet"}}
steps:
  - id: survivors
    input: embeddings
    op: semdedup
    params: {{threshold: 0.3}}
  - id: packed
    input: documents
    op: pack
    params: {{budget: 512, shards: 4}}
  - id: timed
    input: events
    op: event_time
    params: {{column: ts, out: event_ts}}
  - id: shuffled
    input: documents
    op: shuffle
    params: {{shards: 4}}
"""
    )
    frames = compile_pipeline(spark, cfg)
    assert frames["survivors"].columns == ["vec_id", "label", "kept"]
    assert frames["survivors"].count() == frames["embeddings"].count()
    assert dict(frames["timed"].dtypes)["ts"] == "timestamp"
    assert dict(frames["timed"].dtypes)["event_ts"] == "timestamp"
    sh = frames["shuffled"]
    assert sh.columns == ["doc_id", "shard", "pos", "sort_key"]
    # positions are a gapless 1..n per shard
    per_shard = sh.groupBy("shard").agg(
        F.count("*").alias("n"), F.max("pos").alias("mx"), F.min("pos").alias("mn")
    )
    assert per_shard.filter((F.col("mx") != F.col("n")) | (F.col("mn") != 1)).count() == 0
    assert frames["packed"].columns == [
        "doc_id", "shard", "n_tokens", "tok_offset", "pack_first", "pack_last"
    ]
    assert frames["packed"].filter(F.col("pack_first") > F.col("pack_last")).count() == 0


def test_observe_piggybacks_metrics_on_sink_write(spark, sf_dir, tmp_path):
    """observe metrics must be collected during the sink's own action
    (no extra scan) and match the written data; un-acted observations
    report {} instead of blocking."""
    from configdrivendatapipeline_spark.compiler import observed_metrics, run_pipeline
    from configdrivendatapipeline_spark.config.loader import load_pipeline_str

    out = str(tmp_path / "obs_out")
    cfg = load_pipeline_str(
        f"""
sources:
  nation: {{format: parquet, path: "{sf_dir}/nation.parquet"}}
steps:
  - id: watched
    input: nation
    op: observe
    params:
      name: nation_stats
      metrics: {{rows: "count(1)", max_key: "max(n_nationkey)"}}
  - id: unsunk
    input: nation
    op: observe
    params: {{name: never_run}}
sinks:
  - input: watched
    format: parquet
    path: {out}
    mode: overwrite
"""
    )
    run_pipeline(spark, cfg)
    m = observed_metrics()
    assert m["nation_stats"] == {"rows": 25, "max_key": 24}
    assert m["never_run"] == {}


def test_run_pipeline_skips_static_conf_already_set(spark, sf_dir, tmp_path):
    """`cli run` builds the session with the YAML spark_conf, so a
    static key (settable only when the session is built) reaches
    run_pipeline already at its value; re-setting it would raise."""
    from configdrivendatapipeline_spark.compiler import run_pipeline
    from configdrivendatapipeline_spark.config.loader import load_pipeline_str

    key = "spark.sql.codegen.cache.maxEntries"
    value = spark.conf.get(key)
    with pytest.raises(Exception, match="CANNOT_MODIFY_STATIC_CONFIG"):
        spark.conf.set(key, value)
    out = str(tmp_path / "static_conf_out")
    cfg = load_pipeline_str(
        f"""
pipeline:
  name: static_conf
  spark_conf:
    {key}: "{value}"
sources:
  nation: {{format: parquet, path: "{sf_dir}/nation.parquet"}}
steps:
  - {{id: keys, input: nation, op: select, params: {{columns: [n_nationkey]}}}}
sinks:
  - {{input: keys, format: parquet, path: "{out}", mode: overwrite}}
"""
    )
    run_pipeline(spark, cfg)
    assert spark.read.parquet(out).count() == 25


def test_kmeans_through_yaml(spark, sf_dir):
    """kmeans from YAML equals the library function; every vector is
    assigned and seeds keep their own cluster (cos_sim 1.0 with
    themselves beats any other centroid or ties to themselves)."""
    from configdrivendatapipeline_spark.llm.similarity import kmeans_assign

    frames = run_step(
        spark,
        sf_dir,
        "embeddings",
        """
  - {id: km, input: embeddings, op: kmeans, params: {n_clusters: 4, refine_iters: 1}}
""",
    )
    got = rows(frames["km"])
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    want = rows(kmeans_assign(emb, n_clusters=4, refine_iters=1))
    assert got == want
    assert len(got) == emb.count()
    assert len({r[1] for r in got}) <= 4


def test_watermark_rejects_batch_frames(spark, sf_dir):
    """watermark on a batch source is a config mistake — a silent
    no-op would hide unbounded state in the eventual streaming run."""
    with pytest.raises(ValueError, match="not streaming"):
        run_step(
            spark,
            sf_dir,
            "events",
            """
  - {id: wm, input: events, op: watermark, params: {column: ts, delay: "1 hour"}}
""",
        )


def test_watermark_attaches_on_streaming_frames(spark, sf_dir):
    """watermark from YAML survives compilation on a streaming source
    (the eventTime column shows in the analyzed plan)."""
    from configdrivendatapipeline_spark.config import load_pipeline_str
    from configdrivendatapipeline_spark.queries import ts_normalize_expr

    raw_t = dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes).get("ts")
    cfg = load_pipeline_str(
        f"""
sources:
  events: {{format: parquet, path: "{sf_dir}/events.parquet", streaming: true}}
steps:
  - id: typed
    input: events
    op: derive
    params:
      columns: {{ts: "{ts_normalize_expr(raw_t)}"}}
  - id: wm
    input: typed
    op: watermark
    params: {{column: ts, delay: "10 minutes"}}
"""
    )
    frames = compile_pipeline(spark, cfg)
    assert frames["wm"].isStreaming
    assert "watermark" in frames["wm"]._jdf.queryExecution().analyzed().toString().lower()


def test_duplicate_observe_name_rejected(spark, sf_dir):
    """Two observe steps sharing a name (easy with the default) would
    silently overwrite each other's Observation — compile must fail."""
    with pytest.raises(ValueError, match="duplicate observation name"):
        run_step(
            spark,
            sf_dir,
            "nation",
            """
  - {id: a, input: nation, op: observe, params: {name: metrics}}
  - {id: b, input: a, op: observe, params: {name: metrics}}
""",
        )


def test_source_weights_through_yaml(spark, sf_dir):
    """source_weights from YAML equals the library function and the
    largest stratum gets exactly weight 1.0 (1_000_000 micro)."""
    from configdrivendatapipeline_spark.llm.sampling import source_weights

    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: w, input: documents, op: source_weights, params: {group_by: [source, lang]}}
""",
    )
    got = rows(frames["w"])
    want = rows(source_weights(spark.read.parquet(f"{sf_dir}/documents.parquet")))
    assert got == want
    assert min(r[3] for r in got) == 1_000_000  # largest stratum → 1.0x
    assert all(r[3] >= 1_000_000 for r in got)


def test_sink_cluster_and_sort_layout(spark, sf_dir, tmp_path):
    """cluster_by + sort_by must produce files whose per-file key
    ranges are disjoint-ish (each key in one file) and rows sorted
    within files — the layout parquet min/max pruning needs."""
    from configdrivendatapipeline_spark.io import write_sink

    out = str(tmp_path / "clustered")
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_sink(
        df,
        {
            "format": "parquet",
            "path": out,
            "mode": "overwrite",
            "cluster_by": ["o_orderstatus"],
            "sort_by": ["o_orderdate"],
        },
    )
    import glob as g

    files = g.glob(out + "/part-*.parquet")
    assert files
    import pyarrow.parquet as pq

    for f in files:
        t = pq.read_table(f, columns=["o_orderstatus", "o_orderdate"])
        dates = t.column("o_orderdate").to_pylist()
        assert dates == sorted(dates), "not sorted within file"
    # every status lands in exactly one file
    seen: dict[str, set] = {}
    for f in files:
        for s in set(
            pq.read_table(f, columns=["o_orderstatus"]).column(0).to_pylist()
        ):
            seen.setdefault(s, set()).add(f)
    assert all(len(fs) == 1 for fs in seen.values()), seen
    # scalar layout params are a shape error, not a char-iterable
    # (round-12: same check the materialize op applies)
    import pytest

    with pytest.raises(ValueError, match="cluster_by must be a list"):
        write_sink(df, {"format": "parquet", "path": out,
                        "mode": "overwrite", "cluster_by": "o_orderstatus"})
    with pytest.raises(ValueError, match="sort_by must be a list"):
        write_sink(df, {"format": "parquet", "path": out,
                        "mode": "overwrite", "sort_by": "o_orderdate"})


def test_bloom_prefilter_through_yaml(spark, sf_dir):
    """Config-declared bloom pre-filter: keeps every true match (no
    false negatives) and in keep_flag mode exposes the audit column."""
    frames = run_step(
        spark,
        sf_dir,
        "orders",
        """
  - {id: seg, input: customer, op: filter, params: {predicate: "c_mktsegment = 'BUILDING'"}}
  - {id: keys, input: seg, op: select, params: {columns: [c_custkey]}}
  - {id: pre, inputs: [orders, keys], op: bloom_prefilter,
     params: {key: c_custkey, fact_key: o_custkey}}
  - {id: audit, inputs: [orders, keys], op: bloom_prefilter,
     params: {key: c_custkey, fact_key: o_custkey, keep_flag: true}}
""",
        extra_sources=f'  customer: {{format: parquet, path: "{sf_dir}/customer.parquet"}}\n',
    )
    from pyspark.sql import functions as F

    keys = {r[0] for r in frames["keys"].collect()}
    kept = frames["pre"]
    true_matches = frames["orders"].filter(F.col("o_custkey").isin(keys))
    # no false negatives: every truly-matching order survives
    assert kept.count() >= true_matches.count()
    assert (
        true_matches.join(kept, "o_orderkey", "left_anti").count() == 0
    )
    assert "bloom_pass" in frames["audit"].columns
    assert "bloom" not in frames["audit"].columns


def test_zorder_through_yaml(spark, sf_dir):
    frames = run_step(
        spark,
        sf_dir,
        "orders",
        """
  - {id: keyed, input: orders, op: derive,
     params: {columns: {ck: "CAST(o_custkey AS BIGINT)", ok: "CAST(o_orderkey AS BIGINT)"}}}
  - {id: laid, input: keyed, op: zorder, params: {columns: [ck, ok], bits: 4}}
""",
    )
    out = frames["laid"]
    assert "zval" in out.columns
    assert out.count() == frames["orders"].count()


def test_compact_through_yaml(spark, sf_dir):
    frames = run_step(
        spark,
        sf_dir,
        "orders",
        """
  - {id: plan, input: orders, op: compact,
     params: {partition_by: [o_orderpriority], target_rows: 300, plan: true}}
  - {id: rewritten, input: orders, op: compact,
     params: {partition_by: [o_orderpriority], target_rows: 300, key: o_orderkey}}
""",
    )
    plan = {r[0]: (r[1], r[2]) for r in frames["plan"].collect()}
    total = frames["orders"].count()
    assert sum(n for n, _ in plan.values()) == total
    for n, files in plan.values():
        assert files == -(-n // 300)  # ceil
    assert frames["rewritten"].count() == total
    assert "file_bucket" in frames["rewritten"].columns


def test_drop_rejects_a_scalar_column(spark, sf_dir):
    """``drop: {columns: ssn}`` used to spread into one-letter names
    and silently keep ``ssn``; a bare string is now a config error."""
    with pytest.raises(ConfigError, match="drop columns must be a list of columns"):
        run_step(
            spark,
            sf_dir,
            "nation",
            "  - {id: dr, input: nation, op: drop, params: {columns: n_regionkey}}\n",
        )


def test_compact_rejects_a_scalar_partition_by(spark, sf_dir):
    """compact's ``partition_by`` goes through the same column-list
    check as the sink layout keys: a bare string is an error."""
    for plan in ("true", "false"):
        with pytest.raises(ConfigError, match="compact partition_by must be a list"):
            run_step(
                spark,
                sf_dir,
                "orders",
                f"""
  - {{id: c, input: orders, op: compact,
     params: {{partition_by: o_orderpriority, plan: {plan}, key: o_orderkey}}}}
""",
            )


def test_cdc_apply_through_yaml(spark, sf_dir):
    """Config-declared CDC replay equals the library function and
    drops tombstoned keys."""
    from configdrivendatapipeline_spark.enrichment import cdc_apply

    frames = run_step(
        spark,
        sf_dir,
        "events",
        """
  - {id: applied, input: events, op: cdc_apply,
     params: {keys: [user_id], ts: ts, op_column: event_type,
              delete_op: error, tiebreak: [event_id]}}
""",
    )
    got = rows(frames["applied"].select("user_id", "event_id"))
    want = rows(
        cdc_apply(
            frames["events"],
            key_cols=["user_id"],
            ts_col="ts",
            op_col="event_type",
            delete_op="error",
            tiebreak_cols=["event_id"],
        ).select("user_id", "event_id")
    )
    assert got == want
    # every surviving user's newest event is not a tombstone
    from pyspark.sql import functions as F

    assert frames["applied"].filter(F.col("event_type") == "error").count() == 0


def test_lm_score_through_yaml(spark, sf_dir):
    from configdrivendatapipeline_spark.llm.textstats import unigram_lm_score

    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: scored, input: documents, op: lm_score, params: {}}
  - {id: gated, input: scored, op: filter, params: {predicate: "lm_micro >= 33100 AND n_tokens >= 20"}}
""",
    )
    got = rows(frames["scored"].select("doc_id", "lm_micro"))
    want = rows(
        unigram_lm_score(frames["documents"]).select("doc_id", "lm_micro")
    )
    assert got == want
    assert 0 < frames["gated"].count() < frames["scored"].count()


def test_training_layout_ops(spark, sf_dir):
    """temperature_sample / length_buckets / pack_manifest /
    snapshot_diff / graph_rank reachable from YAML, equal to the
    direct library calls."""
    from configdrivendatapipeline_spark.llm import dedup, sampling

    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: tsamp, input: documents, op: temperature_sample, params: {group_by: lang}}
  - {id: lbuck, input: documents, op: length_buckets, params: {text_column: text}}
  - {id: manif, input: documents, op: pack_manifest, params: {budget: 256}}
  - {id: prev, input: documents, op: filter, params: {predicate: "doc_id % 2 = 0"}}
  - {id: sdiff, inputs: [documents, prev], op: snapshot_diff, params: {}}
""",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert rows(frames["tsamp"]) == rows(sampling.temperature_sample(docs))
    assert rows(frames["lbuck"]) == rows(sampling.length_buckets(docs))
    assert rows(frames["manif"]) == rows(sampling.pack_manifest(docs, budget=256))
    prev = docs.filter(F.col("doc_id") % 2 == 0)
    assert rows(frames["sdiff"]) == rows(dedup.snapshot_diff(docs, prev))


def test_graph_rank_op(spark, sf_dir, tmp_path):
    from configdrivendatapipeline_spark.llm import dedup

    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(1,), (2,), (3,)], ["vec_id"])
    pairs_path = str(tmp_path / "pairs.parquet")
    nodes_path = str(tmp_path / "nodes.parquet")
    pairs.write.parquet(pairs_path)
    nodes.write.parquet(nodes_path)
    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: ranked, inputs: [pairs, nodes], op: graph_rank, params: {iters: 2}}
""",
        extra_sources=(
            f'  pairs: {{format: parquet, path: "{pairs_path}"}}\n'
            f'  nodes: {{format: parquet, path: "{nodes_path}"}}\n'
        ),
    )
    assert rows(frames["ranked"]) == rows(
        dedup.graph_rank(pairs, nodes, iters=2)
    )


def test_materialize_and_components_ops(spark, sf_dir, tmp_path):
    """materialize writes the step's frame once and downstream steps
    read the PARQUET intermediate (fresh scan, not the original
    lineage); components exposes connected components to YAML. The
    mode: local bpe_train emits the same merge table as default."""
    import pytest

    from configdrivendatapipeline_spark.compiler import OPS
    from configdrivendatapipeline_spark.llm.dedup import duplicate_clusters

    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: pairs_raw, input: documents, op: jaccard_pairs, params: {threshold: 0.95}}
  - {id: slim, input: pairs_raw, op: select, params: {columns: [id_a, id_b]}}
  - {id: pairs, input: slim, op: materialize, params: {path: TMP/cddp_test_mat_pairs}}
  - {id: nodes, input: documents, op: select, params: {columns: [doc_id]}}
  - {id: comp, inputs: [pairs, nodes], op: components, params: {id_column: doc_id}}
  - {id: tok_dist, input: documents, op: bpe_train, params: {n_merges: 8}}
  - {id: tok_local, input: documents, op: bpe_train, params: {n_merges: 8, mode: local}}
""".replace("TMP", str(tmp_path)),
    )
    # the materialized frame scans the written intermediate
    assert any(
        "cddp_test_mat_pairs" in f for f in frames["pairs"].inputFiles()
    )
    assert rows(frames["pairs"]) == rows(frames["slim"])
    expect = duplicate_clusters(
        frames["slim"], frames["nodes"], id_col="doc_id"
    )
    assert rows(frames["comp"]) == rows(expect)
    assert rows(frames["tok_local"]) == rows(frames["tok_dist"])
    # layout controls reach the intermediate: clustered-by-key rows
    # land in key-pure files, so consumer scans can prune on id_a
    frames2 = run_step(
        spark,
        sf_dir,
        "nation",
        """
  - {id: keyed, input: nation, op: select, params: {columns: [n_regionkey, n_name]}}
  - {id: laid, input: keyed, op: materialize,
     params: {path: TMP/cddp_test_mat_layout, cluster_by: [n_regionkey],
              sort_by: [n_name]}}
""".replace("TMP", str(tmp_path)),
    )
    laid = frames2["laid"]
    assert rows(laid) == rows(frames2["keyed"])
    import pyspark.sql.functions as SF

    tagged = laid.select(
        "n_regionkey", SF.input_file_name().alias("f")
    ).collect()
    by_key: dict = {}
    for r in tagged:
        by_key.setdefault(r["n_regionkey"], set()).add(r["f"])
    # cluster_by contract: each key's rows land in ONE file set
    assert all(len(fs) == 1 for fs in by_key.values())
    # a streaming frame cannot be a batch cut point
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with pytest.raises(ValueError, match="batch cut point"):
        OPS["materialize"](spark, [stream], {"path": str(tmp_path / "never")})
    with pytest.raises(ValueError, match="2 inputs"):
        OPS["components"](spark, [frames["slim"]], {})


def test_audit_ops(spark, sf_dir):
    """minhash_calibration / lsh_recall / centroid_drift / benford /
    bpe_fertility reachable from YAML, equal to direct library calls."""
    from configdrivendatapipeline_spark.llm.bpe import bpe_fertility, bpe_train
    from configdrivendatapipeline_spark.llm.dedup import (
        lsh_recall,
        minhash_calibration,
    )
    from configdrivendatapipeline_spark.llm.similarity import centroid_drift
    from configdrivendatapipeline_spark.validation import benford_profile

    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: cal, input: documents, op: minhash_calibration, params: {token_hash: md5_32}}
  - {id: rec, input: documents, op: lsh_recall, params: {token_hash: md5_32}}
  - {id: fert, input: documents, op: bpe_fertility, params: {n_merges: 5}}
  - {id: ben, input: orders, op: benford, params: {column: o_totalprice}}
  - {id: drift, input: embeddings, op: centroid_drift, params: {}}
""",
        extra_sources=(
            f'  orders: {{format: parquet, path: "{sf_dir}/orders.parquet"}}\n'
            f'  embeddings: {{format: parquet, path: "{sf_dir}/embeddings.parquet"}}\n'
        ),
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert rows(frames["cal"]) == rows(minhash_calibration(docs, token_hash="md5_32"))
    assert rows(frames["rec"]) == rows(lsh_recall(docs, token_hash="md5_32"))
    assert rows(frames["ben"]) == rows(benford_profile(orders, "o_totalprice"))
    assert rows(frames["drift"]) == rows(centroid_drift(emb))
    merges = [pr for _, pr, _ in bpe_train(docs, n_merges=5)]
    assert rows(frames["fert"]) == rows(bpe_fertility(docs, merges))



def test_bpe_fertility_op_trains_on_text_column(spark, sf_dir):
    """bpe_fertility's text_column reaches the merge trainer, not
    only the rollup: a corpus whose text lives in ``body`` (no
    ``text`` column) trains and scores on that column, equal to the
    direct library calls and to the same corpus under ``text``."""
    from configdrivendatapipeline_spark.llm.bpe import bpe_fertility, bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    body = docs.select("doc_id", "lang", F.col("text").alias("body"))
    got = OPS["bpe_fertility"](
        spark, [body], {"text_column": "body", "group_by": "lang", "n_merges": 2}
    )
    merges = [pr for _, pr, _ in bpe_train(body, "body", n_merges=2)]
    assert rows(got) == rows(
        bpe_fertility(body, merges, group_col="lang", text_col="body")
    )
    same = OPS["bpe_fertility"](spark, [docs], {"group_by": "lang", "n_merges": 2})
    assert rows(got) == rows(same)

def test_asof_join_op_directions(spark, sf_dir):
    """asof_join from YAML matches the library call for all three
    directions, agrees with the declared backward query, and honors
    tolerance."""
    from pyspark.sql import functions as F

    from configdrivendatapipeline_spark import joins
    from configdrivendatapipeline_spark.queries import load
    from configdrivendatapipeline_spark.queries.relational import join_asof

    ev = load(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "signup").select("user_id", "ts")
    for direction in ("backward", "forward", "nearest"):
        lib = joins.asof_join(
            left,
            right,
            by=["user_id"],
            left_key="event_id",
            direction=direction,
            take={"sign_ts": "ts"},
        )
        assert lib.count() == left.count()
    back = joins.asof_join(
        left, right, by=["user_id"], left_key="event_id",
        take={"sign_ts": "ts"},
    ).select("event_id", "user_id", "sign_ts")
    assert rows(back) == rows(join_asof(spark, sf_dir))
    # tolerance: 0 seconds keeps only exact-timestamp matches
    tight = joins.asof_join(
        left, right, by=["user_id"], left_key="event_id",
        tolerance_s=0, take={"sign_ts": "ts"},
    )
    assert tight.filter(F.col("sign_ts").isNotNull()).count() <= back.filter(
        F.col("sign_ts").isNotNull()
    ).count()
    # and the YAML surface produces the same frame as the library call
    frames = run_step(
        spark,
        sf_dir,
        "events",
        """
  - {id: l, input: events, op: filter, params: {predicate: "event_type = 'purchase'"}}
  - {id: ls, input: l, op: select, params: {columns: [event_id, user_id, ts]}}
  - {id: r, input: events, op: filter, params: {predicate: "event_type = 'signup'"}}
  - {id: rs, input: r, op: select, params: {columns: [user_id, ts]}}
  - id: aj
    inputs: [ls, rs]
    op: asof_join
    params: {by: [user_id], left_key: event_id, take: {sign_ts: ts}}
  - id: ajv
    inputs: [ls, rs]
    op: asof_join
    params: {by: [user_id], left_key: event_id, take: {sign_ts: ts},
             validate_unique: true}
""",
    )
    assert rows(frames["aj"].select("event_id", "user_id", "sign_ts")) == rows(back)
    # validate_unique on a genuinely-unique key is a pass-through...
    assert rows(frames["ajv"].select("event_id", "user_id", "sign_ts")) == rows(back)
    # ...and on a DUPLICATE left key it raises in-plan instead of
    # silently dropping all but one left row (round-12 self-review)
    import pytest

    dup_left = left.unionByName(left.limit(1))
    with pytest.raises(Exception, match="duplicate left_key"):
        joins.asof_join(
            dup_left, right, by=["user_id"], left_key="event_id",
            take={"sign_ts": "ts"}, validate_unique=True,
        ).count()


def test_route_modality_op(spark, sf_dir, tmp_path):
    from configdrivendatapipeline_spark.llm import multimodal as mm

    ids = spark.createDataFrame([(i,) for i in range(30)], ["doc_id"])
    payloads = mm.attach_mixed_payload(ids)
    payloads_path = str(tmp_path / "payloads.parquet")
    payloads.write.parquet(payloads_path)
    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: routed, input: media, op: route_modality, params: {}}
""",
        extra_sources=(
            f'  media: {{format: parquet, path: "{payloads_path}"}}\n'
        ),
    )
    direct = mm.route_modality(spark.read.parquet(payloads_path))
    assert rows(frames["routed"]) == rows(direct)


def test_sql_op_binds_args_server_side(spark, sf_dir):
    frames = run_step(
        spark,
        sf_dir,
        "customer",
        """
  - id: q
    input: customer
    op: sql
    params:
      views: [cust]
      query: "SELECT COUNT(*) AS n FROM cust WHERE c_acctbal >= :min_bal"
      args: {min_bal: 5000.0}
""",
    )
    direct = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_acctbal") >= 5000.0)
        .count()
    )
    assert frames["q"].collect()[0]["n"] == direct


def test_budget_select_op(spark, sf_dir):
    from configdrivendatapipeline_spark.llm.sampling import budget_select

    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: sel, input: documents, op: budget_select, params: {}}
""",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert rows(frames["sel"]) == rows(budget_select(docs))


def test_bpe_train_and_encode_ops(spark, sf_dir):
    """bpe_train emits the merge artifact; bpe_encode consumes it as
    a SECOND input (train-once production shape) and must agree with
    the single-input self-training form and the library call."""
    from configdrivendatapipeline_spark.llm.bpe import (
        bpe_encode_counts,
        bpe_train,
    )

    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: merges, input: documents, op: bpe_train, params: {n_merges: 5}}
  - {id: enc2, inputs: [documents, merges], op: bpe_encode, params: {}}
  - {id: enc1, input: documents, op: bpe_encode, params: {n_merges: 5}}
""",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = [pr for _, pr, _ in bpe_train(docs, n_merges=5)]
    assert [r["pair"] for r in frames["merges"].orderBy("step").collect()] == pairs
    expect = rows(bpe_encode_counts(docs, pairs))
    assert rows(frames["enc2"]) == expect
    assert rows(frames["enc1"]) == expect


def test_winnow_ops(spark, sf_dir):
    from configdrivendatapipeline_spark.llm.dedup import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: fps, input: documents, op: winnow_fingerprints, params: {k: 4, w: 5}}
  - {id: pairs, input: documents, op: winnow_pairs, params: {min_shared: 2}}
""",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert rows(frames["fps"]) == rows(winnow_fingerprints(docs, k=4, w=5))
    assert rows(frames["pairs"]) == rows(
        winnow_candidate_pairs(docs, min_shared=2)
    )


def test_mixture_plan_op(spark, sf_dir):
    """total_max is pinned by the binding source: every planned
    allocation fits its availability, and at least one source is
    (near-)fully utilized up to integer flooring."""
    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - id: avail
    input: documents
    op: aggregate
    params:
      group_by: [source]
      aggs:
        tokens_avail: "CAST(SUM(size(split(text, ' '))) AS BIGINT)"
  - id: plan
    input: avail
    op: mixture_plan
    params:
      weights: {src0: 3, src1: 1, src2: 1}
""",
    )
    rows_ = frames["plan"].collect()
    assert {r["source"] for r in rows_} == {"src0", "src1", "src2"}
    for r in rows_:
        assert 0 <= r["planned_tokens"] <= r["tokens_avail"]
    assert max(r["utilization_micro"] for r in rows_) >= 999_000


def test_retrieval_ops(spark, sf_dir):
    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: idx, input: documents, op: inverted_index, params: {min_df: 5}}
  - id: hits
    input: documents
    op: keyword_search
    params:
      k: 5
      queries:
        0: [the, data]
        1: [quality]
""",
    )
    idx = {r["token"]: r for r in frames["idx"].collect()}
    assert idx and all(r["df"] >= 5 for r in idx.values())
    for r in idx.values():
        ids = [int(x) for x in r["first_postings"].split(",")]
        assert ids == sorted(ids) and len(ids) <= 10
    hits = frames["hits"].collect()
    assert hits and all(r["rank"] <= 5 for r in hits)
    assert {r["qid"] for r in hits} <= {0, 1}


def test_survivorship_op(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from configdrivendatapipeline_spark.enrichment import survivorship

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    variants = nat.select(
        "n_nationkey", F.lit(1).alias("prio"),
        F.when(F.col("n_nationkey") % 3 == 0, None)
        .otherwise(F.col("n_name")).alias("nm"),
        F.col("n_regionkey").alias("rk"),
    ).unionByName(
        nat.select(
            "n_nationkey", F.lit(2).alias("prio"),
            F.lower("n_name").alias("nm"),
            (F.col("n_regionkey") + 10).alias("rk"),
        )
    )
    variants_path = str(tmp_path / "variants.parquet")
    variants.write.parquet(variants_path)
    frames = run_step(
        spark,
        sf_dir,
        "nation",
        """
  - id: golden
    input: v
    op: survivorship
    params:
      keys: [n_nationkey]
      priority: prio
      rules: {nm: [first_non_null, nm], rk_max: [max, rk]}
""",
        extra_sources=(
            f'  v: {{format: parquet, path: "{variants_path}"}}\n'
        ),
    )
    direct = survivorship(
        spark.read.parquet(variants_path),
        key_cols=["n_nationkey"], priority_col="prio",
        rules={"nm": ("first_non_null", "nm"), "rk_max": ("max", "rk")},
    )
    assert rows(frames["golden"]) == rows(direct)
    got = {r["n_nationkey"]: r["nm"] for r in direct.collect()}
    for r in nat.collect():
        want = r["n_name"].lower() if r["n_nationkey"] % 3 == 0 else r["n_name"]
        assert got[r["n_nationkey"]] == want


def test_every_op_is_documented():
    """CONFIG.md's op table must cover every registered compiler op —
    an undocumented op is an unusable product surface."""
    import pathlib
    import re

    doc = (
        pathlib.Path(__file__).parent.parent / "docs" / "CONFIG.md"
    ).read_text()
    documented = set(re.findall(r"^\| `([a-z0-9_]+)`", doc, re.M))
    missing = set(OPS) - documented
    assert not missing, f"ops missing from docs/CONFIG.md: {sorted(missing)}"


def test_privacy_gate_ops(spark, sf_dir):
    from configdrivendatapipeline_spark.validation import (
        kanonymity_metrics,
        ldiversity_metrics,
    )

    frames = run_step(
        spark,
        sf_dir,
        "customer",
        """
  - id: kanon
    input: customer
    op: kanonymity
    params: {quasi_identifiers: [c_nationkey, c_mktsegment], k: 5}
  - id: ldiv
    input: customer
    op: ldiversity
    params: {quasi_identifiers: [c_nationkey], sensitive: c_mktsegment, l: 3}
  - id: gate
    inputs: [kanon, ldiv]
    op: union
    params: {}
""",
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    assert rows(frames["kanon"]) == rows(
        kanonymity_metrics(c, ["c_nationkey", "c_mktsegment"], k=5)
    )
    assert rows(frames["ldiv"]) == rows(
        ldiversity_metrics(c, ["c_nationkey"], sensitive="c_mktsegment", l=3)
    )
    gate = frames["gate"].collect()
    assert {r["rule_name"] for r in gate} == {"k_anonymity_5", "l_diversity_3"}


def test_new_ops_fail_fast_on_bad_params(spark, sf_dir):
    """Plan-time ValueErrors for invalid knobs — misconfiguration must
    fail loudly at compile, never produce silently-wrong output."""
    import pytest as _pytest

    from configdrivendatapipeline_spark.enrichment import survivorship
    from configdrivendatapipeline_spark.joins import asof_join
    from configdrivendatapipeline_spark.llm.sampling import (
        length_buckets,
        pack_offsets,
    )

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    with _pytest.raises(ValueError, match="first_non_null"):
        survivorship(
            nat, key_cols=["n_nationkey"], priority_col="n_regionkey",
            rules={"x": ("mode", "n_name")},
        )
    with _pytest.raises(ValueError, match="backward"):
        asof_join(nat, nat, by=["n_regionkey"], left_key="n_nationkey",
                  left_ts="n_name", right_ts="n_name", direction="sideways")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with _pytest.raises(ValueError):
        length_buckets(docs, caps=(0, 32))
    with _pytest.raises(ValueError):
        pack_offsets(docs, budget=0)


def test_hard_negatives_op(spark, sf_dir):
    from configdrivendatapipeline_spark.llm.similarity import hard_negatives

    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: neg, input: embeddings, op: hard_negatives, params: {}}
""",
        extra_sources=(
            f'  embeddings: {{format: parquet, path: "{sf_dir}/embeddings.parquet"}}\n'
        ),
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert rows(frames["neg"]) == rows(hard_negatives(emb))


def test_oversample_op_hits_expected_counts(spark, sf_dir):
    from pyspark.sql import functions as F

    frames = run_step(
        spark,
        sf_dir,
        "documents",
        """
  - {id: up, input: documents, op: oversample, params: {}}
""",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    up = frames["up"]
    # every original doc appears at least floor(weight) >= 1 times and
    # the largest stratum stays ~unchanged (weight == 1.0 exactly)
    n_orig = docs.count()
    assert up.select("doc_id").distinct().count() == n_orig
    biggest = (
        docs.groupBy("source", "lang").count().orderBy(F.desc("count")).first()
    )
    got_big = up.filter(
        (F.col("source") == biggest["source"]) & (F.col("lang") == biggest["lang"])
    ).count()
    assert got_big == biggest["count"]


_PORTED_OPS = [
    (
        "llm_oversample",
        "documents",
        """
  - id: up
    input: documents
    op: oversample
    params: {group_by: [source, lang], id_column: doc_id, salt: "oversample:v1"}
  - {id: out, input: up, op: select, params: {columns: [doc_id, source, lang, copy_no]}}
""",
    ),
    (
        "llm_mixture_plan",
        "documents",
        """
  - id: avail
    input: documents
    op: aggregate
    params:
      group_by: [source]
      aggs:
        tokens_avail: "CAST(SUM(size(split(text, ' '))) AS BIGINT)"
  - id: out
    input: avail
    op: mixture_plan
    params: {weights: WEIGHTS, source_column: source, available_column: tokens_avail}
""",
    ),
    (
        "llm_keyword_search",
        "documents",
        """
  - id: out
    input: documents
    op: keyword_search
    params:
      k: 10
      id_column: doc_id
      text_column: text
      queries: {0: [the, data, query], 1: [stream, window], 2: [the, of, and]}
""",
    ),
    (
        "val_kanonymity",
        "customer",
        """
  - id: kanon
    input: customer
    op: kanonymity
    params: {quasi_identifiers: [c_nationkey, c_mktsegment], k: 5}
  - {id: out, input: kanon, op: rename, params: {mapping: {worst: min_group_size}}}
""",
    ),
    (
        "val_ldiversity",
        "customer",
        """
  - id: banded
    input: customer
    op: derive
    params:
      columns:
        band: "CASE WHEN c_acctbal < 0 THEN 'debt' WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END"
  - id: ldiv
    input: banded
    op: ldiversity
    params: {quasi_identifiers: [c_nationkey, band], sensitive: c_mktsegment, l: 3}
  - {id: out, input: ldiv, op: rename, params: {mapping: {worst: min_diversity}}}
""",
    ),
]


@pytest.mark.parametrize(
    "query_id, table, steps", _PORTED_OPS, ids=[c[0] for c in _PORTED_OPS]
)
def test_ported_op_matches_declared_query(spark, sf_dir, query_id, table, steps):
    """Each op whose body is the library function its declared query
    calls, run from YAML with that query's parameters, returns the
    query's (oracle-checked) rows — so the op's own parameter handling
    is pinned too. mixture_plan's weights are the query's in-plan
    ``CAST(SUBSTR(source, 4) AS BIGINT) % 5 + 1``, spelled out per
    source of the fixture."""
    from configdrivendatapipeline_spark.queries import registry

    if "WEIGHTS" in steps:
        sources = [
            r["source"]
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("source").distinct().collect()
        ]
        weights = ", ".join(f"{s}: {int(s[3:]) % 5 + 1}" for s in sources)
        steps = steps.replace("WEIGHTS", "{" + weights + "}")
    got = run_step(spark, sf_dir, table, steps)["out"]
    want = registry()[query_id].build(spark, sf_dir)
    assert got.dtypes == want.dtypes
    assert rows(got) == rows(want)


def test_mixture_plan_rejects_zero_availability(spark, sf_dir):
    """A weighted source with tokens_avail <= 0 must fail loudly (it
    would otherwise NULL its utilization and silently collapse
    total_max to 0 for the whole plan). The guard lives IN the plan
    (raise_error at run time, not an eager compile-time collect), so
    compile stays lazy and the availability job runs exactly once."""
    import pytest

    with pytest.raises(Exception, match="tokens_avail <= 0 or NULL"):
        run_step(
            spark,
            sf_dir,
            "documents",
            """
  - id: avail
    input: documents
    op: aggregate
    params:
      group_by: [source]
      aggs:
        tokens_avail: "CAST(SUM(size(split(text, ' '))) * (CASE WHEN source = 'src1' THEN 0 ELSE 1 END) AS BIGINT)"
  - id: plan
    input: avail
    op: mixture_plan
    params:
      weights: {src0: 3, src1: 1, src2: 1}
""",
        )["plan"].collect()


def test_mixture_plan_rejects_null_availability(spark, sf_dir):
    """NULL availability (e.g. a failed cast) must hit the same
    guard as <= 0 — `NULL <= 0` alone would pass a plain filter and
    reproduce exactly the silent NULL-utilization failure."""
    import pytest

    with pytest.raises(Exception, match="tokens_avail <= 0 or NULL"):
        run_step(
            spark,
            sf_dir,
            "documents",
            """
  - id: avail
    input: documents
    op: aggregate
    params:
      group_by: [source]
      aggs:
        tokens_avail: "CAST(CASE WHEN source = 'src1' THEN NULL ELSE SUM(size(split(text, ' '))) END AS BIGINT)"
  - id: plan
    input: avail
    op: mixture_plan
    params:
      weights: {src0: 3, src1: 1, src2: 1}
""",
        )["plan"].collect()


def test_spatial_grid_op_and_guards(spark, sf_dir):
    """Pairs respect the radius; cell narrower than the radius is
    rejected (the 3x3 neighborhood would miss true pairs)."""
    import pytest
    from configdrivendatapipeline_spark.analytics import spatial_grid_pairs

    pts = spark.createDataFrame(
        [(1, 0, 0), (2, 3, 4), (3, 300, 0), (4, 0, 6)],
        "id INT, lat_u LONG, lon_u LONG",
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist_sq_u"]
        for r in spatial_grid_pairs(pts, radius_u=5).collect()
    }
    # (1,2): 9+16=25 <= 25 in; (2,4): 9+4=13 in; (1,4): 36 out; 3 far
    assert got == {(1, 2): 25, (2, 4): 13}
    with pytest.raises(ValueError, match="cell_u"):
        spatial_grid_pairs(pts, radius_u=10, cell_u=5)
    with pytest.raises(ValueError, match="radius_u"):
        spatial_grid_pairs(pts, radius_u=0)


def test_skyline_op_matches_naive(spark):
    """Bucket-pruned skyline == naive dominance filter on a frame
    with dominated points, ties, and duplicates of frontier corners."""
    from configdrivendatapipeline_spark.analytics import skyline_2d

    rows = [("a", 10, 1), ("b", 5, 5), ("c", 1, 10), ("d", 5, 4),
            ("e", 10, 1), ("f", 2, 2), ("g", 10, 0)]
    df = spark.createDataFrame(rows, "k STRING, x LONG, y LONG")
    got = {r["k"] for r in skyline_2d(df, "x", "y", keep_cols=["k"]).collect()}
    pts = {k: (x, y) for k, x, y in rows}
    naive = {
        k for k, (x, y) in pts.items()
        if not any(
            (qx >= x and qy >= y and (qx > x or qy > y))
            for qk, (qx, qy) in pts.items() if qk != k
        )
    }
    assert got == naive == {"a", "b", "c", "e"}


def test_skyline_keep_cols_carry_no_uniqueness_contract(spark):
    """Non-unique keep columns: a frontier row must survive even when
    a DOMINATED row shares its keep value (the anti-join keys on the
    point, never on keep columns alone)."""
    from configdrivendatapipeline_spark.analytics import skyline_2d

    rows = [("a", 10, 5), ("a", 10, 10), ("b", 1, 20), ("b", 1, 1)]
    df = spark.createDataFrame(rows, "cat STRING, x LONG, y LONG")
    got = {
        (r["cat"], r["x"], r["y"])
        for r in skyline_2d(df, "x", "y", keep_cols=["cat"]).collect()
    }
    assert got == {("a", 10, 10), ("b", 1, 20)}


def test_date_dim_op_calendar_invariants(spark, sf_dir):
    """One row per day of the span; ISO weekday cycles 1..7 with
    Monday=1; month_end flags exactly the last day of each month."""
    import datetime as dt
    from configdrivendatapipeline_spark.analytics import date_dim

    df = spark.createDataFrame(
        [(dt.date(2024, 2, 25),), (dt.date(2024, 3, 3),)], "d DATE"
    )
    rows = {r["date_key"]: r for r in date_dim(df, "d").collect()}
    assert len(rows) == 8
    # 2024-02-26 is a Monday
    assert rows[dt.date(2024, 2, 26)]["iso_dow"] == 1
    assert rows[dt.date(2024, 2, 25)]["is_weekend"]  # Sunday
    assert rows[dt.date(2024, 2, 29)]["is_month_end"]  # leap February
    assert not rows[dt.date(2024, 2, 28)]["is_month_end"]


def test_analytics_ops_through_registry(spark, sf_dir):
    """spatial_grid / skyline / date_dim exercised as compiler ops:
    calendar spans the fact bounds, frontier rows are mutually
    non-dominated, spatial pairs respect the radius."""
    frames = run_step(
        spark,
        sf_dir,
        "orders",
        """
  - id: cal
    input: orders
    op: date_dim
    params: {date_column: o_orderdate}
  - id: per_cust
    input: orders
    op: aggregate
    params:
      group_by: [o_custkey]
      aggs:
        n_orders: "CAST(COUNT(*) AS BIGINT)"
        tot_cents: "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
  - id: frontier
    input: per_cust
    op: skyline
    params: {x_column: n_orders, y_column: tot_cents, keep_columns: [o_custkey]}
  - id: pts
    input: orders
    op: derive
    params:
      columns:
        id: "o_orderkey"
        lat_u: "CAST(o_orderkey % 200 AS BIGINT)"
        lon_u: "CAST((o_orderkey * 7) % 200 AS BIGINT)"
  - id: pairs
    input: pts
    op: spatial_grid
    params: {radius_u: 3}
""",
    )
    cal = frames["cal"].collect()
    days = {r["date_key"] for r in cal}
    assert len(cal) == len(days) == (max(days) - min(days)).days + 1
    front = frames["frontier"].collect()
    assert front
    for a in front:
        assert not any(
            q["n_orders"] >= a["n_orders"] and q["tot_cents"] >= a["tot_cents"]
            and (q["n_orders"] > a["n_orders"] or q["tot_cents"] > a["tot_cents"])
            for q in front
        )
    pairs = frames["pairs"].collect()
    assert pairs and all(r["dist_sq_u"] <= 9 for r in pairs)


def test_skyline_null_keep_values_do_not_leak(spark):
    """A dominated row whose keep column is NULL must still be
    removed: the anti join keys on the point coordinates only, so a
    NULL keep value can never make a dominated row fail to match
    itself (NULL = NULL is not true under a null-unsafe key)."""
    from configdrivendatapipeline_spark.analytics import skyline_2d

    rows = [(None, 2, 2), ("f", 10, 10), (None, 10, 10), ("g", 1, 3)]
    df = spark.createDataFrame(rows, "cat STRING, x LONG, y LONG")
    got = {
        (r["cat"], r["x"], r["y"])
        for r in skyline_2d(df, "x", "y", keep_cols=["cat"]).collect()
    }
    assert got == {("f", 10, 10), (None, 10, 10)}


def test_materialize_mode_enum_and_error_refuses_clobber(spark, sf_dir, tmp_path):
    """materialize's mode is a 3-value enum (overwrite|error|ignore):
    a typo'd or append mode raises up front, and mode: error refuses
    to clobber an existing intermediate (concurrent runs sharing the
    default path must fail fast, not overwrite each other mid-read)."""
    df = spark.range(4).withColumnRenamed("id", "k")
    target = str(tmp_path / "mat_err")
    with pytest.raises(ValueError, match="overwrite|error|ignore"):
        OPS["materialize"](spark, [df], {"path": target, "mode": "append"})
    # fresh path: error mode writes normally
    out = OPS["materialize"](spark, [df], {"path": target, "mode": "error"})
    assert out.count() == 4
    # existing path: error mode refuses the clobber
    with pytest.raises(Exception, match="already exists"):
        OPS["materialize"](spark, [df], {"path": target, "mode": "error"})


def test_materialize_ignore_is_restart_point(spark, sf_dir, tmp_path):
    """The materialize docstring claims the written table doubles as
    the restart point after a downstream failure — prove it: with
    mode: ignore and the intermediate already present, re-running the
    pipeline must NOT re-execute the upstream build. The re-run's
    upstream here is poisoned with a Python UDF that raises on any
    row, so mere survival proves the build job never ran (Spark's
    SaveMode.Ignore short-circuits before executing the query), and
    the returned frame's physical plan is a scan of the intermediate
    with no trace of the poisoned lineage."""
    import io
    from contextlib import redirect_stdout

    target = str(tmp_path / "mat_restart")
    first = OPS["materialize"](
        spark,
        [spark.range(6).withColumnRenamed("id", "k")],
        {"path": target, "mode": "ignore"},
    )
    assert first.count() == 6  # fresh path: ignore mode writes

    @F.udf("long")
    def boom(x):
        raise RuntimeError("upstream build re-executed after restart")

    poison = spark.range(6).select(boom(F.col("id")).alias("k"))
    resumed = OPS["materialize"](
        spark, [poison], {"path": target, "mode": "ignore"}
    )
    assert sorted(r["k"] for r in resumed.collect()) == list(range(6))
    buf = io.StringIO()
    with redirect_stdout(buf):
        resumed.explain("formatted")
    plan = buf.getvalue()
    assert "Scan parquet" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_compile_pipeline_dry_run_writes_nothing(spark, tmp_path):
    """compile_pipeline(dry_run=True) substitutes the materialize
    write with a schema-equivalent pass-through: validating
    examples/dedup_decision.yaml (its output paths pointed at a
    tmpdir) creates NO intermediate on disk, downstream frames still
    compile with the same columns, and the CLI's explain subcommand
    (which compiles dry) also leaves the filesystem untouched."""
    import os
    import pathlib

    from configdrivendatapipeline_spark.cli import main as cli_main
    from configdrivendatapipeline_spark.config import load_pipeline

    src = os.path.join(
        os.path.dirname(__file__), "..", "examples", "dedup_decision.yaml"
    )
    text = pathlib.Path(src).read_text()
    assert "/tmp/cddp_out/dedup_decision_pairs" in text
    yaml_path = str(tmp_path / "dedup_decision.yaml")
    pathlib.Path(yaml_path).write_text(text.replace("/tmp/cddp_out/", f"{tmp_path}/out/"))
    cfg = load_pipeline(yaml_path)
    mat_path = next(
        s.params["path"] for s in cfg.steps if s.op == "materialize"
    )
    assert mat_path == f"{tmp_path}/out/dedup_decision_pairs"

    frames = compile_pipeline(spark, cfg, dry_run=True)
    assert not pathlib.Path(mat_path).exists(), "dry_run wrote the intermediate"
    assert set(frames["pairs"].columns) == {"id_a", "id_b"}
    assert "component" in frames["clusters"].columns
    assert frames["canonical"].columns == frames["survivors"].columns

    assert cli_main(["explain", yaml_path, "pairs"]) == 0
    assert not pathlib.Path(mat_path).exists(), "CLI explain wrote the intermediate"


def test_materialize_format_enum_and_mode_alias(spark, sf_dir, tmp_path):
    """An intermediate must round-trip its schema exactly: csv reads
    back headerless all-string _c0/_c1, so non-columnar formats are
    rejected up front on BOTH the real and the dry compile path
    (otherwise dry validation would pass configs whose downstream
    column references break at run). Spark's errorifexists alias for
    mode: error is accepted and normalized, since the op docstring
    itself cites the Spark name."""
    from configdrivendatapipeline_spark.compiler import (
        _materialize_dry_run,
    )

    df = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="parquet\\|orc"):
        OPS["materialize"](
            spark, [df], {"path": str(tmp_path / "x"), "format": "csv"}
        )
    with pytest.raises(ValueError, match="parquet\\|orc"):
        _materialize_dry_run(
            spark, [df], {"path": str(tmp_path / "x"), "format": "csv"}
        )
    target = str(tmp_path / "alias")
    out = OPS["materialize"](
        spark, [df], {"path": target, "mode": "errorifexists"}
    )
    assert out.count() == 3
    with pytest.raises(Exception, match="already exists"):
        OPS["materialize"](
            spark, [df], {"path": target, "mode": "errorifexists"}
        )
    # orc is a valid columnar intermediate
    orc = OPS["materialize"](
        spark, [df], {"path": str(tmp_path / "orc"), "format": "orc"}
    )
    assert orc.count() == 3 and orc.columns == ["k"]


def test_join_bare_condition_key_gets_clean_error(spark):
    """A bare `condition:` key (YAML None) or empty-string template
    fill counts as ABSENT: combined with an empty `on` it must raise
    the precise empty-on ValueError, not reach F.expr(None) and die
    with a type error."""
    df = spark.range(3).withColumnRenamed("id", "k")
    for cond in (None, ""):
        with pytest.raises(ValueError, match="empty"):
            OPS["join"](spark, [df, df], {"on": [], "condition": cond})


def test_materialize_missing_path_gets_named_error_both_paths(spark):
    """ADVICE r12: a config that OMITS `path:` entirely must surface
    the helper's named 'non-empty string' ValueError — not a raw
    KeyError from the caller indexing p["path"] before validation —
    on BOTH the real op and the dry-run stand-in, so the one
    validation message covers missing, empty, and wrongly-typed
    path uniformly."""
    from configdrivendatapipeline_spark.compiler import (
        _materialize_dry_run,
    )

    df = spark.range(3).withColumnRenamed("id", "k")
    for params in ({}, {"path": ""}, {"path": 7}):
        with pytest.raises(ValueError, match="non-empty string"):
            OPS["materialize"](spark, [df], dict(params))
        with pytest.raises(ValueError, match="non-empty string"):
            _materialize_dry_run(spark, [df], dict(params))


def test_cli_run_end_to_end_writes_sink(spark, tmp_path, capsys):
    """VERDICT r13 item 3: prove the YAML→sink-files product promise
    through the actual CLI entry point (cli.main(["run", ...]) — the
    "sinks written" path), not just through compile_pipeline
    in-process. Runs the flagship examples/pricing_summary.yaml with
    its sink pointed at a tmpdir: exit code 0, parquet files +
    _SUCCESS exist, the success line is printed, and the read-back
    equals the dry-compiled `ordered` frame row for row (floats to
    1e-9 relative — the sink run and the re-compile may legally sum
    double partials in different partition orders)."""
    import os
    import pathlib

    from configdrivendatapipeline_spark.cli import main as cli_main
    from configdrivendatapipeline_spark.config import load_pipeline

    src = os.path.join(
        os.path.dirname(__file__), "..", "examples", "pricing_summary.yaml"
    )
    text = pathlib.Path(src).read_text()
    assert "/tmp/cddp_out/pricing_summary" in text  # flagship sink target
    out_dir = tmp_path / "pricing_summary_out"
    yaml_path = tmp_path / "pricing_summary.yaml"
    yaml_path.write_text(
        text.replace("/tmp/cddp_out/pricing_summary", str(out_dir))
    )

    assert cli_main(["run", str(yaml_path)]) == 0
    stdout = capsys.readouterr().out
    assert "pipeline 'pricing_summary' complete: 1 sinks written" in stdout

    files = sorted(p.name for p in out_dir.iterdir())
    assert "_SUCCESS" in files, files
    assert any(f.startswith("part-") and f.endswith(".parquet") for f in files)

    got = sorted(
        spark.read.parquet(str(out_dir)).collect(),
        key=lambda r: (r["l_returnflag"], r["l_linestatus"]),
    )
    want = sorted(
        compile_pipeline(
            spark, load_pipeline(str(yaml_path)), dry_run=True
        )["ordered"].collect(),
        key=lambda r: (r["l_returnflag"], r["l_linestatus"]),
    )
    assert len(got) == len(want) > 0
    assert [r.asDict().keys() for r in got] == [
        r.asDict().keys() for r in want
    ]
    for g, w in zip(got, want):
        for k, wv in w.asDict().items():
            gv = g[k]
            if isinstance(wv, float):
                assert gv == pytest.approx(wv, rel=1e-9), k
            else:
                assert gv == wv, k


def test_cli_validate_show_and_error_paths(spark, tmp_path, capsys):
    """The remaining CLI subcommands and their exit-code contract:
    `validate` is config-only (exit 0 + summary line), `show`
    prints a step preview without executing sinks, and the error
    paths return 2 with a named cause — missing file, malformed
    --param, unknown step — instead of tracebacks."""
    import os

    from configdrivendatapipeline_spark.cli import main as cli_main

    yaml_path = os.path.join(
        os.path.dirname(__file__), "..", "examples", "pricing_summary.yaml"
    )
    assert cli_main(["validate", yaml_path]) == 0
    out = capsys.readouterr().out
    assert "OK: pipeline 'pricing_summary': 1 sources, 4 steps, 1 sinks" in out

    assert cli_main(["show", yaml_path, "summary", "-n", "3"]) == 0
    out = capsys.readouterr().out
    assert "l_returnflag" in out and "sum_qty" in out

    assert cli_main(["run", str(tmp_path / "nope.yaml")]) == 2
    assert "no such file" in capsys.readouterr().err
    assert cli_main(["run", yaml_path, "--param", "oops"]) == 2
    assert "NAME=VALUE" in capsys.readouterr().err
    assert cli_main(["show", yaml_path, "no_such_step"]) == 2
    assert "unknown step/source" in capsys.readouterr().err
