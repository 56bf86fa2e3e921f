"""Config loader + compiler unit tests (SURVEY.md §5 item 4):
bad YAML shapes, cycle detection, reference resolution, and YAML-vs-
programmatic equivalence of the flagship pipeline."""

from __future__ import annotations

import pytest

from configdrivendatapipeline_spark.compiler import compile_pipeline
from configdrivendatapipeline_spark.config import ConfigError, load_pipeline_str

GOOD = """
pipeline: {name: t}
sources:
  li: {format: parquet, path: "%(sf)s/lineitem.parquet"}
steps:
  - id: f
    input: li
    op: filter
    params: {predicate: "l_quantity > 45"}
  - id: agg
    input: f
    op: aggregate
    params:
      group_by: [l_returnflag]
      aggs: {n: "COUNT(*)"}
"""


def test_good_pipeline_parses(sf_dir):
    cfg = load_pipeline_str(GOOD % {"sf": sf_dir})
    assert [s.id for s in cfg.steps] == ["f", "agg"]
    assert cfg.steps[1].inputs == ("f",)


def test_cycle_detected():
    bad = """
sources:
  s: {path: /x}
steps:
  - {id: a, input: b, op: filter, params: {predicate: "1=1"}}
  - {id: b, input: a, op: filter, params: {predicate: "1=1"}}
"""
    with pytest.raises(ConfigError, match="cycle"):
        load_pipeline_str(bad)


def test_unknown_input_rejected():
    bad = """
sources:
  s: {path: /x}
steps:
  - {id: a, input: nope, op: filter, params: {predicate: "1=1"}}
"""
    with pytest.raises(ConfigError, match="not a source or step"):
        load_pipeline_str(bad)


def test_duplicate_id_rejected():
    bad = """
sources:
  s: {path: /x}
steps:
  - {id: a, input: s, op: filter, params: {predicate: "1=1"}}
  - {id: a, input: s, op: filter, params: {predicate: "1=1"}}
"""
    with pytest.raises(ConfigError, match="duplicate id"):
        load_pipeline_str(bad)


def test_unknown_keys_rejected():
    bad = """
sources:
  s: {path: /x, frmt: parquet}
"""
    with pytest.raises(ConfigError, match="unknown keys"):
        load_pipeline_str(bad)


def test_missing_path_rejected():
    with pytest.raises(ConfigError, match="'path' is required"):
        load_pipeline_str("sources:\n  s: {format: csv}\n")


def test_unknown_op_fails_at_load(spark, sf_dir):
    """Op names are checked at validate time (before Spark is ever
    touched), not at first compile."""
    with pytest.raises(ConfigError, match="unknown op"):
        load_pipeline_str(
            f"""
sources:
  li: {{format: parquet, path: "{sf_dir}/lineitem.parquet"}}
steps:
  - {{id: a, input: li, op: frobnicate, params: {{}}}}
"""
        )


def test_jdbc_source_requires_url_dbtable():
    with pytest.raises(ConfigError, match="url"):
        load_pipeline_str(
            """
sources:
  db: {format: jdbc}
steps: []
"""
        )


def test_yaml_equals_programmatic(spark, sf_dir):
    """The YAML-compiled flagship equals the same plan built directly."""
    from pyspark.sql import functions as F

    cfg = load_pipeline_str(GOOD % {"sf": sf_dir})
    frames = compile_pipeline(spark, cfg)
    got = {tuple(r) for r in frames["agg"].collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = {
        tuple(r)
        for r in li.filter(F.col("l_quantity") > 45)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_validate_split_plus_metrics(spark, sf_dir):
    """Quarantine split partitions the input; metrics agree with it."""
    cfg = load_pipeline_str(
        f"""
sources:
  o: {{format: parquet, path: "{sf_dir}/orders.parquet"}}
steps:
  - id: metrics
    input: o
    op: validate
    params:
      output: metrics
      rules:
        - {{rule: range, name: band, column: o_totalprice, min: 0, max: 300000, on_fail: quarantine}}
  - id: good
    input: o
    op: validate
    params:
      output: valid
      rules:
        - {{rule: range, name: band, column: o_totalprice, min: 0, max: 300000, on_fail: quarantine}}
  - id: bad
    input: o
    op: validate
    params:
      output: invalid
      rules:
        - {{rule: range, name: band, column: o_totalprice, min: 0, max: 300000, on_fail: quarantine}}
"""
    )
    frames = compile_pipeline(spark, cfg)
    total = frames["o"].count()
    n_good, n_bad = frames["good"].count(), frames["bad"].count()
    assert n_good + n_bad == total
    m = frames["metrics"].collect()[0]
    assert m.n_checked == total and m.n_failed == n_bad


def test_zscore_rule_flags_planted_outlier(spark):
    """zscore flags exactly the planted far-out value and nothing in
    the tight cluster; unknown columns still error cleanly."""
    from configdrivendatapipeline_spark.validation import Rule, run_rules

    df = spark.createDataFrame(
        [(i, 100.0 + (i % 7) / 10.0) for i in range(1, 50)] + [(99, 5000.0)],
        "id INT, v DOUBLE",
    )
    m = run_rules(df, [Rule("out", "zscore", {"column": "v", "max_z": 3.0})]).metrics
    row = m.collect()[0]
    assert row.rule_name == "out"
    assert row.n_checked == 50
    assert row.n_failed == 1
    assert not row.passed


def test_degenerate_rule_configs_fail_loudly(spark):
    """Round-12 self-review: a range rule with NEITHER bound passes
    every row (a typo'd `mim:` key silently disables the check), a
    set rule with an empty allowed list quarantines the WHOLE dataset
    — both are config errors and must say so; set-rule missing params
    get the same friendly naming row rules already had."""
    import pytest

    from configdrivendatapipeline_spark.validation import Rule, run_rules

    df = spark.createDataFrame([(1, "A")], "id INT, seg STRING")
    with pytest.raises(ValueError, match="missing required param"):
        run_rules(df, [Rule("r", "range", {"column": "id", "mim": 0})])
    with pytest.raises(ValueError, match="allowed values list is empty"):
        run_rules(df, [Rule("s", "set", {"column": "seg", "allowed": []})])
    with pytest.raises(ValueError, match="missing required param or dim"):
        run_rules(df, [Rule("ri", "ref_integrity", {"column": "seg"})])
    # a one-bound range still works
    ok = run_rules(df, [Rule("r", "range", {"column": "id", "min": 0})]).metrics
    assert ok.collect()[0].passed


def test_all_example_yamls_compile(spark, tmp_path):
    """Every shipped example in examples/ must parse and plan-compile
    (catching op-name drift between docs and the op registry). The
    streaming example needs a streaming source, covered separately in
    test_skew_and_streaming_cfg; batch examples compile fully. Output
    paths point at a tmpdir: a full compile runs materialize."""
    import pathlib

    from configdrivendatapipeline_spark.config.loader import load_pipeline_str

    ex_dir = pathlib.Path(__file__).parent.parent / "examples"
    yamls = sorted(ex_dir.glob("*.yaml"))
    assert yamls, "examples/ directory is empty"
    for y in yamls:
        if y.name == "streaming_purchases.yaml":
            continue
        text = y.read_text().replace("/tmp/cddp_out/", f"{tmp_path}/")
        cfg = load_pipeline_str(text, base_dir=str(ex_dir))
        frames = compile_pipeline(spark, cfg)
        assert frames, f"{y.name}: no frames compiled"
        for step_id, df in frames.items():
            assert df.columns, f"{y.name}:{step_id}: empty schema"
        # EXECUTE every terminal batch frame, not just plan it: the
        # compute_bounded_training unconditioned-join bug compiled
        # clean and only misbehaved at runtime. Terminal frames pull
        # their upstreams, so one count per sink-feeding step
        # exercises the whole DAG without writing any sink.
        consumed = {i for s in cfg.steps for i in s.inputs}
        for step_id, df in frames.items():
            if step_id in consumed or df.isStreaming:
                continue
            assert df.count() >= 0, f"{y.name}:{step_id}: execution failed"


def test_parameters_substitute_and_override():
    from configdrivendatapipeline_spark.config import load_pipeline_str

    yml = """
parameters:
  seg: BUILDING
sources:
  c: {format: parquet, path: "/tmp/x.parquet"}
steps:
  - {id: f, input: c, op: filter, params: {predicate: "c_mktsegment = '${seg}'"}}
"""
    cfg = load_pipeline_str(yml)
    assert "'BUILDING'" in cfg.steps[0].params["predicate"]
    cfg2 = load_pipeline_str(yml, params={"seg": "AUTOMOBILE"})
    assert "'AUTOMOBILE'" in cfg2.steps[0].params["predicate"]


def test_override_of_undeclared_parameter_rejected():
    import pytest

    from configdrivendatapipeline_spark.config import load_pipeline_str
    from configdrivendatapipeline_spark.config.loader import ConfigError

    yml = """
sources:
  c: {format: parquet, path: "/tmp/x.parquet"}
steps:
  - {id: f, input: c, op: distinct, params: {}}
"""
    with pytest.raises(ConfigError):
        load_pipeline_str(yml, params={"nope": 1})


def test_unknown_parameter_reference_rejected():
    import pytest

    from configdrivendatapipeline_spark.config import load_pipeline_str
    from configdrivendatapipeline_spark.config.loader import ConfigError

    yml = """
sources:
  c: {format: parquet, path: "${missing}/x.parquet"}
steps:
  - {id: f, input: c, op: distinct, params: {}}
"""
    with pytest.raises(ConfigError):
        load_pipeline_str(yml)


def test_when_drops_step_and_dropped_reference_fails_loudly():
    import pytest

    from configdrivendatapipeline_spark.config import load_pipeline_str
    from configdrivendatapipeline_spark.config.loader import ConfigError

    yml = """
parameters:
  mode: fast
sources:
  c: {format: parquet, path: "/tmp/x.parquet"}
steps:
  - {id: debug, input: c, op: distinct, params: {}, when: "${mode} == full"}
  - {id: keep, input: c, op: distinct, params: {}}
"""
    cfg = load_pipeline_str(yml)
    assert [s.id for s in cfg.steps] == ["keep"]
    yml_bad = yml + """  - {id: broken, input: debug, op: distinct, params: {}}
"""
    with pytest.raises(ConfigError):
        load_pipeline_str(yml_bad)


def test_foreach_stamps_steps_per_value():
    from configdrivendatapipeline_spark.config import load_pipeline_str

    yml = """
sources:
  o: {format: parquet, path: "/tmp/o.parquet"}
steps:
  - id: by_status
    input: o
    op: filter
    params: {predicate: "o_orderstatus = '${st}'"}
    foreach: {var: st, values: [O, F]}
"""
    cfg = load_pipeline_str(yml)
    assert [s.id for s in cfg.steps] == ["by_status_F", "by_status_O"]
    preds = {s.id: s.params["predicate"] for s in cfg.steps}
    assert preds["by_status_O"] == "o_orderstatus = 'O'"
    assert preds["by_status_F"] == "o_orderstatus = 'F'"

    # round-12: degenerate foreach configs name the real cause instead
    # of a raw KeyError / a silently-deleted step
    from configdrivendatapipeline_spark.config import ConfigError

    with pytest.raises(ConfigError, match="foreach step needs an 'id'"):
        load_pipeline_str(
            """
sources:
  o: {format: parquet, path: "/tmp/o.parquet"}
steps:
  - input: o
    op: distinct
    params: {}
    foreach: {var: st, values: [O]}
"""
        )
    with pytest.raises(ConfigError, match="has no values"):
        load_pipeline_str(
            """
sources:
  o: {format: parquet, path: "/tmp/o.parquet"}
steps:
  - id: s
    input: o
    op: distinct
    params: {}
    foreach: {var: st, values: []}
"""
        )


def test_include_composes_with_namespace(tmp_path):
    from configdrivendatapipeline_spark.config import load_pipeline

    frag = tmp_path / "cleaning.yaml"
    frag.write_text(
        """
parameters:
  seg: BUILDING
sources:
  customer: {format: parquet, path: "/tmp/c.parquet"}
steps:
  - {id: seg_only, input: customer, op: filter,
     params: {predicate: "c_mktsegment = '${seg}'"}}
  - {id: keys, input: seg_only, op: select, params: {columns: [c_custkey]}}
"""
    )
    parent = tmp_path / "main.yaml"
    parent.write_text(
        """
include:
  - path: cleaning.yaml
    prefix: clean
    params: {seg: AUTOMOBILE}
sources:
  customer: {format: parquet, path: "/tmp/c.parquet"}
steps:
  - {id: final, input: clean_keys, op: distinct, params: {}}
"""
    )
    cfg = load_pipeline(str(parent))
    ids = [s.id for s in cfg.steps]
    assert ids == ["clean_seg_only", "clean_keys", "final"]
    by = {s.id: s for s in cfg.steps}
    assert "'AUTOMOBILE'" in by["clean_seg_only"].params["predicate"]
    assert by["clean_keys"].inputs == ("clean_seg_only",)
    assert by["final"].inputs == ("clean_keys",)


def test_include_source_conflict_rejected(tmp_path):
    import pytest

    from configdrivendatapipeline_spark.config import load_pipeline
    from configdrivendatapipeline_spark.config.loader import ConfigError

    frag = tmp_path / "frag.yaml"
    frag.write_text(
        """
sources:
  customer: {format: parquet, path: "/tmp/OTHER.parquet"}
steps:
  - {id: a, input: customer, op: distinct, params: {}}
"""
    )
    parent = tmp_path / "main.yaml"
    parent.write_text(
        """
include:
  - {path: frag.yaml, prefix: f}
sources:
  customer: {format: parquet, path: "/tmp/c.parquet"}
steps:
  - {id: final, input: f_a, op: distinct, params: {}}
"""
    )
    with pytest.raises(ConfigError):
        load_pipeline(str(parent))


def test_include_missing_file_rejected(tmp_path):
    import pytest

    from configdrivendatapipeline_spark.config import load_pipeline
    from configdrivendatapipeline_spark.config.loader import ConfigError

    parent = tmp_path / "main.yaml"
    parent.write_text(
        """
include:
  - {path: nope.yaml}
sources:
  c: {format: parquet, path: "/tmp/c.parquet"}
steps:
  - {id: s, input: c, op: distinct, params: {}}
"""
    )
    with pytest.raises(ConfigError):
        load_pipeline(str(parent))


def test_loader_never_leaks_raw_exceptions():
    """Fuzz the loader with structurally-mangled documents: every
    failure must surface as ConfigError (actionable, with path
    context), never a raw KeyError/TypeError/AttributeError from
    inside the loader."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from configdrivendatapipeline_spark.config import load_pipeline_str
    from configdrivendatapipeline_spark.config.loader import ConfigError

    scalar = st.one_of(
        st.none(), st.booleans(), st.integers(), st.text(max_size=8)
    )
    value = st.recursive(
        scalar,
        lambda c: st.one_of(
            st.lists(c, max_size=3),
            st.dictionaries(st.text(max_size=6), c, max_size=3),
        ),
        max_leaves=12,
    )
    doc = st.dictionaries(
        st.sampled_from(
            ["pipeline", "parameters", "sources", "steps", "sinks", "include", "junk"]
        ),
        value,
        max_size=5,
    )

    @settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(doc)
    def run(d):
        import yaml

        try:
            load_pipeline_str(yaml.safe_dump(d))
        except ConfigError:
            pass  # the contract: malformed config → ConfigError

    run()


def test_packaged_source_formats_surface_classpath_error(spark, sf_dir):
    """avro/kafka are accepted config formats riding Spark's public
    packaged DataSources; with the package absent (this sandbox) the
    reader must raise the precise --packages remedy, not Spark's
    generic lookup failure. If a future environment bundles the
    packages, the kafka path may instead fail on the (absent)
    broker — also acceptable, so only the avro path asserts text."""
    import pytest

    from configdrivendatapipeline_spark.io.sources import read_source

    with pytest.raises(Exception, match="--packages|avro"):
        read_source(
            spark, {"format": "avro", "path": f"{sf_dir}/orders.parquet"}
        ).limit(1).collect()
    with pytest.raises(Exception):
        read_source(
            spark,
            {
                "format": "kafka",
                "bootstrap_servers": "localhost:19099",
                "topic": "t",
                "options": {"startingOffsets": "earliest"},
            },
        ).limit(1).collect()


def test_packaged_sink_formats_surface_classpath_error(spark, sf_dir, tmp_path):
    """Sink-side twin of the packaged-source boundary: avro/kafka
    writers raise the precise --packages remedy when the package is
    absent (avro asserts the text; kafka may alternatively fail on
    the absent broker in a bundled environment)."""
    import pytest

    from configdrivendatapipeline_spark.io.sinks import write_sink

    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    with pytest.raises(Exception, match="--packages|avro"):
        write_sink(df, {"format": "avro", "path": str(tmp_path / "a"), "mode": "overwrite"})
    with pytest.raises(Exception):
        write_sink(
            df.selectExpr("CAST(r_name AS STRING) AS value"),
            {"format": "kafka", "bootstrap_servers": "localhost:19099", "topic": "t"},
        )
    # A kafka topic is append-only: any other configured mode is a
    # config error surfaced BEFORE the write, never silently dropped.
    with pytest.raises(ValueError, match="append-only"):
        write_sink(
            df.selectExpr("CAST(r_name AS STRING) AS value"),
            {
                "format": "kafka",
                "bootstrap_servers": "localhost:19099",
                "topic": "t",
                "mode": "overwrite",
            },
        )


def test_kafka_reaches_the_config_layer(spark):
    """Kafka source/sink configs must validate and carry their broker
    keys through to the io layer (previously the loader rejected
    bootstrap_servers/topic as unknown keys, so the io layer's kafka
    support was unreachable from YAML)."""
    import pytest

    from configdrivendatapipeline_spark.config import load_pipeline_str
    from configdrivendatapipeline_spark.config.loader import ConfigError
    from configdrivendatapipeline_spark.io import write_sink

    cfg = load_pipeline_str(
        """
sources:
  ev: {format: kafka, bootstrap_servers: "h:9092", topic: t,
       options: {startingOffsets: earliest}}
steps:
  - {id: s, input: ev, op: select, params: {columns: [value]}}
sinks:
  - {input: s, format: kafka, bootstrap_servers: "h:9092", topic: out}
"""
    )
    r = cfg.sources["ev"]
    assert r["bootstrap_servers"] == "h:9092" and r["topic"] == "t"
    w = cfg.sinks[0]
    assert w["bootstrap_servers"] == "h:9092" and w["topic"] == "out"
    # kafka sinks default to append: with no `mode` the writer gets past
    # its append-only check and stops at the absent package (or, with
    # the package installed, at the closed local port)
    with pytest.raises(Exception) as err:
        write_sink(
            spark.range(1).selectExpr("CAST(id AS STRING) AS value"),
            {**w, "bootstrap_servers": "localhost:19099"},
        )
    assert "append-only" not in str(err.value)

    with pytest.raises(ConfigError, match="bootstrap_servers"):
        load_pipeline_str(
            """
sources:
  ev: {format: kafka, topic: t}
sinks:
  - {input: ev, format: parquet, path: /tmp/x}
"""
        )
    with pytest.raises(ConfigError, match="'path' is required"):
        load_pipeline_str(
            """
sources:
  a: {format: parquet, path: /tmp/in}
sinks:
  - {input: a, format: parquet}
"""
        )


@pytest.mark.parametrize("key", ["partition_by", "cluster_by", "sort_by"])
def test_scalar_sink_layout_is_a_config_error(tmp_path, capsys, key):
    """A bare column name where a list is due (``partition_by: region``)
    is rejected at load, naming the sink, instead of reaching the
    writer split into one-letter columns."""
    from configdrivendatapipeline_spark.cli import main

    text = f"""
sources:
  o: {{format: parquet, path: /tmp/in}}
sinks:
  - {{input: o, format: parquet, path: /tmp/out, {key}: region}}
"""
    with pytest.raises(ConfigError, match=rf"sinks\[0\]: {key} must be a list of columns"):
        load_pipeline_str(text)
    doc = tmp_path / "p.yaml"
    doc.write_text(text)
    assert main(["validate", str(doc)]) == 2
    assert f"sinks[0]: {key} must be a list" in capsys.readouterr().err
    # the list form still loads, unchanged
    cfg = load_pipeline_str(text.replace(f"{key}: region", f"{key}: [region]"))
    assert cfg.sinks[0][key] == ["region"]


def test_jdbc_partition_column_needs_both_bounds():
    """A parallel jdbc read without its bounds fails at load, not as a
    bare KeyError inside the reader at compile time."""
    src = "{format: jdbc, url: 'jdbc:x', dbtable: t, partition_column: id%s}"
    for extra in ("", ", lower_bound: 0", ", upper_bound: 9"):
        with pytest.raises(ConfigError, match="source 'j'.*'lower_bound' and 'upper_bound'"):
            load_pipeline_str(f"sources:\n  j: {src % extra}\n")
    cfg = load_pipeline_str(f"sources:\n  j: {src % ', lower_bound: 0, upper_bound: 9'}\n")
    assert cfg.sources["j"]["lower_bound"] == 0


def test_incremental_needs_column_and_since():
    """An ``incremental`` block missing its watermark column or its
    start value fails at load, not as a KeyError in the reader."""
    for inc in ("{column: ts}", "{since: '2024-01-01'}", "ts"):
        with pytest.raises(ConfigError, match="source 's'.*'column' and 'since'"):
            load_pipeline_str(f"sources:\n  s: {{path: /x, incremental: {inc}}}\n")
    cfg = load_pipeline_str(
        "sources:\n  s: {path: /x, incremental: {column: ts, since: '2024-01-01'}}\n"
    )
    assert cfg.sources["s"]["incremental"] == {"column": "ts", "since": "2024-01-01"}


def test_non_mapping_options_is_a_config_error():
    """``options`` is stringified key by key at load; a list or scalar
    there is a ConfigError, not an AttributeError traceback."""
    with pytest.raises(ConfigError, match="source 'a': 'options' must be a mapping"):
        load_pipeline_str("sources: {a: {path: /x, options: [header]}}")
    with pytest.raises(ConfigError, match=r"sinks\[0\]: 'options' must be a mapping"):
        load_pipeline_str("sources: {a: {path: /x}}\nsinks: [{input: a, path: /y, options: 3}]")


def test_master_supplied_detects_submit_environment():
    """spark-submit supplies the master BEFORE any JVM exists, when
    SparkConf() is an empty dict-backed shim — detection must come
    from the submit environment, or a submitted yarn/k8s job gets
    local[N] forced and silently runs single-node on the driver."""
    from configdrivendatapipeline_spark.session import _master_supplied

    # spark-submit launches the Python driver with the gateway port.
    assert _master_supplied({"PYSPARK_GATEWAY_PORT": "12345"})
    # User-launched gateways carry the master in the submit args.
    assert _master_supplied({"PYSPARK_SUBMIT_ARGS": "--master yarn pyspark-shell"})
    assert _master_supplied(
        {"PYSPARK_SUBMIT_ARGS": "--conf spark.master=k8s://x pyspark-shell"}
    )
    assert _master_supplied({"PYSPARK_SUBMIT_ARGS": "--master=yarn pyspark-shell"})
    # Token-anchored, not substring: an unrelated conf that merely
    # CONTAINS "spark.master" must not suppress the local fallback.
    from pyspark import SparkContext as _SC

    if _SC._jvm is None:
        assert not _master_supplied(
            {
                "PYSPARK_SUBMIT_ARGS": (
                    "--conf spark.master.rest.enabled=true pyspark-shell"
                )
            }
        )
    # NOTE: the bare-env negative case is only asserted when no JVM
    # is attached in this process (a live test SparkSession makes
    # SparkConf() legitimately contain spark.master).
    from pyspark import SparkContext

    if SparkContext._jvm is None:
        assert not _master_supplied({})


def test_op_param_typos_fail_at_compile(spark, sf_dir):
    """A typo'd op param key must be a loud compile-time error: in a
    config-driven pipeline, silent fall-through to the op's default
    is the worst failure mode a YAML surface can have."""
    import pytest

    from configdrivendatapipeline_spark.compiler import compile_pipeline
    from configdrivendatapipeline_spark.config import load_pipeline_str

    cfg = load_pipeline_str(
        f"""
name: typo
sources:
  docs: {{format: parquet, path: "{sf_dir}/documents.parquet"}}
steps:
  - id: bad
    op: filter
    input: docs
    params: {{predicat: "doc_id > 0"}}
sinks: []
"""
    )
    with pytest.raises(ValueError, match="predicat"):
        compile_pipeline(spark, cfg)


def test_every_op_is_param_scannable():
    """The auto-derived param allowlists only protect ops whose
    builders read params via literal keys; an op that starts
    iterating its params dict (or passing it whole into a helper)
    silently loses typo protection. Keep the invariant explicit."""
    from configdrivendatapipeline_spark.compiler import OPS, OP_PARAM_KEYS

    unscanned = sorted(k for k, v in OP_PARAM_KEYS.items() if v is None)
    assert not unscanned, (
        "ops with dynamic param access (typo checking disabled): "
        f"{unscanned} — read keys literally or add explicit validation"
    )
    assert set(OP_PARAM_KEYS) == set(OPS)


def test_scan_param_keys_covers_membership_and_dynamic_shapes():
    """`'k' in p` is a param read — it must land in the allowlist or
    a valid config using only that key gets rejected as a typo; and
    genuinely dynamic shapes (iteration, dict-splat, non-literal
    membership) must map to None so the scannability invariant test
    catches them instead of shipping an underinclusive allowlist."""
    from configdrivendatapipeline_spark.compiler import _scan_param_keys

    def membership(spark, dfs, p):
        if "condition" in p:
            return p["how"]
        return None

    assert _scan_param_keys(membership) == frozenset({"condition", "how"})

    def iterates(spark, dfs, p):
        return [k for k in p]

    assert _scan_param_keys(iterates) is None

    def splats(spark, dfs, p):
        return {**p, "extra": 1}

    assert _scan_param_keys(splats) is None

    def dynamic_membership(spark, dfs, p):
        k = "cond" + "ition"
        return k in p

    assert _scan_param_keys(dynamic_membership) is None


def test_join_and_lookup_reject_empty_on(spark, sf_dir):
    """A present-but-empty `on`/`keys` (e.g. from parameter
    templating) must error as EMPTY, not fall through to the YAML
    `True`-key spelling and misdiagnose the cause."""
    import pytest

    from configdrivendatapipeline_spark.compiler import OPS

    df = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="empty"):
        OPS["join"](spark, [df, df], {"on": []})
    with pytest.raises(ValueError, match="keys"):
        OPS["lookup"](spark, [df, df], {"keys": {}, "take": {"k": "k"}})
    # …but an empty `on` alongside a valid `condition:` is NOT an
    # error — the condition governs the join, as it did before the
    # guard existed (templating commonly emits `on: []` + condition).
    left = df
    right = spark.range(3).withColumnRenamed("id", "k2")
    out = OPS["join"](
        spark, [left, right], {"on": [], "condition": "k = k2"}
    )
    assert out.count() == 3


def test_bpe_train_rejects_mode_mismatched_params(spark, sf_dir):
    """bpe_train validates param/mode combinations up front: a knob
    for the wrong mode raises instead of being silently ignored
    (batch_size under mode: local used to slip through)."""
    import pytest

    from configdrivendatapipeline_spark.compiler import OPS

    docs = spark.createDataFrame(
        [(0, "aa bb aa"), (1, "bb cc")], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="batch_size requires"):
        OPS["bpe_train"](
            spark, [docs], {"mode": "local", "batch_size": 8, "n_merges": 2}
        )
    with pytest.raises(ValueError, match="batch_size requires"):
        OPS["bpe_train"](spark, [docs], {"batch_size": 8, "n_merges": 2})
    with pytest.raises(ValueError, match="max_vocab requires"):
        OPS["bpe_train"](
            spark, [docs], {"mode": "batched", "max_vocab": 5, "n_merges": 2}
        )
    with pytest.raises(ValueError, match="max_vocab requires"):
        OPS["bpe_train"](spark, [docs], {"max_vocab": 5, "n_merges": 2})


def test_enum_valued_op_params_reject_typos(spark, sf_dir):
    """Enum-ish op params (aggregate kind, cast mode, validate
    output) must reject unknown values instead of silently running a
    different variant."""
    import pytest

    from configdrivendatapipeline_spark.compiler import OPS

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with pytest.raises(ValueError, match="kind"):
        OPS["aggregate"](
            spark, [df], {"aggs": {"n": "count(*)"}, "group_by": ["o_orderstatus"], "kind": "rollop"}
        )
    with pytest.raises(ValueError, match="mode"):
        OPS["cast"](spark, [df], {"columns": {"o_orderkey": "string"}, "mode": "saf"})
    with pytest.raises(ValueError, match="output"):
        OPS["validate"](
            spark, [df], {"rules": [{"rule": "not_null", "column": "o_orderkey"}], "output": "vaild"}
        )
