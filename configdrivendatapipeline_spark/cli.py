"""Command-line entry point: ``python -m configdrivendatapipeline_spark.cli``.

Subcommands:

- ``run <pipeline.yaml>``     — execute a pipeline (sinks written).
- ``validate <pipeline.yaml>``— parse + validate config only (no Spark).
- ``show <pipeline.yaml> <name> [-n N]`` — compile and display one
  source/step result (no sinks executed; compiles with
  ``dry_run=True`` so a ``materialize`` step writes nothing).
- ``explain <pipeline.yaml> <name>``     — print the physical plan
  (dry compile too; a materialize cut shows its uncut lineage).
"""

from __future__ import annotations

import argparse
import sys

from configdrivendatapipeline_spark.config import ConfigError, load_pipeline


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="configdrivendatapipeline-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for c in ("run", "validate", "show", "explain"):
        s = sub.add_parser(c)
        s.add_argument("config")
        s.add_argument(
            "--param",
            action="append",
            default=[],
            metavar="NAME=VALUE",
            help="override a declared pipeline parameter",
        )
        if c in ("show", "explain"):
            s.add_argument("name")
        if c == "show":
            s.add_argument("-n", type=int, default=20)
    args = ap.parse_args(argv)

    params = {}
    for kv in args.param:
        if "=" not in kv:
            print(f"config error: --param wants NAME=VALUE, got {kv!r}", file=sys.stderr)
            return 2
        k, v = kv.split("=", 1)
        params[k] = v

    try:
        cfg = load_pipeline(args.config, params=params)
    except FileNotFoundError:
        print(f"config error: no such file: {args.config}", file=sys.stderr)
        return 2
    except ConfigError as e:
        print(f"config error: {e}", file=sys.stderr)
        return 2
    if args.cmd == "validate":
        print(
            f"OK: pipeline {cfg.name!r}: {len(cfg.sources)} sources, "
            f"{len(cfg.steps)} steps, {len(cfg.sinks)} sinks"
        )
        return 0

    from configdrivendatapipeline_spark.compiler import compile_pipeline, run_pipeline
    from configdrivendatapipeline_spark.session import get_spark

    # The YAML's spark_conf goes in at build time: static SQL confs
    # cannot be set on a running session.
    spark = get_spark(f"cddp:{cfg.name}", extra_conf=cfg.spark_conf)
    spark.sparkContext.setLogLevel("WARN")
    if args.cmd == "run":
        run_pipeline(spark, cfg)
        print(f"pipeline {cfg.name!r} complete: {len(cfg.sinks)} sinks written")
        from configdrivendatapipeline_spark.compiler import observed_metrics

        for oname, metrics in observed_metrics().items():
            print(f"observed[{oname}]: {metrics}")
        return 0
    # show/explain promise "no sinks executed" — compile dry so the
    # materialize op cannot write (or clobber) a production
    # intermediate during inspection; the displayed plan is the
    # uncut lineage.
    frames = compile_pipeline(spark, cfg, dry_run=True)
    if args.name not in frames:
        print(f"unknown step/source {args.name!r}; have {sorted(frames)}", file=sys.stderr)
        return 2
    if args.cmd == "show":
        frames[args.name].show(args.n, truncate=False)
    else:
        frames[args.name].explain("formatted")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
