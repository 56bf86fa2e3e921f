"""YAML pipeline loader + validation (SURVEY.md §3.1 steps 1–2).

Checks performed before anything touches Spark:

- document shape (required keys, unknown keys rejected early);
- step references resolve (inputs name sources or prior steps);
- the step graph is a DAG (cycle detection via Kahn topsort);
- step ids unique, op names known to the compiler registry.
"""

from __future__ import annotations

from typing import Any

import yaml

from configdrivendatapipeline_spark.config.models import PipelineConfig, StepConfig


class ConfigError(ValueError):
    """A pipeline document failed validation (with path context)."""


def column_list(value: Any, what: str) -> list[str]:
    """``value`` as a list of column names (absent or empty: ``[]``).
    A bare string is rejected: spread with ``*`` it would iterate as
    characters and name one-letter columns. The loader checks sink
    layout keys with it, and the io layer and compiler ops apply it to
    the values they are called with."""
    if not value:
        return []
    if not isinstance(value, (list, tuple)):
        raise ConfigError(f"{what} must be a list of columns, got {value!r}")
    return [str(c) for c in value]


def _options(raw: dict, where: str) -> dict[str, str]:
    opts = raw.get("options") or {}
    if not isinstance(opts, dict):
        raise ConfigError(f"{where}: 'options' must be a mapping")
    return {str(k): str(v) for k, v in opts.items()}


_SOURCE_KEYS = {
    "format", "path", "url", "dbtable", "options", "schema",
    "declared_schema", "drift", "streaming", "incremental",
    "partition_column", "lower_bound", "upper_bound", "num_partitions",
    "bootstrap_servers", "topic", "subscribe_mode",
}
_STEP_KEYS = {"id", "op", "input", "inputs", "params"}
_SINK_KEYS = {"input", "format", "path", "mode", "partition_by", "cluster_by", "sort_by", "options", "bootstrap_servers", "topic"}


def load_pipeline(path: str, params: dict | None = None) -> PipelineConfig:
    """Parse + validate a pipeline YAML file."""
    import os

    with open(path) as f:
        doc = yaml.safe_load(f)
    doc = _resolve_includes(doc, os.path.dirname(os.path.abspath(path)), path)
    return _build(_expand(doc, params, path), origin=path)


def load_pipeline_str(
    text: str, params: dict | None = None, base_dir: str = "."
) -> PipelineConfig:
    """Parse + validate a pipeline YAML string (tests, notebooks)."""
    doc = yaml.safe_load(text)
    doc = _resolve_includes(doc, base_dir, "<string>")
    return _build(_expand(doc, params, "<string>"), origin="<string>")


def _resolve_includes(doc: Any, base_dir: str, origin: str, depth: int = 0) -> Any:
    """``include:`` — pipeline composition (ADF ExecutePipeline):
    merge another pipeline file's sources/steps/sinks into this one.

    ```yaml
    include:
      - path: fragments/cleaning.yaml
        prefix: clean          # namespaces the fragment's step ids
        params: {seg: AUTO}    # overrides the fragment's parameters
    ```

    The fragment expands with its OWN parameters first, then its step
    ids (and references to them) take the ``prefix_`` namespace so
    two fragments never collide; sources merge by name and must agree
    exactly if shared. Resolution is recursive with a depth cap.
    """
    import os

    if not isinstance(doc, dict) or "include" not in doc:
        return doc
    if depth > 8:
        raise ConfigError(f"{origin}: include nesting deeper than 8")
    doc = dict(doc)
    includes = doc.pop("include") or []
    if not isinstance(includes, list):
        raise ConfigError(f"{origin}: 'include' must be a list")
    raw_sources = doc.get("sources") or {}
    if not isinstance(raw_sources, dict):
        raise ConfigError(f"{origin}: 'sources' must be a mapping")
    for key in ("steps", "sinks"):
        if not isinstance(doc.get(key) or [], list):
            raise ConfigError(f"{origin}: {key!r} must be a list")
    merged_sources = dict(raw_sources)
    merged_steps = list(doc.get("steps") or [])
    merged_sinks = list(doc.get("sinks") or [])
    inc_steps_all: list = []
    inc_sinks_all: list = []
    for i, inc in enumerate(includes):
        if not isinstance(inc, dict) or "path" not in inc:
            raise ConfigError(f"{origin}: include[{i}] needs a 'path'")
        ipath = inc["path"]
        if not os.path.isabs(ipath):
            ipath = os.path.join(base_dir, ipath)
        try:
            with open(ipath) as f:
                idoc = yaml.safe_load(f)
        except FileNotFoundError:
            raise ConfigError(f"{origin}: include[{i}]: no such file {ipath!r}")
        idoc = _resolve_includes(
            idoc, os.path.dirname(os.path.abspath(ipath)), ipath, depth + 1
        )
        idoc = _expand(idoc, inc.get("params"), ipath)
        prefix = inc.get("prefix")
        isteps = list(idoc.get("steps") or [])
        isinks = list(idoc.get("sinks") or [])
        if prefix:
            own_ids = {s.get("id") for s in isteps if isinstance(s, dict)}

            def ns(name: str) -> str:
                return f"{prefix}_{name}" if name in own_ids else name

            for s in isteps:
                s["id"] = f"{prefix}_{s['id']}"
                if "input" in s:
                    s["input"] = ns(s["input"])
                if "inputs" in s:
                    s["inputs"] = [ns(x) for x in s["inputs"]]
            for sk in isinks:
                if isinstance(sk, dict) and "input" in sk:
                    sk["input"] = ns(sk["input"])
        for sname, scfg in (idoc.get("sources") or {}).items():
            if sname in merged_sources and merged_sources[sname] != scfg:
                raise ConfigError(
                    f"{origin}: include[{i}]: source {sname!r} conflicts "
                    "with an existing source of the same name"
                )
            merged_sources.setdefault(sname, scfg)
        inc_steps_all.extend(isteps)
        inc_sinks_all.extend(isinks)
    doc["sources"] = merged_sources
    # fragment steps come FIRST so the parent can reference them
    doc["steps"] = inc_steps_all + merged_steps
    doc["sinks"] = inc_sinks_all + merged_sinks
    return doc


# ---------------------------------------------------------------------------
# Template expansion (runs BEFORE validation): parameters / when / foreach
# ---------------------------------------------------------------------------

_PARAM_RE = __import__("re").compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)\}")


def _subst(value: Any, params: dict, origin: str) -> Any:
    """Recursively substitute ``${name}`` in every string value."""
    if isinstance(value, str):
        def repl(m):
            k = m.group(1)
            if k not in params:
                raise ConfigError(f"{origin}: unknown parameter ${{{k}}}")
            return str(params[k])
        return _PARAM_RE.sub(repl, value)
    if isinstance(value, dict):
        return {k: _subst(v, params, origin) for k, v in value.items()}
    if isinstance(value, list):
        return [_subst(v, params, origin) for v in value]
    return value


def _truthy(expr: str, origin: str) -> bool:
    """Evaluate a (post-substitution) condition: ``A == B``,
    ``A != B``, or a bare true/false literal. Deliberately tiny — a
    config conditional is a gate, not a language."""
    e = expr.strip()
    for op_, want in (("==", True), ("!=", False)):
        if op_ in e:
            lhs, rhs = (s.strip().strip("'\"") for s in e.split(op_, 1))
            return (lhs == rhs) is want
    if e.lower() in ("true", "1", "yes"):
        return True
    if e.lower() in ("false", "0", "no", ""):
        return False
    raise ConfigError(f"{origin}: cannot evaluate condition {expr!r}")


def _expand(doc: Any, overrides: dict | None, origin: str) -> Any:
    """parameters / when / foreach — config-level control flow.

    - ``parameters: {name: default}`` declares substitutable values;
      callers override via ``load_pipeline(..., params={...})`` (the
      CLI's ``--param name=value``). ``${name}`` substitutes in every
      string, including paths, predicates and step ids.
    - ``when: "<cond>"`` on a step keeps it only when the condition
      (after substitution) holds; a surviving step referencing a
      dropped one fails validation loudly rather than silently
      rewiring. Sinks gate the same way.
    - ``foreach: {var: v, values: [...]}`` stamps one copy of the
      step per value with ``${v}`` substituted and the id suffixed
      ``_<value>`` — ADF's ForEach, resolved at COMPILE time so the
      expanded DAG is still one static Catalyst plan.
    """
    if not isinstance(doc, dict):
        return doc
    for key, want in (("steps", list), ("sinks", list), ("sources", dict)):
        got = doc.get(key)
        if got is not None and not isinstance(got, want):
            raise ConfigError(
                f"{origin}: {key!r} must be a {want.__name__}"
            )
    if doc.get("pipeline") is not None and not isinstance(doc["pipeline"], dict):
        raise ConfigError(f"{origin}: 'pipeline' must be a mapping")
    declared = doc.pop("parameters", None) or {}
    if not isinstance(declared, dict):
        raise ConfigError(f"{origin}: 'parameters' must be a mapping")
    params = {str(k): v for k, v in declared.items()}
    for k, v in (overrides or {}).items():
        if k not in params:
            raise ConfigError(f"{origin}: override for undeclared parameter {k!r}")
        params[k] = v

    out = dict(doc)
    steps_out: list = []
    for raw in doc.get("steps") or []:
        if not isinstance(raw, dict):
            steps_out.append(raw)
            continue
        raw = dict(raw)
        fe = raw.pop("foreach", None)
        cond = raw.pop("when", None)
        if cond is not None:
            if not _truthy(str(_subst(cond, params, origin)), origin):
                continue
        if fe is not None:
            if not isinstance(fe, dict) or "var" not in fe or "values" not in fe:
                raise ConfigError(
                    f"{origin}: foreach needs 'var' and 'values'"
                )
            if "id" not in raw:
                # caught here, not as a raw KeyError mid-stamp: every
                # foreach copy derives its id from the template's
                raise ConfigError(f"{origin}: foreach step needs an 'id'")
            values = _subst(fe["values"], params, origin)
            if isinstance(values, str):
                values = [v for v in values.split(",") if v]
            if not values:
                # zero stamped copies silently deletes the step AND
                # every downstream reference fails with a confusing
                # 'unknown input' — name the real cause
                raise ConfigError(
                    f"{origin}: foreach over step {raw['id']!r} has no "
                    "values — nothing would be stamped"
                )
            for v in values:
                scoped = dict(params)
                scoped[str(fe["var"])] = v
                stamped = _subst(raw, scoped, origin)
                stamped["id"] = f"{stamped['id']}_{v}"
                steps_out.append(stamped)
        else:
            steps_out.append(_subst(raw, params, origin))
    out["steps"] = steps_out

    sinks_out = []
    for raw in doc.get("sinks") or []:
        if isinstance(raw, dict):
            raw = dict(raw)
            cond = raw.pop("when", None)
            if cond is not None and not _truthy(
                str(_subst(cond, params, origin)), origin
            ):
                continue
        sinks_out.append(_subst(raw, params, origin))
    out["sinks"] = sinks_out
    out["sources"] = _subst(doc.get("sources") or {}, params, origin)
    return out


def _build(doc: Any, origin: str) -> PipelineConfig:
    if not isinstance(doc, dict):
        raise ConfigError(f"{origin}: top level must be a mapping")
    meta = doc.get("pipeline") or {}
    name = meta.get("name", "unnamed")
    spark_conf = {str(k): str(v) for k, v in (meta.get("spark_conf") or {}).items()}

    raw_sources = doc.get("sources") or {}
    if not isinstance(raw_sources, dict) or not raw_sources:
        raise ConfigError(f"{origin}: 'sources' must be a non-empty mapping")
    sources: dict[str, dict[str, Any]] = {}
    for sname, scfg in raw_sources.items():
        where = f"{origin}: source {sname!r}"
        if not isinstance(scfg, dict):
            raise ConfigError(f"{where} must be a mapping")
        unknown = set(scfg) - _SOURCE_KEYS
        if unknown:
            raise ConfigError(f"{where}: unknown keys {sorted(unknown)}")
        if scfg.get("format", "parquet") == "jdbc":
            if not scfg.get("url") or not scfg.get("dbtable"):
                raise ConfigError(f"{where}: jdbc sources require 'url' and 'dbtable'")
            if "partition_column" in scfg and not {"lower_bound", "upper_bound"} <= set(scfg):
                raise ConfigError(
                    f"{where}: 'partition_column' requires 'lower_bound' and 'upper_bound'"
                )
        elif scfg.get("format") == "kafka":
            if not scfg.get("bootstrap_servers") or not scfg.get("topic"):
                raise ConfigError(
                    f"{where}: kafka sources require 'bootstrap_servers' and 'topic'"
                )
        elif not scfg.get("path"):
            raise ConfigError(f"{where}: 'path' is required")
        inc = scfg.get("incremental")
        if inc and not (isinstance(inc, dict) and {"column", "since"} <= set(inc)):
            raise ConfigError(f"{where}: 'incremental' requires 'column' and 'since'")
        sources[sname] = {**scfg, "options": _options(scfg, where)}

    # deferred: the compiler imports this package
    from configdrivendatapipeline_spark.compiler import OPS

    raw_steps = doc.get("steps") or []
    steps: list[StepConfig] = []
    seen_ids: set[str] = set(sources)
    for i, raw in enumerate(raw_steps):
        where = f"{origin}: steps[{i}]"
        if not isinstance(raw, dict):
            raise ConfigError(f"{where}: must be a mapping")
        unknown = set(raw) - _STEP_KEYS
        if unknown:
            raise ConfigError(f"{where}: unknown keys {sorted(unknown)}")
        sid = raw.get("id")
        op = raw.get("op")
        if not sid or not op:
            raise ConfigError(f"{where}: 'id' and 'op' are required")
        if sid in seen_ids:
            raise ConfigError(f"{where}: duplicate id {sid!r}")
        seen_ids.add(sid)
        if "input" in raw and "inputs" in raw:
            raise ConfigError(f"{where}: use 'input' or 'inputs', not both")
        inputs = tuple(raw.get("inputs") or ([raw["input"]] if raw.get("input") else ()))
        if not inputs:
            raise ConfigError(f"{where}: at least one input required")
        # Op-name check at validate time, not first-compile time.
        if str(op) not in OPS:
            raise ConfigError(
                f"{where}: unknown op {op!r} (known: {sorted(OPS)})"
            )
        steps.append(
            StepConfig(id=sid, op=str(op), inputs=inputs, params=dict(raw.get("params") or {}))
        )

    # Reference resolution + cycle check (Kahn topological sort).
    known_names = set(sources)
    by_id = {s.id: s for s in steps}
    for s in steps:
        for inp in s.inputs:
            if inp not in known_names and inp not in by_id:
                raise ConfigError(
                    f"{origin}: step {s.id!r}: input {inp!r} is not a source or step"
                )
    indeg = {
        s.id: sum(1 for i in s.inputs if i in by_id) for s in steps
    }
    ready = [s.id for s in steps if indeg[s.id] == 0]
    ordered: list[StepConfig] = []
    dependents: dict[str, list[str]] = {}
    for s in steps:
        for i in s.inputs:
            if i in by_id:
                dependents.setdefault(i, []).append(s.id)
    while ready:
        ready.sort()  # deterministic order among independent steps
        sid = ready.pop(0)
        ordered.append(by_id[sid])
        for dep in dependents.get(sid, ()):
            indeg[dep] -= 1
            if indeg[dep] == 0:
                ready.append(dep)
    if len(ordered) != len(steps):
        cyclic = sorted(set(by_id) - {s.id for s in ordered})
        raise ConfigError(f"{origin}: cycle detected among steps {cyclic}")

    sinks: list[dict[str, Any]] = []
    for i, raw in enumerate(doc.get("sinks") or []):
        where = f"{origin}: sinks[{i}]"
        if not isinstance(raw, dict):
            raise ConfigError(f"{where}: must be a mapping")
        unknown = set(raw) - _SINK_KEYS
        if unknown:
            raise ConfigError(f"{where}: unknown keys {sorted(unknown)}")
        if not raw.get("input"):
            raise ConfigError(f"{where}: 'input' is required")
        if raw["input"] not in seen_ids:
            raise ConfigError(f"{where}: input {raw['input']!r} is not a source or step")
        if raw.get("format") == "kafka":
            if not raw.get("bootstrap_servers") or not raw.get("topic"):
                raise ConfigError(
                    f"{where}: kafka sinks require 'bootstrap_servers' "
                    "and 'topic'"
                )
        elif not raw.get("path"):
            raise ConfigError(f"{where}: 'path' is required")
        for key in ("partition_by", "cluster_by", "sort_by"):
            column_list(raw.get(key), f"{where}: {key}")
        sinks.append({**raw, "options": _options(raw, where)})

    return PipelineConfig(
        name=name,
        sources=sources,
        steps=tuple(ordered),
        sinks=tuple(sinks),
        spark_conf=spark_conf,
    )
