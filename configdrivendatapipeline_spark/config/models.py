"""Typed config tree (engine IR #1, SURVEY.md §3.1 step 1-2).

Plain dataclasses (no pydantic dependency): the loader performs the
validation pydantic would, with pipeline-specific checks (DAG shape,
reference resolution) that a type system alone can't express.
Sources and sinks stay the validated YAML mappings: ``read_source``
and ``write_sink`` read them as they are, so the keys and defaults
live in one place each (the loader's allowlists, the io layer).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class StepConfig:
    """One transform node: ``steps: [{id, op, input|inputs, params}]``."""

    id: str
    op: str
    inputs: tuple[str, ...]
    params: dict[str, Any] = field(default_factory=dict)


@dataclass(frozen=True)
class PipelineConfig:
    """The whole validated pipeline document."""

    name: str
    #: ``sources: {name: {format, path, ...}}``, one validated mapping each
    sources: dict[str, dict[str, Any]]
    steps: tuple[StepConfig, ...]  # already topologically ordered
    #: ``sinks: [{input, format, path, mode, ...}]``
    sinks: tuple[dict[str, Any], ...]
    spark_conf: dict[str, str] = field(default_factory=dict)
