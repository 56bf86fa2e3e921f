"""Pipeline config layer: YAML → validated typed tree (engine IR #1).

Derives from the reference's declared intent (/root/reference/
README.md:2 — "dynamically handle various data sources through YAML
configurations, perform customisable validation and enrichment").
"""

from configdrivendatapipeline_spark.config.models import (
    PipelineConfig,
    StepConfig,
)
from configdrivendatapipeline_spark.config.loader import (
    ConfigError,
    load_pipeline,
    load_pipeline_str,
)

__all__ = [
    "PipelineConfig",
    "StepConfig",
    "ConfigError",
    "load_pipeline",
    "load_pipeline_str",
]
