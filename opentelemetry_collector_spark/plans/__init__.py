from .pipeline import (
    TRANSCRIPT_PATTERN,
    PipelineConfig,
    RouteRule,
    parse_stage,
    enrich_stage,
    route_stage,
    run_pipeline,
)

__all__ = [
    "TRANSCRIPT_PATTERN",
    "PipelineConfig",
    "RouteRule",
    "parse_stage",
    "enrich_stage",
    "route_stage",
    "run_pipeline",
]
