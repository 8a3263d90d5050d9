from .asof import asof_join, asof_join_bucketed, numeric_axis
from .attributes import Action, AttributesProcessor, apply_actions_to_map
from .rangejoin import interval_overlap_join, point_in_interval_join
from .rollup import percentile_rollup, rollup_cascade
from .filters import (
    AttributeCondition,
    MatchProperties,
    filterset_predicate,
    properties_predicate,
    include_exclude_keep,
)
from .sampler import ProbabilisticSampler
from .batch import batch_trigger_metrics, split_batches
from .span import (
    ResourceProcessor,
    ToAttributesRule,
    rename_from_attributes,
    rename_to_attributes,
)
from .exprfilter import compile_expr, filter_metrics_expr
from .metrics import (
    DATAPOINT_SCHEMA,
    datapoint_count,
    filter_metric_names,
    metric_count,
    resource_to_label,
    temporality_totals,
    validate_datapoints,
)

__all__ = [
    "asof_join",
    "asof_join_bucketed",
    "numeric_axis",
    "interval_overlap_join",
    "point_in_interval_join",
    "rollup_cascade",
    "percentile_rollup",
    "Action",
    "AttributesProcessor",
    "apply_actions_to_map",
    "AttributeCondition",
    "MatchProperties",
    "filterset_predicate",
    "properties_predicate",
    "include_exclude_keep",
    "ProbabilisticSampler",
    "batch_trigger_metrics",
    "split_batches",
    "ResourceProcessor",
    "ToAttributesRule",
    "rename_from_attributes",
    "rename_to_attributes",
    "compile_expr",
    "filter_metrics_expr",
    "DATAPOINT_SCHEMA",
    "datapoint_count",
    "filter_metric_names",
    "metric_count",
    "resource_to_label",
    "temporality_totals",
    "validate_datapoints",
]
