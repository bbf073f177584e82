"""DataFrame-level operators (SURVEY.md §2.2-§2.8 + north-star extensions)."""

from kp_data_pipelines_spark.operators.aggregates import (
    collect_set_joined,
    control_sum,
    pivot_sum,
)
from kp_data_pipelines_spark.operators.dedup import (
    dedup_keep_first,
    row_fingerprint,
    with_duplicate_count,
)
from kp_data_pipelines_spark.operators.joins import (
    anti_join,
    containment_join,
    lookup_join,
    merge_indicator,
    semi_join,
)
from kp_data_pipelines_spark.operators.reconcile import reconcile

__all__ = [
    "lookup_join",
    "merge_indicator",
    "semi_join",
    "anti_join",
    "containment_join",
    "dedup_keep_first",
    "with_duplicate_count",
    "row_fingerprint",
    "collect_set_joined",
    "pivot_sum",
    "control_sum",
    "reconcile",
]
