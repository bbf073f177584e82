"""Sources & sinks (SURVEY.md §2.1, S1-S10 / K1-K4)."""

from kp_data_pipelines_spark.sources.readers import (
    read_csv,
    read_json_doc,
    read_ndjson,
    read_table,
    read_table_stream,
)
from kp_data_pipelines_spark.sources.registry import SchemaRegistry
from kp_data_pipelines_spark.sources.resolver import latest_snapshot
from kp_data_pipelines_spark.sources.sinks import write_report_csv, write_table

__all__ = [
    "read_csv",
    "read_json_doc",
    "read_ndjson",
    "read_table",
    "read_table_stream",
    "SchemaRegistry",
    "latest_snapshot",
    "write_table",
    "write_report_csv",
]
