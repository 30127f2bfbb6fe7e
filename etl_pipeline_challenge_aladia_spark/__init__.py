"""PySpark-native analytics engine with the capabilities of the reference
CDC ETL pipeline (CarlaOnate/etl-pipeline-challenge-aladia), re-expressed
Spark-first.

The reference (see SURVEY.md) is a MongoDB-change-stream -> RabbitMQ ->
per-message Apache Beam transform -> ClickHouse ReplacingMergeTree pipeline.
This engine expresses the same semantics as ONE declarative Spark plan:

    envelopes -> parse -> watched_ratio enrich -> flatten -> route ->
    warehouse (append) -> last-write-wins dedup view -> analytics SQL

plus the extended large-scale training-data operators (dedup, similarity
search, text analysis, multimodal plumbing) the project north star calls for.
"""

__version__ = "0.1.0"

from etl_pipeline_challenge_aladia_spark.pipeline import (  # noqa: E402
    envelopes_to_warehouse,
    warehouse_dedup_view,
)
from etl_pipeline_challenge_aladia_spark.session import get_spark  # noqa: E402
from etl_pipeline_challenge_aladia_spark.sinks import (  # noqa: E402
    append_warehouse,
    compact_warehouse,
    erase_warehouse_keys,
    merge_warehouse_batch,
    read_warehouse,
    read_warehouse_key,
    save_bucketed,
    table_changes,
    table_history,
    vacuum_warehouse,
)
from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (  # noqa: E402
    run_cdc_file_stream,
    run_cdc_kafka_stream,
)

__all__ = [
    "get_spark",
    "envelopes_to_warehouse",
    "warehouse_dedup_view",
    "append_warehouse",
    "read_warehouse",
    "read_warehouse_key",
    "merge_warehouse_batch",
    "compact_warehouse",
    "vacuum_warehouse",
    "table_history",
    "table_changes",
    "erase_warehouse_keys",
    "save_bucketed",
    "run_cdc_file_stream",
    "run_cdc_kafka_stream",
    "__version__",
]
