"""Sources & sinks: fixture tables, parquet layout helpers, Kafka option builders."""

from prioritizing_event_processing_with_apache_kafka_spark.sources.compaction import (
    compact_parquet,
    directory_bytes,
)
from prioritizing_event_processing_with_apache_kafka_spark.sources.zorder import (
    write_zordered,
    zorder_key,
)
from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
    EVENT_TYPE_BUCKET,
    load_table,
    with_routing_key,
)

__all__ = [
    "EVENT_TYPE_BUCKET",
    "load_table",
    "with_routing_key",
    "write_zordered",
    "zorder_key",
    "compact_parquet",
    "directory_bytes",
]
