"""DataFrame-native operators: routing, assignment, drain scheduling,
sketches and the other analytics operators."""

from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
    layout_table,
    route,
    routed_distribution,
)

__all__ = ["layout_table", "route", "routed_distribution"]
