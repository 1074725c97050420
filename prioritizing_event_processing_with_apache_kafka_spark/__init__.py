"""PySpark-native event-prioritization analytics engine.

A from-scratch re-expression of the *bucket priority pattern*
(reference: build-on-aws/prioritizing-event-processing-with-apache-kafka,
a Kafka client extension — producer `Partitioner` + consumer
`ConsumerPartitionAssignor`) as an idiomatic PySpark library:

- ``plans``      — pure-Python bucket layout kernel + config validation
                   (bit-exact with the reference's sizing/rounding rules).
- ``operators``  — DataFrame-native routing, assignment and drain
                   scheduling, plus sketch and analytics operators.
- ``sources``    — fixture-table loaders and Kafka source/sink option
                   builders (per-bucket ``assign`` partition pruning).
- ``functions``  — reusable native Column expression builders.
- ``streaming``  — Structured Streaming orchestration: per-bucket
                   prioritized consumption, routed writes, windowed
                   per-bucket telemetry.

Everything on the record hot path is native Column expressions (JVM-side,
whole-stage-codegen friendly); Python runs only driver-side plan
construction and the Arrow-batched pandas UDFs of the extension
operators.
"""

from prioritizing_event_processing_with_apache_kafka_spark.plans.config import (
    BucketPriorityConfig,
    ConfigException,
    InvalidConfigurationException,
)
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import (
    BucketRange,
    compute_layout,
)

__all__ = [
    "BucketPriorityConfig",
    "BucketRange",
    "ConfigException",
    "InvalidConfigurationException",
    "compute_layout",
]

__version__ = "0.1.0"
