"""Consumer-side partition assignment — the prioritized-consumption plan.

Re-expression of the reference's ``ConsumerPartitionAssignor``
(``BucketPriorityAssignor.java:92-149``) as a pure driver-side planning
function: given topic metadata and consumer subscriptions, produce the
partition set each consumer owns. In the Spark engine this plan becomes
per-bucket Structured Streaming queries (``streaming/consume.py``) whose
Kafka ``assign`` option is exactly the bucket's partition list — Spark
never even reads other buckets' partitions (the engine's Kafka-source
partition pruning).

Semantics ported (cites into /root/reference):

- Consumers advertise the bucket they serve; only consumers subscribed
  to the configured topic do so (``BucketPriorityAssignor.java:78-89``).
- Buckets are processed in allocation-descending order; within each
  bucket, partitions round-robin over that bucket's consumers using one
  counter **shared across buckets** (``BucketPriorityAssignor.java:125-139``).
- A consumer naming an unknown bucket appears in the result with zero
  partitions (``BucketPriorityAssignor.java:104-124``). The reference
  would NPE on a *missing* (null) bucket advertisement — we deliberately
  treat that as unroutable-consumer instead (SURVEY.md §2.A P12 note).
- Buckets with no consumers leave their partitions unassigned
  (``BucketPriorityAssignorTest.java:294-341``).
- Consumers subscribed to *other* topics are assigned by the fallback
  assignor configured via ``config.fallback_assignor`` — ``"range"``
  (default, Kafka's ``RangeAssignor``, ``BucketPriorityConfig.java:56``)
  or ``"roundrobin"`` (Kafka's ``RoundRobinAssignor``); a consumer on
  both the bucket topic and others is treated as bucket-only
  (``BucketPriorityAssignor.java:103-123``).
- The bucket advertisement travels byte-level exactly like the
  reference: UTF-8 encoded into the rebalance ``userData`` buffer
  consumer-side (``BucketPriorityAssignor.java:78-89``) and decoded
  leader-side (``BucketPriorityAssignor.java:108-110``). One deliberate
  divergence: the reference decodes without a null check and would NPE
  on a bucket-topic consumer advertising no userData
  (``BucketPriorityAssignor.java:110``); we treat that consumer as
  advertising no bucket — present in the result with zero partitions.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import cycle

from prioritizing_event_processing_with_apache_kafka_spark.plans.config import (
    BucketPriorityConfig,
)
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout

__all__ = [
    "Subscription",
    "assign",
    "range_assign",
    "roundrobin_assign",
    "encode_user_data",
    "decode_user_data",
    "FALLBACK_ASSIGNORS",
]


def encode_user_data(topics, config: BucketPriorityConfig) -> bytes | None:
    """Consumer-side ``subscriptionUserData``: UTF-8 bytes of the
    configured bucket name, iff this consumer subscribes to the bucket
    topic; ``None`` otherwise (``BucketPriorityAssignor.java:78-89``)."""
    for topic in topics:
        if topic == config.topic:
            return config.bucket.encode("utf-8")
    return None


def decode_user_data(user_data: bytes | None) -> str | None:
    """Leader-side decode of the bucket advertisement
    (``BucketPriorityAssignor.java:108-110``).

    The reference calls ``charset.decode(userData)`` with no null check
    and NPEs when a bucket-topic consumer advertises nothing (e.g. it
    was configured with a different assignor). Documented divergence:
    ``None`` in → ``None`` out, and the caller gives that consumer zero
    partitions instead of failing the whole rebalance. The same
    containment applies to *malformed* bytes: one consumer advertising
    non-UTF-8 userData must not crash every consumer's assignment, so
    undecodable bytes also resolve to ``None`` (an unknown bucket →
    zero partitions for that consumer only)."""
    if user_data is None:
        return None
    try:
        return user_data.decode("utf-8")
    except UnicodeDecodeError:
        return None


@dataclass(frozen=True)
class Subscription:
    """One consumer's rebalance-time advertisement.

    ``bucket`` may be given directly (convenience) or as the raw
    ``user_data`` bytes exactly as the rebalance protocol carries them;
    ``effective_bucket`` resolves either form."""

    consumer: str
    topics: tuple[str, ...]
    bucket: str | None = None
    user_data: bytes | None = None

    def __init__(
        self,
        consumer: str,
        topics,
        bucket: str | None = None,
        user_data: bytes | None = None,
    ) -> None:
        object.__setattr__(self, "consumer", consumer)
        object.__setattr__(self, "topics", tuple(topics))
        object.__setattr__(self, "bucket", bucket)
        object.__setattr__(self, "user_data", user_data)

    @property
    def effective_bucket(self) -> str | None:
        if self.bucket is not None:
            return self.bucket
        return decode_user_data(self.user_data)


def range_assign(
    partitions_per_topic: dict[str, int], subscriptions: list[Subscription]
) -> dict[str, list[tuple[str, int]]]:
    """Kafka ``RangeAssignor`` semantics (the default fallback): per
    topic, consumers sorted by id get contiguous chunks of
    ``ceil``/``floor`` size, earlier consumers absorbing the remainder."""
    out: dict[str, list[tuple[str, int]]] = {s.consumer: [] for s in subscriptions}
    for topic, num_partitions in sorted(partitions_per_topic.items()):
        members = sorted(s.consumer for s in subscriptions if topic in s.topics)
        if not members:
            continue
        quota, extra = divmod(num_partitions, len(members))
        start = 0
        for i, consumer in enumerate(members):
            take = quota + (1 if i < extra else 0)
            out[consumer].extend((topic, p) for p in range(start, start + take))
            start += take
    return out


def roundrobin_assign(
    partitions_per_topic: dict[str, int], subscriptions: list[Subscription]
) -> dict[str, list[tuple[str, int]]]:
    """Kafka ``RoundRobinAssignor`` semantics: all (topic, partition)
    pairs sorted, dealt one at a time to the next consumer (circular,
    sorted by id) that is subscribed to that partition's topic."""
    out: dict[str, list[tuple[str, int]]] = {s.consumer: [] for s in subscriptions}
    subscribed = {s.consumer: set(s.topics) for s in subscriptions}
    members = sorted(out)
    if not members:
        return out
    ring = cycle(members)
    current = next(ring)
    for topic, num_partitions in sorted(partitions_per_topic.items()):
        # Kafka's RoundRobinAssignor only deals partitions of topics
        # with at least one subscriber — a subscriber-less topic must
        # not advance the ring pointer (it would shift every subsequent
        # assignment off the reference sequence).
        if not any(topic in topics for topics in subscribed.values()):
            continue
        for p in range(num_partitions):
            while topic not in subscribed[current]:
                current = next(ring)
            out[current].append((topic, p))
            current = next(ring)
    return out


FALLBACK_ASSIGNORS = {
    "range": range_assign,
    "roundrobin": roundrobin_assign,
}


def assign(
    partitions_per_topic: dict[str, int],
    subscriptions: list[Subscription],
    config: BucketPriorityConfig,
) -> dict[str, list[tuple[str, int]]]:
    """Full group assignment: bucket-priority on the configured topic,
    fallback range assignment on every other subscribed topic."""
    bucket_subs = [s for s in subscriptions if config.topic in s.topics]
    other_subs = [s for s in subscriptions if config.topic not in s.topics]

    assignments: dict[str, list[tuple[str, int]]] = {
        s.consumer: [] for s in subscriptions
    }

    if bucket_subs:
        layout = compute_layout(
            partitions_per_topic[config.topic],
            config.buckets_with_allocation(),
            topic=config.topic,
        )
        consumers_per_bucket: dict[str, list[str]] = {r.bucket: [] for r in layout}
        # Iterate in CALLER order, as the reference iterates the
        # subscription map it is handed (BucketPriorityAssignor.java:
        # 104-124) — sorting here would silently reassign partition
        # ownership whenever consumer ids arrive non-alphabetically,
        # breaking A/B parity with a reference deployment. Callers
        # wanting id-deterministic output sort their subscription list.
        for s in bucket_subs:
            # unknown or missing bucket ⇒ consumer stays in the result
            # with zero partitions (no NPE-parity, see module docstring)
            if s.effective_bucket in consumers_per_bucket:
                consumers_per_bucket[s.effective_bucket].append(s.consumer)
        counter = -1
        for r in layout:  # allocation-descending order
            members = consumers_per_bucket[r.bucket]
            if not members:
                continue  # bucket partitions left unassigned
            for partition in r.partitions:
                counter += 1
                owner = members[counter % len(members)]
                assignments[owner].append((config.topic, partition))

    other_topics = {
        t: n for t, n in partitions_per_topic.items() if t != config.topic
    }
    if other_subs and other_topics:
        fallback = FALLBACK_ASSIGNORS[config.fallback_assignor]
        for consumer, pairs in fallback(other_topics, other_subs).items():
            assignments[consumer].extend(pairs)
    return assignments
