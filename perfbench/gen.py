"""Seeded input generators for the benchmark.

Everything the package sees is produced here from a seed: the same seed
gives the same arrays and byte-identical parquet files. The keyed-event
generator plants exact, known counts of every ``route_status`` so the
routing output can be checked against closed forms:

- routed: keys of the three partition-holding buckets, in four key
  spellings (``B-id``, ``B-gN-id``, `` B -id`` and bare ``B``);
- starved: keys of ``Bronze``, whose 5 % share rounds to a partition the
  overshooting layout then takes away (50/30/15/5 over 10 partitions
  rounds to 5+3+2+1 = 11);
- unroutable: an unknown bucket (``Silver``) and NULL keys;
- bypassed: records of a foreign topic.

Bucket skew makes Platinum the minority and Standard the bulk.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "orders"
FOREIGN_TOPIC = "audit"
NUM_PARTITIONS = 10
BUCKETS = ("Platinum", "Gold", "Standard", "Bronze")
ALLOCATION = (50, 30, 15, 5)
STARVED_BUCKET = "Bronze"

# Category codes and their share of a keyed-event batch. Routed events
# split Platinum 8 % / Gold 22 % / Standard 70 % of the routed share.
ROUTED_SHARE = {"Platinum": 0.08 * 0.92, "Gold": 0.22 * 0.92}
PLANTED_SHARE = {"starved": 0.02, "unknown": 0.02, "null_key": 0.01, "foreign": 0.03}
CATEGORIES = ("Platinum", "Gold", "Standard", "starved", "unknown", "null_key", "foreign")
STATUS_OF = {
    "Platinum": "routed",
    "Gold": "routed",
    "Standard": "routed",
    "starved": "starved",
    "unknown": "unroutable",
    "null_key": "unroutable",
    "foreign": "bypassed",
}
PAYLOAD_CHARS = 84
_ALPHABET = np.frombuffer(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/", dtype=np.uint8
)

KEYED_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("topic", pa.string()),
        ("key", pa.string()),
        ("value", pa.string()),
    ]
)
KEYED_DDL = "event_id long, topic string, key string, value string"


def bench_config():
    from prioritizing_event_processing_with_apache_kafka_spark import BucketPriorityConfig

    return BucketPriorityConfig(topic=TOPIC, buckets=list(BUCKETS), allocation=list(ALLOCATION))


def category_counts(n: int) -> dict[str, int]:
    """Exact number of events per category in a batch of ``n``."""
    counts = {c: int(n * s) for c, s in {**ROUTED_SHARE, **PLANTED_SHARE}.items()}
    counts["Standard"] = n - sum(counts.values())
    return {c: counts[c] for c in CATEGORIES}


def status_counts(n: int) -> dict[str, int]:
    out = {"routed": 0, "starved": 0, "unroutable": 0, "bypassed": 0}
    for cat, k in category_counts(n).items():
        out[STATUS_OF[cat]] += k
    return out


def _payload(ids: np.ndarray, rng: np.random.Generator) -> pa.Array:
    """``<12-digit id>|<84 random base64 chars>``: opaque, unique, and
    carrying the event id so sink output can be joined back to inputs."""
    n = len(ids)
    buf = np.empty((n, 13 + PAYLOAD_CHARS), dtype=np.uint8)
    for i in range(12):
        buf[:, i] = (ids // 10 ** (11 - i)) % 10 + 48
    buf[:, 12] = ord("|")
    buf[:, 13:] = _ALPHABET[rng.integers(0, 64, size=(n, PAYLOAD_CHARS))]
    flat = pa.array(buf.reshape(-1).view(f"S{13 + PAYLOAD_CHARS}"), type=pa.binary())
    return flat.cast(pa.string())


def keyed_events(seed: int, n: int, first_id: int = 0) -> tuple[pa.Table, np.ndarray]:
    """``n`` keyed events with ids ``first_id ..``; returns the table and
    the per-event category index into ``CATEGORIES``."""
    rng = np.random.default_rng([seed, first_id])
    counts = category_counts(n)
    cats = np.repeat(np.arange(len(CATEGORIES)), [counts[c] for c in CATEGORIES])
    cats = rng.permutation(cats)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    spelling = rng.integers(0, 10, size=n)
    group = rng.integers(0, 100, size=n)
    foreign_bucket = rng.integers(0, 3, size=n)
    keys: list[str | None] = []
    for eid, cat, sp, grp, fb in zip(
        ids.tolist(), cats.tolist(), spelling.tolist(), group.tolist(), foreign_bucket.tolist()
    ):
        name = CATEGORIES[cat]
        if name == "null_key":
            keys.append(None)
            continue
        bucket = {
            "starved": STARVED_BUCKET,
            "unknown": "Silver",
            "foreign": BUCKETS[fb],
        }.get(name, name)
        if sp < 7:
            keys.append(f"{bucket}-{eid}")
        elif sp == 7:
            keys.append(f"{bucket}-g{grp:02d}-{eid}")
        elif sp == 8:
            keys.append(f" {bucket} -{eid}")
        else:
            keys.append(bucket)
    foreign = cats == CATEGORIES.index("foreign")
    topics = np.where(foreign, FOREIGN_TOPIC, TOPIC)
    table = pa.table(
        {
            "event_id": pa.array(ids),
            "topic": pa.array(topics.tolist(), type=pa.string()),
            "key": pa.array(keys, type=pa.string()),
            "value": _payload(ids, rng),
        },
        schema=KEYED_SCHEMA,
    )
    return table, cats


def exact_partitions(cats: np.ndarray, layout) -> np.ndarray:
    """Closed form of ``route(mode='exact', order_col='event_id')`` for
    events in id order: the r-th event of a bucket lands on
    ``lo + r % size``. Non-routed events get -1."""
    out = np.full(len(cats), -1, dtype=np.int64)
    ranges = {r.bucket: r for r in layout}
    for b in ("Platinum", "Gold", "Standard"):
        idx = np.flatnonzero(cats == CATEGORIES.index(b))
        r = ranges[b]
        out[idx] = r.partition_lo + np.arange(len(idx)) % r.size
    return out


def write_parquet(table: pa.Table, path: str, files: int = 1) -> list[str]:
    """Write ``table`` as ``files`` deterministic parquet files in ``path``."""
    import os

    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // files)
    out = []
    for i in range(files):
        part = table.slice(i * per, per)
        name = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(part, name, compression="snappy")
        out.append(name)
    return out


# ---------------------------------------------------------------------------
# Fixture-shaped `events` table for the analytics workload
# ---------------------------------------------------------------------------

EVENT_TYPES = ("error", "purchase", "click", "view", "signup")
EVENT_TYPE_P = (0.05, 0.20, 0.30, 0.30, 0.15)


def events_table(seed: int, n: int, users: int = 2000) -> pa.Table:
    """The fixture ``events`` schema (event_id, ts, user_id, event_type,
    value, props). ``error`` maps to Platinum, so Platinum is again the
    minority bucket."""
    rng = np.random.default_rng([seed, 7])
    gaps = rng.integers(1, 4_000_000, size=n)  # microseconds
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = base + np.cumsum(gaps)
    types = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
    values = np.round(rng.uniform(0.5, 50.0, size=n), 2)
    props = rng.integers(0, 100, size=n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, size=n).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[t] for t in types.tolist()], type=pa.string()),
            "value": pa.array(values, type=pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in props.tolist()], type=pa.string()),
        }
    )
