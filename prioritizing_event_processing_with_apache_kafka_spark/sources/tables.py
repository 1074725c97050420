"""Fixture-table loaders for the driver's synthetic TPC-H-ish corpus.

Tables (one parquet file per table under each scale-factor directory):
``region nation customer supplier part orders lineitem events`` — see
TESTDATA.md.

``with_routing_key`` applies the corpus rule from /root/repo/FIXTURES.md
§6: each event gets a routing key ``<bucket>-<event_id>`` with the fixed
event_type→bucket map (error→Platinum, purchase→Gold, rest→Standard),
so bucket-priority queries and relational queries share one corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

__all__ = [
    "TABLE_NAMES",
    "EVENT_TYPE_BUCKET",
    "load_table",
    "normalize_event_ts",
    "smoke_check_tables",
    "spread",
    "with_routing_key",
]

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
)

# FIXTURES.md §6: priority class per event type.
EVENT_TYPE_BUCKET = {"error": "Platinum", "purchase": "Gold"}
DEFAULT_BUCKET = "Standard"


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize ``events.ts`` to a tz-aware ``TimestampType`` in UTC
    micros, whatever the parquet file physically stores.

    The harness has shipped three encodings across rounds, so dispatch
    on the *scanned* dtype instead of assuming one:

    - ``LongType`` — TIMESTAMP(NANOS) surfaced as raw nanos via
      ``spark.sql.legacy.parquet.nanosAsLong``; truncate to micros with
      exact integer division (what DuckDB's reader does oracle-side).
    - ``TimestampNTZType`` — ``timestamp[us]`` (no tz); reinterpret the
      wall-clock as UTC. Under the UTC session timezone every entry
      point pins, the cast is value-identical to DuckDB's naive read.
    - ``TimestampType`` — already tz-aware micros; pass through.
    """
    dtype = df.schema[col].dataType
    if isinstance(dtype, LongType):
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if isinstance(dtype, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; ``events`` gets ``ts`` normalized to
    tz-aware micros via :func:`normalize_event_ts` (dtype-dispatched —
    see its docstring for the three physical encodings handled).

    Oracle parity for date_trunc/window over NTZ data requires the UTC
    session timezone; every session builder in this repo pins it, and
    we re-pin here (runtime-settable) in case the caller's session
    (e.g. the driver's) didn't.
    """
    if name == "events":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
        return normalize_event_ts(df)
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


def smoke_check_tables(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> list[str]:
    """Fail-fast environment gate: load every fixture table present
    under ``sf_dir`` and force one row through its full load transform.

    Returns a list of one-line diagnoses (empty = healthy). Round 3's
    bench/correctness runs died in 35 per-query stacktraces that all
    traced to one loader bug; entry points call this first so an
    environment/data mismatch costs exactly one clear error instead.
    """
    import os

    problems: list[str] = []
    for name in names:
        if not os.path.exists(f"{sf_dir.rstrip('/')}/{name}.parquet"):
            problems.append(f"{name}: missing {sf_dir.rstrip('/')}/{name}.parquet")
            continue
        try:
            load_table(spark, sf_dir, name).limit(1).collect()
        except Exception as exc:  # noqa: BLE001 — diagnosis, not control flow
            first = str(exc).strip().splitlines()[0] if str(exc).strip() else repr(exc)
            problems.append(f"{name}: {type(exc).__name__}: {first}")
    return problems


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan a narrow scan out to the cluster's parallelism before
    per-row-expensive expressions (higher-order lambdas, shingling,
    per-pair folds).

    Parquet splits at row-group boundaries, so a small input (or one
    written with large row groups) can scan as a single task and
    serialize all downstream per-row work onto one core. At real scale
    the scan yields thousands of splits and this is a **no-op** — only
    when the scan's partition count is below the cluster's parallelism
    (where the corpus is by definition small and the shuffle trivially
    cheap) does it inject a round-robin repartition.

    An explicit ``min_partitions`` is honored verbatim (``0``/``1``
    disables the fan-out rather than silently falling back to the
    cluster default). Both probes (``sparkContext.defaultParallelism``
    and ``df.rdd.getNumPartitions``) are classic-mode APIs with no
    Spark Connect equivalent: under Connect an explicit target
    repartitions unconditionally (the repartition this function exists
    to inject — AQE coalesces it away when the input is already wide),
    and with no explicit target the function is a no-op rather than
    guessing the cluster's parallelism.
    """
    if min_partitions is None:
        try:
            target = df.sparkSession.sparkContext.defaultParallelism
        except Exception:  # Spark Connect: no sparkContext on the client
            return df
    else:
        target = min_partitions
    if target <= 1:
        return df
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # Spark Connect: no RDD bridge on the client
        return df.repartition(target)
    if current < target:
        return df.repartition(target)
    return df


def bucket_for_event_type(event_type_col) -> Column:
    """Native CASE expression for the event_type→bucket map."""
    col = F.col(event_type_col) if isinstance(event_type_col, str) else event_type_col
    expr = F.lit(DEFAULT_BUCKET)
    for event_type, bucket in EVENT_TYPE_BUCKET.items():
        expr = F.when(col == event_type, F.lit(bucket)).otherwise(expr)
    return expr


def with_routing_key(events: DataFrame) -> DataFrame:
    """events + ``key`` = ``<bucket>-<event_id>`` (FIXTURES.md §6)."""
    return events.withColumn(
        "key",
        F.concat_ws("-", bucket_for_event_type("event_type"), F.col("event_id").cast("string")),
    )
