"""The events loader must accept every ``ts`` physical encoding the
harness has shipped: TIMESTAMP(NANOS) (read as raw long via
``nanosAsLong``), ``timestamp[us]`` (no tz → ``TimestampNTZType``), and
tz-aware ``timestamp[us, tz=UTC]`` (→ ``TimestampType``).

Round 3's driver run failed 35/50 queries because the loader assumed
the nanos encoding unconditionally; ``normalize_event_ts`` now
dispatches on the scanned dtype. This test writes the same rows in all
three encodings and asserts the loaded values are identical.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
    load_table,
    normalize_event_ts,
)

ROWS = [
    (1, datetime.datetime(2024, 1, 1, 0, 9, 58, 778549), 10, "view", 1.5, "{}"),
    (2, datetime.datetime(2024, 1, 2, 13, 0, 0, 1), 11, "purchase", 2.5, "{}"),
    (3, datetime.datetime(2024, 6, 30, 23, 59, 59, 999999), 12, "error", 3.5, "{}"),
]
COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _write(dirpath, ts_type):
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in ROWS]).cast(ts_type),
            "user_id": pa.array([r[2] for r in ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in ROWS], pa.string()),
            "value": pa.array([r[4] for r in ROWS], pa.float64()),
            "props": pa.array([r[5] for r in ROWS], pa.string()),
        }
    )
    pq.write_table(table, f"{dirpath}/events.parquet")
    return str(dirpath)


ENCODINGS = {
    "nanos": pa.timestamp("ns"),
    "micros_ntz": pa.timestamp("us"),
    "micros_utc": pa.timestamp("us", tz="UTC"),
}


@pytest.mark.parametrize("encoding", sorted(ENCODINGS))
def test_load_table_normalizes_every_encoding(spark, tmp_path, encoding):
    d = tmp_path / encoding
    d.mkdir()
    sf_dir = _write(d, ENCODINGS[encoding])
    df = load_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = sorted((r.event_id, r.ts) for r in df.select("event_id", "ts").collect())
    assert got == [(r[0], r[1]) for r in ROWS]


def test_normalize_event_ts_passthrough_non_ts(spark):
    # A frame whose ts is already TimestampType comes back unchanged
    # (same plan object, no extra projection).
    from pyspark.sql import functions as F

    df = spark.range(3).withColumn("ts", F.timestamp_micros(F.col("id") * 1_000_000))
    assert normalize_event_ts(df) is df


def test_fixture_events_load_and_agg(spark, sf_dir):
    # The real fixture (whatever encoding the harness shipped) loads and
    # supports event-time arithmetic end-to-end.
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "events")
    out = df.groupBy(F.date_trunc("hour", "ts").alias("h")).count()
    assert out.count() > 0


class TestSmokeGate:
    def test_healthy_fixture_dir_is_clean(self, spark, sf_dir):
        from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
            smoke_check_tables,
        )

        assert smoke_check_tables(spark, sf_dir) == []

    def test_broken_table_yields_one_line_diagnosis(self, spark, tmp_path):
        from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
            TABLE_NAMES,
            smoke_check_tables,
        )

        # events present but corrupt; everything else missing.
        (tmp_path / "events.parquet").write_bytes(b"not parquet")
        problems = smoke_check_tables(spark, str(tmp_path))
        assert len(problems) == len(TABLE_NAMES)
        ev = [p for p in problems if p.startswith("events:")]
        assert len(ev) == 1 and "\n" not in ev[0]
        assert sum(1 for p in problems if "missing" in p) == len(TABLE_NAMES) - 1
