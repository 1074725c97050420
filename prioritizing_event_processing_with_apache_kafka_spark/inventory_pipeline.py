"""Query inventory, part 2: event and relational analytics queries.

Sampling, profiling, streaming rollups and keyed time-series features —
each over the fixture tables, with DuckDB oracles wherever the operator
is SQL-expressible.
"""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
    scoped_persist,
)

from prioritizing_event_processing_with_apache_kafka_spark.operators import (
    timeseries as TS,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators import (
    sampling as _SK,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.ordered import (
    global_ordered_scan,
)
from prioritizing_event_processing_with_apache_kafka_spark.inventory import (
    SQL_HEAVY_HITTER_USERS,
)
from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
    bucket_for_event_type,
    load_table,
)

__all__ = ["PIPELINE_QUERIES", "PIPELINE_ORACLES"]


# ---------------------------------------------------------------------------
# Sampling, profiling
# ---------------------------------------------------------------------------


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep all errors, half the
    purchases, 10% of the rest — membership decided by a pure-arithmetic
    key hash (``operators/sampling.py``), so the selected set is
    identical across engines, partitionings, and runs (DuckDB replays
    the exact expression), and the sample is a pushdown-friendly filter
    with no RNG state and no shuffle."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
        hash_coin,
        stratified_hash_sample,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    sampled = stratified_hash_sample(
        events,
        key="event_id",
        strata_col="event_type",
        fractions={"error": 1.0, "purchase": 0.5},
        default_fraction=0.1,
    )
    return sampled.withColumn("coin", hash_coin("event_id"))


def _sql_stratified_sample() -> str:
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
        hash_coin_sql,
    )

    coin = hash_coin_sql("event_id")
    return f"""
SELECT event_id, event_type, user_id, {coin} AS coin
FROM events
WHERE {coin} < CASE event_type WHEN 'error' THEN 1.0
                               WHEN 'purchase' THEN 0.5
                               ELSE 0.1 END
"""


SQL_STRATIFIED_SAMPLE = _sql_stratified_sample()


def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed reservoir: exactly 50 events per event_type, the 50
    smallest deterministic hash coins — count-derived broadcast
    threshold prefilter, exact rank only on the ~8·n survivors (the
    stratum never collapses into one task)."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
        reservoir_hash_sample,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    return reservoir_hash_sample(
        events, key="event_id", strata_col="event_type", n=50
    )


def _sql_reservoir_sample() -> str:
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
        hash_coin_sql,
    )

    coin = hash_coin_sql("event_id")
    return f"""
SELECT event_type, event_id, user_id FROM (
  SELECT event_type, event_id, user_id,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY {coin}, event_id) AS rn
  FROM events
) WHERE rn <= 50
"""


SQL_RESERVOIR_SAMPLE = _sql_reservoir_sample()


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan data profiling: per-column rows/nulls/distincts/
    min/max for the customer table in ONE pass (wide agg + stack
    unpivot — at 100 TB, one scan instead of one per column). The
    oracle profiles int/string columns only: float and timestamp
    min/max stringification is engine-specific formatting, not a value
    difference (covered Spark-side in tests/test_asof_and_profile.py)."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
        profile,
    )

    cust = load_table(spark, sf_dir, "customer")
    return profile(cust, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"])


def _sql_profile_col(c: str) -> str:
    return f"""
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_str,
       CAST(MAX({c}) AS VARCHAR) AS max_str
FROM customer
"""


SQL_TABLE_PROFILE = " UNION ALL ".join(
    _sql_profile_col(c)
    for c in ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
)


# ---------------------------------------------------------------------------
# Keyed time-series features (operators/timeseries.py)
# ---------------------------------------------------------------------------


def q_user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event value over the trailing 10 events —
    the per-key smoothed-load feature (α = 1/2, exact binary weights,
    bit-reproducible fold)."""
    events = load_table(spark, sf_dir, "events")
    return TS.windowed_ewma(
        events, partition_col="user_id", order_cols=("ts", "event_id"),
        value_col="value", window=10,
    ).select("event_id", "user_id", "value", "ewma")


SQL_USER_VALUE_EWMA = """
WITH fr AS (
  SELECT event_id, user_id, value,
         list(CAST(value AS DOUBLE)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
         ) AS fl
  FROM events
)
SELECT event_id, user_id, value,
       ROUND(
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(generate_series(1, len(fl)),
                          i -> fl[i] * pow(0.5, len(fl) - i))),
           (a, v) -> a + v)
         /
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(generate_series(1, len(fl)),
                          i -> pow(0.5, len(fl) - i))),
           (a, v) -> a + v),
       6) AS ewma
FROM fr
"""


def q_bucket_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event volume per priority bucket with a trailing-24-hour
    z-score: the ops-dashboard anomaly flag over the routed stream.
    Exact integer window sums → deterministic z, full value oracle."""
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.withColumn("bucket", bucket_for_event_type("event_type"))
        .groupBy("bucket", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return TS.rolling_zscore(
        hourly, partition_col="bucket", order_col="hour",
        value_col="n_events", window=24, z_threshold=2.0,
    )


SQL_BUCKET_HOURLY_ANOMALY = """
WITH hourly AS (
  SELECT CASE WHEN event_type = 'error' THEN 'Platinum'
              WHEN event_type = 'purchase' THEN 'Gold'
              ELSE 'Standard' END AS bucket,
         date_trunc('hour', ts) AS hour,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
), sums AS (
  SELECT bucket, hour, n_events,
         COUNT(*)  OVER w AS n,
         SUM(n_events) OVER w AS s1,
         SUM(n_events * n_events) OVER w AS s2
  FROM hourly
  WINDOW w AS (PARTITION BY bucket ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
), scored AS (
  SELECT bucket, hour, n_events,
         CASE WHEN n = 24 AND (n * s2 - s1 * s1) > 0
              THEN ROUND((n_events - CAST(s1 AS DOUBLE) / n)
                         / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * n)), 6)
         END AS zscore
  FROM sums
)
SELECT bucket, hour, n_events, zscore,
       COALESCE(ABS(zscore) >= 2.0, FALSE) AS anomalous
FROM scored
"""


def q_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly salted fact⋈dim join (orders ⋈ customer) aggregated
    to market segments — the manual skew tool for the one-key-too-hot
    case AQE's runtime splitting can't reach. Any salt assignment
    produces the identical join result, so the oracle is the plain
    join."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.skew import (
        salted_join,
    )

    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    customer = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "custkey"
    )
    joined = salted_join(orders, customer, "custkey", salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("segment_revenue"),
    )


SQL_SALTED_SEGMENT_REVENUE = """
SELECT c.c_mktsegment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS segment_revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


def q_scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension merge (operators/merge.py): seed a history table
    from ``customer`` (every row open since 2024-01-01), then merge a
    deterministic update batch — ``c_custkey % 5 == 0`` changes
    segment (close + open), ``% 7 == 0`` (and not %5) re-delivers the
    identical segment (idempotent no-op), ``% 97 == 0`` arrives as a
    brand-new key. Validity bounds are ISO strings so the oracle
    compares exactly. The update batch is broadcast — the open slice
    of a 100 TB dimension is never shuffled. The oracle rebuilds the
    expected history with two joins, so a wrong close/open/no-op
    decision or a dropped closed row hash-mismatches."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.merge import (
        scd2_merge,
    )

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    history = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changed = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit("-R2")).alias("c_mktsegment"),
    )
    noop = cust.filter(
        (F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") % 5 != 0)
    ).select("c_custkey", "c_mktsegment")
    # Brand-new keys in the negative key space — disjoint from real
    # custkeys at any scale/replica factor.
    fresh = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (-(F.col("c_custkey") + 1)).alias("c_custkey"),
        F.lit("NEWSEG").alias("c_mktsegment"),
    )
    updates = (
        changed.unionByName(noop)
        .unionByName(fresh)
        .withColumn("effective", F.lit("2024-06-01"))
    )
    return scd2_merge(
        history,
        updates,
        key_cols=["c_custkey"],
        tracked_cols=["c_mktsegment"],
        effective_col="effective",
        broadcast_updates=True,
    )


SQL_SCD2_CUSTOMER_SEGMENTS = """
WITH upd AS (
  SELECT c_custkey, c_mktsegment || '-R2' AS seg FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE c_custkey % 7 = 0 AND c_custkey % 5 <> 0
  UNION ALL
  SELECT -(c_custkey + 1), 'NEWSEG' FROM customer WHERE c_custkey % 97 = 0
)
SELECT c.c_custkey,
       c.c_mktsegment,
       '2024-01-01' AS valid_from,
       CASE WHEN u.seg IS NOT NULL AND u.seg <> c.c_mktsegment
            THEN '2024-06-01' END AS valid_to,
       (u.seg IS NULL OR u.seg = c.c_mktsegment) AS is_current
FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
UNION ALL
SELECT u.c_custkey, u.seg, '2024-06-01', NULL, TRUE
FROM upd u LEFT JOIN customer c ON u.c_custkey = c.c_custkey
WHERE c.c_custkey IS NULL OR u.seg <> c.c_mktsegment
"""


def q_events_tier_at_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment against an SCD2 history
    (operators/merge.py::scd2_point_in_time): build a per-user tier
    history by chaining TWO ``scd2_merge`` batches in-plan (everyone
    'standard' from Jan 1; ``user_id % 3 == 0`` promoted to 'gold'
    effective Jan 11; ``user_id % 6 == 0`` promoted again to
    'platinum' effective Jan 21), then join every event to the tier
    valid AT ITS TIMESTAMP and roll up count + exact value micros per
    (tier, event_type). The oracle derives each event's tier directly
    with a CASE over (ts, user_id) — a fully independent replay, so a
    wrong close/open decision, interval boundary (>= from, < to), or
    join-match bug hash-mismatches. Value sums use
    ``floor(value * 1e6)`` longs: exact and identical across engines
    (double CAST-to-int rounds differently in Spark vs DuckDB;
    ``floor`` does not)."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.merge import (
        scd2_merge,
        scd2_point_in_time,
    )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    # The dimension side is tiny (distinct users); persist the seed and
    # the finished history so the chained merges don't replicate their
    # subtrees into every downstream branch — the fact-side plan is
    # then one broadcast hash join over a single events scan.
    users = scoped_persist(events.select("user_id").distinct())
    history = users.select(
        "user_id",
        F.lit("standard").alias("tier"),
        F.to_timestamp(F.lit("2024-01-01")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    gold = users.filter(F.col("user_id") % 3 == 0).select(
        "user_id",
        F.lit("gold").alias("tier"),
        F.to_timestamp(F.lit("2024-01-11")).alias("eff"),
    )
    platinum = users.filter(F.col("user_id") % 6 == 0).select(
        "user_id",
        F.lit("platinum").alias("tier"),
        F.to_timestamp(F.lit("2024-01-21")).alias("eff"),
    )
    h1 = scd2_merge(
        history,
        gold,
        key_cols=["user_id"],
        tracked_cols=["tier"],
        effective_col="eff",
        broadcast_updates=True,
    )
    h2 = scoped_persist(
        scd2_merge(
            h1,
            platinum,
            key_cols=["user_id"],
            tracked_cols=["tier"],
            effective_col="eff",
            broadcast_updates=True,
        )
    )
    enriched = scd2_point_in_time(
        events, h2, key_cols=["user_id"], ts_col="ts"
    )
    return enriched.groupBy("tier", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * F.lit(1000000.0)).cast("long")).alias(
            "value_micros"
        ),
    )


SQL_EVENTS_TIER_AT_TIME = """
SELECT CASE
         WHEN ts < TIMESTAMP '2024-01-01' THEN NULL
         WHEN ts < TIMESTAMP '2024-01-11' THEN 'standard'
         WHEN ts < TIMESTAMP '2024-01-21'
           THEN CASE WHEN user_id % 3 = 0 THEN 'gold' ELSE 'standard' END
         ELSE CASE WHEN user_id % 6 = 0 THEN 'platinum'
                   WHEN user_id % 3 = 0 THEN 'gold'
                   ELSE 'standard' END
       END AS tier,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS BIGINT)
         AS value_micros
FROM events
GROUP BY 1, 2
"""


def q_stream_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming last-observation-carried-forward fill
    (``streaming/locf.py``) driven end to end by a REAL two-batch
    Structured Streaming file source: events split at 2024-01-16 into
    two parquet files with strictly increasing mtimes, consumed
    availableNow with ``maxFilesPerTrigger=1``. High-value events
    (``value >= 19``, the same "reading" slice as ``ts_gap_fill``)
    carry forward; every other row is enriched with the latest reading
    for its event_type — ACROSS the batch boundary, via the versioned
    per-key state store (exactly-once under replay, crash tests in
    ``tests/test_locf_stream.py``). Because the split respects event
    time, the streamed result is bit-identical to the batch LOCF
    window, which is how a genuine stateful streaming operator gets a
    hash oracle."""
    import os
    import shutil
    import tempfile

    from prioritizing_event_processing_with_apache_kafka_spark.streaming.locf import (
        locf_foreach_batch,
        locf_result,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    root = tempfile.mkdtemp(prefix="peps-locf-stream-")
    src_dir = os.path.join(root, "src")
    state_path = os.path.join(root, "state")
    out_path = os.path.join(root, "out")
    chk = os.path.join(root, "chk")
    os.makedirs(src_dir)
    try:
        cutoff = F.lit("2024-01-16").cast("timestamp")
        batches = [
            events.filter(F.col("ts") < cutoff),
            events.filter(F.col("ts") >= cutoff),
        ]
        schema = None
        for i, b in enumerate(batches):
            stage = os.path.join(root, f"stage{i}")
            b.coalesce(1).write.parquet(stage)
            part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
            dst = os.path.join(src_dir, f"batch-{i}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            os.utime(dst, (1_700_000_000 + i * 3600,) * 2)
            schema = b.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                locf_foreach_batch(
                    state_path=state_path,
                    out_path=out_path,
                    key_col="event_type",
                    order_cols=("ts", "event_id"),
                    obs_col=F.when(F.col("value") >= 19.0, F.col("value")),
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return locf_result(spark, out_path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_STREAM_LOCF_FILL = """
SELECT event_id, event_type, ts, value,
       last_value(CASE WHEN value >= 19.0 THEN value END IGNORE NULLS)
         OVER (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS filled_value,
       -- NULL-safe: the engine's flag is obs_col IS NULL, which is
       -- TRUE for a NULL value; a bare `value < 19.0` would yield
       -- NULL there and hash-diverge on nullable fixtures
       (value IS NULL OR value < 19.0) AS was_filled
FROM events
"""


def q_scd2_stream_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintainer (streaming/dimension.py), driven end to
    end by a REAL Structured Streaming file source: the ``customer``
    dimension is seeded as version-0 history (everyone open since
    2024-01-01), a two-batch changelog is staged as two parquet files
    with strictly increasing modification times, and
    ``foreachBatch(scd2_apply_batch)`` consumes them availableNow with
    ``maxFilesPerTrigger=1`` — so the maintainer runs its actual
    versioned-parquet exactly-once protocol (version n = batch n + 1,
    dynamic partition overwrite), not a batch shortcut.

    Batch 0 (effective 2024-03-01): ``c_custkey % 5 == 0`` changes
    segment to ``<seg>-B1``. Batch 1 (effective 2024-06-01):
    ``c_custkey % 7 == 0`` changes to ``<seg>-B2``. Keys divisible by
    both therefore accrue a THREE-row chain (seed closed at 03-01, B1
    closed at 06-01, B2 open) — the shape only a correctly ordered
    two-batch merge produces; a single collapsed latest-wins batch
    would drop the middle version and hash-mismatch. The oracle
    rebuilds the expected final history arithmetically from the
    customer table. Validity bounds are ISO strings (exact across
    engines). The returned frame is eagerly localCheckpoint-ed so the
    temp history/checkpoint dirs can be removed before the driver
    collects."""
    import os
    import shutil
    import tempfile

    from prioritizing_event_processing_with_apache_kafka_spark.streaming.dimension import (
        scd2_current,
        scd2_foreach_batch,
        scd2_init_history,
    )

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    root = tempfile.mkdtemp(prefix="peps-scd2-stream-")
    changelog_dir = os.path.join(root, "changelog")
    history_path = os.path.join(root, "history")
    chk = os.path.join(root, "chk")
    os.makedirs(changelog_dir)
    try:
        scd2_init_history(cust, history_path, valid_from="2024-01-01")
        batches = [
            cust.filter(F.col("c_custkey") % 5 == 0).select(
                "c_custkey",
                F.concat(F.col("c_mktsegment"), F.lit("-B1")).alias(
                    "c_mktsegment"
                ),
                F.lit("2024-03-01").alias("effective"),
            ),
            cust.filter(F.col("c_custkey") % 7 == 0).select(
                "c_custkey",
                F.concat(F.col("c_mktsegment"), F.lit("-B2")).alias(
                    "c_mktsegment"
                ),
                F.lit("2024-06-01").alias("effective"),
            ),
        ]
        # Stage each batch as ONE parquet file with a strictly later
        # mtime than its predecessor — FileStreamSource orders files by
        # modification time, so batch boundaries AND order are exact.
        schema = None
        for i, b in enumerate(batches):
            stage = os.path.join(root, f"stage{i}")
            b.coalesce(1).write.parquet(stage)
            part = next(
                p for p in os.listdir(stage) if p.endswith(".parquet")
            )
            dst = os.path.join(changelog_dir, f"batch-{i}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            os.utime(dst, (1_700_000_000 + i * 3600,) * 2)
            schema = b.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(changelog_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                scd2_foreach_batch(
                    history_path=history_path,
                    key_cols=["c_custkey"],
                    tracked_cols=["c_mktsegment"],
                    effective_col="effective",
                    broadcast_updates=True,
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Eager, lineage-truncating materialization: the result must
        # outlive the temp dirs removed below.
        return scd2_current(spark, history_path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_SCD2_STREAM_HISTORY = """
WITH c AS (SELECT c_custkey AS k, c_mktsegment AS s FROM customer)
SELECT k AS c_custkey, s AS c_mktsegment,
       '2024-01-01' AS valid_from,
       CASE WHEN k % 5 = 0 THEN '2024-03-01'
            WHEN k % 7 = 0 THEN '2024-06-01' END AS valid_to,
       (k % 5 <> 0 AND k % 7 <> 0) AS is_current
FROM c
UNION ALL
SELECT k, s || '-B1', '2024-03-01',
       CASE WHEN k % 7 = 0 THEN '2024-06-01' END,
       k % 7 <> 0
FROM c WHERE k % 5 = 0
UNION ALL
SELECT k, s || '-B2', '2024-06-01', NULL, TRUE
FROM c WHERE k % 7 = 0
"""


def q_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style ingest gate: a declarative constraint suite —
    completeness, key uniqueness, referential integrity, range/domain
    membership, and a lattice-exact sum metric — evaluated over the
    ``orders`` batch in ONE aggregation pass plus one anti-join
    (``operators/quality.py:constraint_audit``). The long-format
    verdict table is what a pipeline alerts on before a batch is
    allowed downstream. Every metric lands on the integer lattice, so
    the DuckDB oracle must match hash-exact."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.quality import (
        Check,
        constraint_audit,
        micros,
        violation_count,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    checks = [
        Check("null_custkey", violation_count(F.col("o_custkey").isNull()), 0),
        Check(
            "dup_orderkey",
            (F.count(F.lit(1)) - F.countDistinct(F.col("o_orderkey"))).cast(
                "bigint"
            ),
            0,
        ),
        Check(
            "nonpositive_totalprice",
            violation_count(F.col("o_totalprice") <= 0),
            0,
        ),
        Check(
            "bad_orderstatus",
            violation_count(~F.col("o_orderstatus").isin("O", "F", "P")),
            0,
        ),
        Check(
            "early_orderdate",
            violation_count(
                F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp")
            ),
            0,
        ),
        # Metric row (always-pass bound): batch volume on the micros
        # lattice — the drift signal a run ledger trends over batches.
        Check(
            "totalprice_sum_micros",
            F.coalesce(F.sum(micros(F.col("o_totalprice"))), F.lit(0)).cast(
                "bigint"
            ),
            1_000_000_000_000_000_000,
        ),
    ]
    return constraint_audit(
        orders,
        checks,
        anti_joins=[("orphan_custkey", customer, "o_custkey", "c_custkey")],
    )


SQL_DATA_QUALITY_AUDIT = """
WITH s AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_custkey,
    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkey,
    CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS nonpositive_totalprice,
    CAST(COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END), 0) AS BIGINT) AS bad_orderstatus,
    CAST(COALESCE(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01' THEN 1 ELSE 0 END), 0) AS BIGINT) AS early_orderdate,
    CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT)), 0) AS BIGINT) AS totalprice_sum_micros
  FROM orders
), r AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS orphan_custkey
  FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
SELECT 'null_custkey' AS "check", null_custkey AS observed, null_custkey <= 0 AS passed FROM s
UNION ALL SELECT 'dup_orderkey', dup_orderkey, dup_orderkey <= 0 FROM s
UNION ALL SELECT 'nonpositive_totalprice', nonpositive_totalprice, nonpositive_totalprice <= 0 FROM s
UNION ALL SELECT 'bad_orderstatus', bad_orderstatus, bad_orderstatus <= 0 FROM s
UNION ALL SELECT 'early_orderdate', early_orderdate, early_orderdate <= 0 FROM s
UNION ALL SELECT 'totalprice_sum_micros', totalprice_sum_micros,
                 totalprice_sum_micros <= 1000000000000000000 FROM s
UNION ALL SELECT 'orphan_custkey', orphan_custkey, orphan_custkey <= 0 FROM r
"""


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    (``operators/sequence.py:transition_matrix``) — the behavior-model
    primitive under churn scoring and funnel repair. Counts and
    integer-ppm row probabilities; the ppm ratio is pure integer
    arithmetic (``count * 1e6 DIV row_total``), so the oracle replays
    it bit-exact with no float division anywhere."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sequence import (
        transition_matrix,
    )

    events = load_table(spark, sf_dir, "events")
    return transition_matrix(
        events,
        key_col="user_id",
        state_col="event_type",
        order_cols=("ts", "event_id"),
    )


SQL_EVENT_TRANSITION_MATRIX = """
WITH steps AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state,
         event_type AS next_state
  FROM events
), c AS (
  SELECT prev_state, next_state, CAST(COUNT(*) AS BIGINT) AS transitions
  FROM steps WHERE prev_state IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_state, next_state, transitions,
       CAST((transitions * 1000000)
            // SUM(transitions) OVER (PARTITION BY prev_state) AS BIGINT) AS prob_ppm
FROM c
"""


def q_rolling_value_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-5 median of event value per user — the robust
    despiker feature next to the EWMA. The median is an explicit
    sorted-frame index (``operators/timeseries.py:rolling_median``),
    not an engine ``median`` aggregate, so both engines compute the
    identical IEEE expression and the hash must match on raw
    doubles."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
        rolling_median,
    )

    events = load_table(spark, sf_dir, "events")
    return rolling_median(
        events,
        partition_col="user_id",
        order_cols=("ts", "event_id"),
        value_col="value",
        window=5,
    ).select("event_id", "user_id", "value", "rolling_median")


SQL_ROLLING_VALUE_MEDIAN = """
WITH fr AS (
  SELECT event_id, user_id, value,
         list_sort(list_filter(list(CAST(value AS DOUBLE)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           x -> x IS NOT NULL)) AS fl
  FROM events
)
SELECT event_id, user_id, value,
       CASE WHEN len(fl) = 0 THEN NULL
            WHEN len(fl) % 2 = 1 THEN fl[(len(fl) + 1) // 2]
            ELSE (fl[len(fl) // 2] + fl[len(fl) // 2 + 1]) / 2.0
       END AS rolling_median
FROM fr
"""


def q_user_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted mean event value (TWAP) — each
    observation weighted by the whole seconds it remained the user's
    latest one (``operators/timeseries.py:time_weighted_mean``); the
    feature-store aggregation that burst-proofs raw means. Holding
    times come off the microsecond lattice (``unix_micros`` both
    engines) floored to seconds, values off the micros lattice, and
    the final ratio is integer division — every output column exact
    BIGINT."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
        time_weighted_mean,
    )

    events = load_table(spark, sf_dir, "events")
    return time_weighted_mean(
        events,
        partition_col="user_id",
        ts_col="ts",
        order_cols=("ts", "event_id"),
        value_col="value",
    )


SQL_USER_TIME_WEIGHTED_VALUE = """
WITH h AS (
  SELECT user_id,
         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS vm,
         CAST(COALESCE(
           (LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            - epoch_us(ts)) // 1000000, 0) AS BIGINT) AS hold_s
  FROM events
)
SELECT user_id,
       CAST(SUM(vm * hold_s) AS BIGINT) AS weighted_micros,
       CAST(SUM(hold_s) AS BIGINT) AS held_seconds,
       CASE WHEN SUM(hold_s) > 0
            THEN CAST(CAST(SUM(vm * hold_s) AS BIGINT)
                      // CAST(SUM(hold_s) AS BIGINT) AS BIGINT)
       END AS twap_micros
FROM h GROUP BY user_id
"""


def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part pairs across order baskets with integer-ppm lift
    (``operators/basket.py:cooccurrence_lift``) — the pair-counting
    core of association-rule mining. The within-basket self-join fans
    out by C(basket,2) with TPC-H baskets in the single digits, so the
    shuffle stays linear in lineitem volume; supports and the basket
    total are tiny side aggregates; lift is exact BIGINT ppm."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.basket import (
        cooccurrence_lift,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return cooccurrence_lift(
        li, basket_col="l_orderkey", item_col="l_partkey", min_pair_count=2
    )


SQL_COPURCHASE_LIFT = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), n AS (
  SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM items
), sup AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY 1
), pairs AS (
  SELECT a.i AS item_a, b.i AS item_b, CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT p.item_a, p.item_b, p.pair_count,
       sa.c AS count_a, sb.c AS count_b,
       CAST(p.pair_count * n.nb * 1000000 // (sa.c * sb.c) AS BIGINT) AS lift_ppm
FROM pairs p
JOIN sup sa ON sa.i = p.item_a
JOIN sup sb ON sb.i = p.item_b
CROSS JOIN n
"""


def q_bucket_key_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key concentration report per priority bucket — HHI plus the
    top key's share, in exact integer ppm / parts-per-trillion
    (``operators/skew.py:key_concentration``). This is the measurement
    side of the skew toolkit: it tells an operator which bucket's
    traffic is one user's firehose (route it with salting) and which
    is genuinely diffuse, before any 100 TB job falls over."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.skew import (
        key_concentration,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "bucket", bucket_for_event_type("event_type")
    )
    return key_concentration(events, "bucket", "user_id")


SQL_BUCKET_KEY_CONCENTRATION = """
WITH b AS (
  SELECT CASE WHEN event_type = 'error' THEN 'Platinum'
              WHEN event_type = 'purchase' THEN 'Gold'
              ELSE 'Standard' END AS bucket,
         user_id
  FROM events
), pk AS (
  SELECT bucket, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM b GROUP BY 1, 2
), shares AS (
  SELECT bucket, cnt,
         CAST(cnt * 1000000 // SUM(cnt) OVER (PARTITION BY bucket) AS BIGINT) AS share_ppm
  FROM pk
)
SELECT bucket,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(share_ppm) AS BIGINT) AS top_share_ppm,
       CAST(SUM(share_ppm * share_ppm) AS BIGINT) AS hhi_pptr
FROM shares GROUP BY bucket
"""


def q_bucket_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sustained-drift detector over hourly bucket volume: one-sided
    CUSUM (``operators/timeseries.py:cusum_alarm``) with the per-bucket
    allowance ``k = mean + max(1, mean/10)`` and decision bound
    ``h = max(20, 2*mean)``, all on the integer lattice — the
    complement to ``bucket_hourly_anomaly``'s point z-score (a step
    change that never spikes is invisible to z but accumulates here).
    The recurrence runs closed-form as two cumulative windows over ONE
    per-bucket sort; the reference level comes from a whole-partition
    window over the SAME per-bucket partitioning (not a second
    aggregation of the fact table), so the whole query is one scan +
    one hourly-rollup exchange + one window exchange."""
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.withColumn("bucket", bucket_for_event_type("event_type"))
        .groupBy("bucket", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    based = hourly.withColumn(
        "__m",
        F.expr(
            "sum(n_events) OVER (PARTITION BY bucket) "
            "DIV count(1) OVER (PARTITION BY bucket)"
        ),
    ).select(
        "bucket",
        "hour",
        "n_events",
        F.expr("__m + greatest(1L, __m DIV 10)").cast("bigint").alias("ref_level"),
        F.expr("greatest(20L, 2 * __m)").cast("bigint").alias("alarm_h"),
    )
    return TS.cusum_alarm(
        based,
        partition_col="bucket",
        order_col="hour",
        value_col="n_events",
        reference_col="ref_level",
        alarm_threshold_col="alarm_h",
    ).select("bucket", "hour", "n_events", "ref_level", "cusum", "alarm")


SQL_BUCKET_CUSUM_ALARM = """
WITH hourly AS (
  SELECT CASE WHEN event_type = 'error' THEN 'Platinum'
              WHEN event_type = 'purchase' THEN 'Gold'
              ELSE 'Standard' END AS bucket,
         date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), st AS (
  SELECT bucket, CAST(SUM(n_events) // COUNT(*) AS BIGINT) AS m
  FROM hourly GROUP BY 1
), base AS (
  SELECT h.bucket, h.hour, h.n_events,
         CAST(st.m + GREATEST(1, st.m // 10) AS BIGINT) AS ref_level,
         CAST(GREATEST(20, 2 * st.m) AS BIGINT) AS alarm_h
  FROM hourly h JOIN st ON st.bucket = h.bucket
), p AS (
  SELECT *, SUM(n_events - ref_level) OVER (
              PARTITION BY bucket ORDER BY hour
              ROWS UNBOUNDED PRECEDING) AS pp
  FROM base
), f AS (
  SELECT *, LEAST(0, MIN(pp) OVER (
              PARTITION BY bucket ORDER BY hour
              ROWS UNBOUNDED PRECEDING)) AS fl
  FROM p
)
SELECT bucket, hour, n_events, ref_level,
       CAST(pp - fl AS BIGINT) AS cusum,
       (pp - fl) > alarm_h AS alarm
FROM f
"""


def q_priority_open_orders_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneously-open orders per priority class, via the
    sweep line (``operators/rangejoin.py:interval_concurrency_peak``)
    — the backlog-capacity question a naive overlap self-join answers
    in O(n²). An order is open from ``o_orderdate`` until the day
    after its last line ships (end-exclusive close). Boundaries reduce
    per (priority, timestamp) before the prefix-sum sort; the peak and
    its first attainment time come from one max(struct) argmax."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.rangejoin import (
        interval_concurrency_peak,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    closes = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("__close"))
    iv = orders.join(closes, orders.o_orderkey == closes.l_orderkey).select(
        "o_orderpriority",
        F.col("o_orderdate").alias("__start"),
        (F.col("__close") + F.expr("INTERVAL 1 DAY")).alias("__end"),
    )
    return interval_concurrency_peak(
        iv, group_col="o_orderpriority", start_col="__start", end_col="__end"
    )


SQL_PRIORITY_OPEN_ORDERS_PEAK = """
WITH closes AS (
  SELECT l_orderkey, MAX(l_shipdate) AS close FROM lineitem GROUP BY 1
), iv AS (
  SELECT o.o_orderpriority AS pri, o.o_orderdate AS s,
         c.close + INTERVAL 1 DAY AS e
  FROM orders o JOIN closes c ON c.l_orderkey = o.o_orderkey
), d AS (
  SELECT pri, t, CAST(SUM(dd) AS BIGINT) AS delta FROM (
    SELECT pri, s AS t, 1 AS dd FROM iv
    UNION ALL
    SELECT pri, e AS t, -1 AS dd FROM iv
  ) GROUP BY 1, 2
), r AS (
  SELECT pri, t,
         CAST(SUM(delta) OVER (PARTITION BY pri ORDER BY t
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_open
  FROM d
), m AS (
  SELECT pri, MAX(n_open) AS peak FROM r GROUP BY 1
)
SELECT r.pri AS o_orderpriority,
       CAST(m.peak AS BIGINT) AS peak_open,
       MIN(r.t) AS peak_at
FROM r JOIN m ON m.pri = r.pri AND r.n_open = m.peak
GROUP BY 1, 2
"""


def q_stream_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Markov transition counts (``streaming/transitions.py``)
    driven end to end by a REAL two-batch Structured Streaming file
    source — the same availableNow/maxFilesPerTrigger=1 harness as
    ``stream_locf_fill``, split at 2024-01-16. Boundary transitions
    (a user's last pre-split event → first post-split event) are
    recovered from the versioned per-key last-state store, so the
    streamed counts are bit-identical to the batch
    ``event_transition_matrix`` — whose DuckDB oracle this query
    SHARES (the decisive evidence the stateful operator loses nothing
    at the batch seam)."""
    import os
    import shutil
    import tempfile

    from prioritizing_event_processing_with_apache_kafka_spark.streaming.transitions import (
        transition_counts_result,
        transitions_foreach_batch,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    root = tempfile.mkdtemp(prefix="peps-transitions-stream-")
    src_dir = os.path.join(root, "src")
    state_path = os.path.join(root, "state")
    out_path = os.path.join(root, "out")
    chk = os.path.join(root, "chk")
    os.makedirs(src_dir)
    try:
        cutoff = F.lit("2024-01-16").cast("timestamp")
        batches = [
            events.filter(F.col("ts") < cutoff),
            events.filter(F.col("ts") >= cutoff),
        ]
        schema = None
        for i, b in enumerate(batches):
            stage = os.path.join(root, f"stage{i}")
            b.coalesce(1).write.parquet(stage)
            part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
            dst = os.path.join(src_dir, f"batch-{i}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            os.utime(dst, (1_700_000_000 + i * 3600,) * 2)
            schema = b.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                transitions_foreach_batch(
                    state_path=state_path,
                    out_path=out_path,
                    key_col="user_id",
                    state_col="event_type",
                    order_cols=("ts", "event_id"),
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return transition_counts_result(spark, out_path).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS spend trend fitted exactly from four integer
    moments (``operators/timeseries.py:grouped_ols_trend``): x = whole
    days since the user's first event, y = integer cents; numerator,
    denominator, and the truncated-division slope_ppm are all exact
    BIGINTs, so an engine disagreement anywhere in the moment algebra
    hash-fails. One window exchange + one groupBy on the same key."""
    events = load_table(spark, sf_dir, "events")
    return TS.grouped_ols_trend(
        events, partition_col="user_id", ts_col="ts", value_col="value"
    )


SQL_USER_VALUE_TREND = """
WITH st AS (
  SELECT user_id,
         CAST((epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id))
              // 86400000000 AS BIGINT) AS x,
         CAST(FLOOR(value * 100.0) AS BIGINT) AS y
  FROM events
), a AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sum_x,
         CAST(SUM(y) AS BIGINT) AS sum_y,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM st GROUP BY 1
)
SELECT user_id, n, sum_x, sum_y,
       CAST(n * sxy - sum_x * sum_y AS BIGINT) AS sxy_num,
       CAST(n * sxx - sum_x * sum_x AS BIGINT) AS sxx_den,
       CASE WHEN n * sxx - sum_x * sum_x > 0
            THEN CAST((n * sxy - sum_x * sum_y) * 1000000
                      // (n * sxx - sum_x * sum_x) AS BIGINT)
       END AS slope_ppm
FROM a
"""


def q_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path census (``operators/sequence.py:session_paths``):
    30-minute-gap sessions rendered as their first five event types
    ("view>view>click>purchase") and counted — the order-aware
    behavioral fingerprint one step up from the memoryless transition
    matrix. The gap flag and session id share one key exchange; paths
    are bounded strings; the census is a tiny hash aggregate."""
    events = load_table(spark, sf_dir, "events")
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sequence import (
        session_paths,
    )

    return session_paths(
        events,
        key_col="user_id",
        state_col="event_type",
        ts_col="ts",
        order_cols=("ts", "event_id"),
        gap_minutes=30,
        max_len=5,
    )


SQL_TOP_SESSION_PATHS = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id,
         array_to_string((list(event_type ORDER BY ts, event_id))[1:5], '>') AS path
  FROM numbered GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM per_session GROUP BY 1
"""


def q_lineitem_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson matrix over lineitem's four numeric measures
    (``operators/sampling.py:pairwise_pearson``) — the one-scan
    feature-redundancy screen. Every moment accumulates as an exact
    DECIMAL(38,0); only the final num/sqrt(dx·dy) runs in doubles
    (IEEE-deterministic on identical integer inputs), reported as
    round-half-away corr_ppm, so the 6-row matrix hash-matches."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sampling import (
        pairwise_pearson,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cols = {
        "quantity": F.col("l_quantity").cast("bigint"),
        "price_cents": F.floor(F.col("l_extendedprice") * F.lit(100.0)).cast(
            "bigint"
        ),
        "discount_bps": F.floor(F.col("l_discount") * F.lit(10_000.0)).cast(
            "bigint"
        ),
        "tax_bps": F.floor(F.col("l_tax") * F.lit(10_000.0)).cast("bigint"),
    }
    return pairwise_pearson(li, cols)


SQL_LINEITEM_NUMERIC_CORR = """
WITH lat AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT) AS p,
         CAST(FLOOR(l_discount * 10000.0) AS BIGINT) AS d,
         CAST(FLOOR(l_tax * 10000.0) AS BIGINT) AS t
  FROM lineitem
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(q) AS HUGEINT) AS sq, CAST(SUM(CAST(q AS HUGEINT)*q) AS HUGEINT) AS qq,
         CAST(SUM(p) AS HUGEINT) AS sp, CAST(SUM(CAST(p AS HUGEINT)*p) AS HUGEINT) AS pp,
         CAST(SUM(d) AS HUGEINT) AS sd, CAST(SUM(CAST(d AS HUGEINT)*d) AS HUGEINT) AS dd,
         CAST(SUM(t) AS HUGEINT) AS st, CAST(SUM(CAST(t AS HUGEINT)*t) AS HUGEINT) AS tt,
         CAST(SUM(CAST(q AS HUGEINT)*p) AS HUGEINT) AS qp,
         CAST(SUM(CAST(q AS HUGEINT)*d) AS HUGEINT) AS qd,
         CAST(SUM(CAST(q AS HUGEINT)*t) AS HUGEINT) AS qt,
         CAST(SUM(CAST(p AS HUGEINT)*d) AS HUGEINT) AS pd,
         CAST(SUM(CAST(p AS HUGEINT)*t) AS HUGEINT) AS pt,
         CAST(SUM(CAST(d AS HUGEINT)*t) AS HUGEINT) AS dt
  FROM lat
), pairs AS (
  SELECT 'quantity' AS col_a, 'price_cents' AS col_b, n,
         n*qp - sq*sp AS num, n*qq - sq*sq AS dx, n*pp - sp*sp AS dy FROM m
  UNION ALL SELECT 'quantity', 'discount_bps', n, n*qd - sq*sd, n*qq - sq*sq, n*dd - sd*sd FROM m
  UNION ALL SELECT 'quantity', 'tax_bps', n, n*qt - sq*st, n*qq - sq*sq, n*tt - st*st FROM m
  UNION ALL SELECT 'price_cents', 'discount_bps', n, n*pd - sp*sd, n*pp - sp*sp, n*dd - sd*sd FROM m
  UNION ALL SELECT 'price_cents', 'tax_bps', n, n*pt - sp*st, n*pp - sp*sp, n*tt - st*st FROM m
  UNION ALL SELECT 'discount_bps', 'tax_bps', n, n*dt - sd*st, n*dd - sd*sd, n*tt - st*st FROM m
)
SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
       CASE WHEN dx > 0 AND dy > 0
            THEN CAST(ROUND(CAST(num AS DOUBLE) * 1000000.0
                            / SQRT(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))) AS BIGINT)
       END AS corr_ppm
FROM pairs
"""


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the user's most
    recent non-purchase event within a 7-day lookback, else 'none' —
    the marketing-analytics primitive behind "what drives checkout".
    Two ignore-nulls last() columns over ONE user window (both filled
    from the same qualifying row, so they stay consistent —
    ``operators/sequence.py:last_touch_attribution``), a constant-time
    lookback test on the microsecond lattice, and a tiny share-ppm
    aggregate. All integers; full hash oracle."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sequence import (
        last_touch_attribution,
    )

    events = load_table(spark, sf_dir, "events")
    attributed = last_touch_attribution(
        events,
        key_col="user_id",
        state_col="event_type",
        ts_col="ts",
        order_cols=("ts", "event_id"),
        conversion="purchase",
        lookback_days=7,
    )
    counts = attributed.groupBy("attributed_to").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases")
    )
    return counts.withColumn(
        "share_ppm",
        F.expr(
            "(n_purchases * 1000000) DIV sum(n_purchases) OVER ()"
        ).cast("bigint"),
    )


SQL_PURCHASE_ATTRIBUTION = """
WITH touched AS (
  SELECT event_type, ts,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER w AS lt_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
           OVER w AS lt_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), att AS (
  SELECT CASE WHEN lt_ts IS NOT NULL
                AND epoch_us(ts) - epoch_us(lt_ts) <= CAST(604800000000 AS BIGINT)
              THEN lt_type ELSE 'none' END AS attributed_to
  FROM touched WHERE event_type = 'purchase'
), c AS (
  SELECT attributed_to, CAST(COUNT(*) AS BIGINT) AS n_purchases
  FROM att GROUP BY 1
)
SELECT attributed_to, n_purchases,
       CAST((n_purchases * 1000000) // SUM(n_purchases) OVER () AS BIGINT) AS share_ppm
FROM c
"""


def q_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority mix drift between the pre/post-1998 halves of
    the order history (the fixture's dates span 1995-2001) — the
    composition-shift monitor a run ledger trends next to the volume
    metric (a priority class silently doubling its share is an
    upstream routing bug even when totals look flat). Shares and the
    delta are exact integer ppm; an empty period reports NULL shares
    instead of dividing by zero; one scan, one tiny pivot aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    per = orders.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderdate") < cutoff, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pre"),
        F.sum(F.when(F.col("o_orderdate") >= cutoff, 1).otherwise(0))
        .cast("bigint")
        .alias("n_post"),
    )
    share = (
        lambda c: F.expr(
            f"CASE WHEN sum({c}) OVER () > 0"
            f" THEN ({c} * 1000000) DIV sum({c}) OVER () END"
        ).cast("bigint")
    )
    return per.select(
        "o_orderpriority",
        "n_pre",
        "n_post",
        share("n_pre").alias("share_pre_ppm"),
        share("n_post").alias("share_post_ppm"),
    ).withColumn(
        "delta_ppm",
        (F.col("share_post_ppm") - F.col("share_pre_ppm")).cast("bigint"),
    )


SQL_PRIORITY_MIX_SHIFT = """
WITH per AS (
  SELECT o_orderpriority,
         CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
         CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_post
  FROM orders GROUP BY 1
), sh AS (
  SELECT o_orderpriority, n_pre, n_post,
         CAST(CASE WHEN SUM(n_pre) OVER () > 0
                   THEN (n_pre * 1000000) // SUM(n_pre) OVER () END AS BIGINT) AS share_pre_ppm,
         CAST(CASE WHEN SUM(n_post) OVER () > 0
                   THEN (n_post * 1000000) // SUM(n_post) OVER () END AS BIGINT) AS share_post_ppm
  FROM per
)
SELECT o_orderpriority, n_pre, n_post, share_pre_ppm, share_post_ppm,
       CAST(share_post_ppm - share_pre_ppm AS BIGINT) AS delta_ppm
FROM sh
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# --------------------------------------------------------------------------
# Round-8 third batch: k-anonymity, M4 downsampling.


def q_events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity census (``quality.py:k_anonymity_audit``, k=5) over
    the quasi-identifier set (event_type, FLOOR(value), HOUR(ts)) —
    the re-identification audit before events leave a trust boundary.
    Two hash aggregates; one summary row; hash-oracled."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.quality import (
        k_anonymity_audit,
    )

    events = load_table(spark, sf_dir, "events")
    qi = events.select(
        "event_type",
        F.floor("value").cast("long").alias("value_band"),
        F.hour("ts").alias("hour_of_day"),
    )
    return k_anonymity_audit(
        qi, qi_cols=["event_type", "value_band", "hour_of_day"], k=5
    )


SQL_EVENTS_K_ANONYMITY = """
WITH classes AS (
  SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS vb,
         EXTRACT(hour FROM ts) AS hh,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(n) AS BIGINT) AS min_class_size,
       CAST(MAX(n) AS BIGINT) AS max_class_size,
       CAST(COALESCE(SUM(CASE WHEN n < 5 THEN 1 END), 0) AS BIGINT)
         AS classes_at_risk,
       CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
         AS rows_at_risk,
       CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0) * 1000000 // SUM(n)
            AS BIGINT) AS at_risk_ppm
FROM classes
"""


def q_events_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling (``timeseries.py:m4_downsample``,
    Jugel et al. VLDB'14): per (event_type, hour bin) the four anchor
    points a pixel-exact line chart needs — first/last/min/max with
    struct-min/max deterministic tie-breaks. One partial-agg exchange;
    hash-oracled bit-exact."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.timeseries import (
        m4_downsample,
    )

    events = load_table(spark, sf_dir, "events")
    return m4_downsample(
        events,
        series_col="event_type",
        ts_col="ts",
        value_col="value",
        bin_minutes=60,
    )


SQL_EVENTS_M4_DOWNSAMPLE = """
WITH pts AS (
  SELECT event_type,
         make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
           AS bin_start,
         ts, value AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), w AS (
  SELECT *, MIN(v) OVER g AS mn, MAX(v) OVER g AS mx,
         MIN(ts) OVER g AS mnts, MAX(ts) OVER g AS mxts
  FROM pts WINDOW g AS (PARTITION BY event_type, bin_start)
)
SELECT event_type, bin_start,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(mnts) AS first_ts,
       MIN(CASE WHEN ts = mnts THEN v END) AS first_value,
       MAX(mxts) AS last_ts,
       MAX(CASE WHEN ts = mxts THEN v END) AS last_value,
       MIN(mn) AS min_value,
       MIN(CASE WHEN v = mn THEN ts END) AS min_ts,
       MAX(mx) AS max_value,
       MAX(CASE WHEN v = mx THEN ts END) AS max_ts
FROM w GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Round-8 fourth batch: autocorrelation, Benford screening, winsorization.


def q_events_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of each event_type's hourly-mean signal
    at lags 1/2/3/24 (``timeseries.py:binned_acf``) — the seasonality
    detector behind forecast-model and alert-baseline choices. The only
    row-scaled exchange is the hourly-bin aggregate; the ACF arithmetic
    is exact (decimal(38,0) ↔ HUGEINT) on bin-count-sized data.
    Hash-oracled."""
    events = load_table(spark, sf_dir, "events")
    return TS.binned_acf(
        events,
        series_col="event_type",
        ts_col="ts",
        value_col="value",
        bin_minutes=60,
        lags=(1, 2, 3, 24),
    )


_SQL_ACF_C = "CAST(n AS HUGEINT) * v - s"
SQL_EVENTS_HOURLY_ACF = f"""
WITH pts AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS bin,
         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS vm
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), bins AS (
  SELECT event_type, bin, SUM(vm) // COUNT(*) AS v
  FROM pts GROUP BY 1, 2
), st AS (
  SELECT event_type, bin, v,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(v) OVER (PARTITION BY event_type) AS s
  FROM bins
), c AS (
  SELECT event_type, {_SQL_ACF_C} AS c,
         LAG({_SQL_ACF_C}, 1) OVER o AS l1,
         LAG({_SQL_ACF_C}, 2) OVER o AS l2,
         LAG({_SQL_ACF_C}, 3) OVER o AS l3,
         LAG({_SQL_ACF_C}, 24) OVER o AS l24
  FROM st WINDOW o AS (PARTITION BY event_type ORDER BY bin)
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(CASE WHEN SUM(c*c) > 0 THEN (SUM(c*l1) * 1000000) // SUM(c*c) END
            AS BIGINT) AS acf1_ppm,
       CAST(CASE WHEN SUM(c*c) > 0 THEN (SUM(c*l2) * 1000000) // SUM(c*c) END
            AS BIGINT) AS acf2_ppm,
       CAST(CASE WHEN SUM(c*c) > 0 THEN (SUM(c*l3) * 1000000) // SUM(c*c) END
            AS BIGINT) AS acf3_ppm,
       CAST(CASE WHEN SUM(c*c) > 0 THEN (SUM(c*l24) * 1000000) // SUM(c*c) END
            AS BIGINT) AS acf24_ppm
FROM c GROUP BY 1
"""


def q_lineitem_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit census of l_extendedprice
    (``quality.py:benford_audit``) — the fraud/synthetic-feed screen.
    Digit extracted via integer-string substring (no float log10);
    one map-combined aggregate to the 9-row digit table. Hash-oracled."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.quality import (
        benford_audit,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return benford_audit(li, value_col="l_extendedprice")


SQL_LINEITEM_BENFORD = """
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INTEGER) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem WHERE l_extendedprice >= 1 GROUP BY 1
)
SELECT digit, n,
       CAST(n * 1000000 // SUM(n) OVER () AS BIGINT) AS obs_ppm,
       CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                       WHEN 3 THEN 124939 WHEN 4 THEN 96910
                       WHEN 5 THEN 79181 WHEN 6 THEN 66947
                       WHEN 7 THEN 57992 WHEN 8 THEN 51153
                       ELSE 45757 END AS BIGINT) AS benford_ppm,
       CAST(ABS(CAST(n * 1000000 // SUM(n) OVER () AS BIGINT)
                - CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                             WHEN 3 THEN 124939 WHEN 4 THEN 96910
                             WHEN 5 THEN 79181 WHEN 6 THEN 66947
                             WHEN 7 THEN 57992 WHEN 8 THEN 51153
                             ELSE 45757 END) AS BIGINT) AS dev_ppm
FROM counts
"""


def q_orders_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority winsorization report on o_totalprice
    (``quality.py:winsorized_stats``): exact percentile_disc p1/p99
    fences from the histogram lattice, broadcast back onto the fact
    scan, clipped means on integer micros. Hash-oracled (the oracle
    replays the same histogram-CDF fence definition)."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.quality import (
        winsorized_stats,
    )

    od = load_table(spark, sf_dir, "orders")
    return winsorized_stats(
        od, group_col="o_orderpriority", value_col="o_totalprice"
    )


SQL_ORDERS_WINSORIZED = """
WITH hist AS (
  SELECT o_orderpriority AS g, o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
), cm AS (
  SELECT g, v, c,
         SUM(c) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY g) AS n
  FROM hist
), fences AS (
  SELECT g,
         CAST(FLOOR(MIN(CASE WHEN cum*100 >= n*1 THEN v END) * 1000000.0)
              AS BIGINT) AS lo,
         CAST(FLOOR(MIN(CASE WHEN cum*100 >= n*99 THEN v END) * 1000000.0)
              AS BIGINT) AS hi
  FROM cm GROUP BY g
), fact AS (
  SELECT o.o_orderpriority, f.lo, f.hi,
         CAST(FLOOR(o.o_totalprice * 1000000.0) AS BIGINT) AS vm
  FROM orders o JOIN fences f ON f.g = o.o_orderpriority
  WHERE o.o_totalprice IS NOT NULL
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(lo) AS BIGINT) AS lo_cut_micros,
       CAST(MIN(hi) AS BIGINT) AS hi_cut_micros,
       CAST(COALESCE(SUM(CASE WHEN vm < lo THEN 1 END), 0) AS BIGINT)
         AS n_clipped_low,
       CAST(COALESCE(SUM(CASE WHEN vm > hi THEN 1 END), 0) AS BIGINT)
         AS n_clipped_high,
       CAST(SUM(vm) // COUNT(*) AS BIGINT) AS mean_micros,
       CAST(SUM(LEAST(GREATEST(vm, lo), hi)) // COUNT(*) AS BIGINT)
         AS wins_mean_micros
FROM fact GROUP BY 1
"""


# --------------------------------------------------------------------------
# Round-8 fifth batch: decile drift, erasure cascade.


def q_events_decile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early-vs-late value-distribution drift per event_type
    (``quality.py:decile_drift``): bin by the early half's exact decile
    fences (histogram lattice), compare ppm shares across halves —
    PSI-style monitoring, integer-exact. Hash-oracled."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.quality import (
        decile_drift,
    )

    events = load_table(spark, sf_dir, "events")
    return decile_drift(
        events, group_col="event_type", ts_col="ts", value_col="value"
    )


SQL_EVENTS_DECILE_DRIFT = """
WITH pts AS (
  SELECT event_type, epoch_us(ts) AS us, value AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), mids AS (
  SELECT event_type, (MIN(us) + MAX(us)) // 2 AS mid FROM pts GROUP BY 1
), halved AS (
  SELECT p.event_type, p.v,
         CASE WHEN p.us <= m.mid THEN 'early' ELSE 'late' END AS half
  FROM pts p JOIN mids m USING (event_type)
), hist AS (
  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM halved WHERE half = 'early' GROUP BY 1, 2
), cm AS (
  SELECT event_type, v, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM hist
), fences AS (
  SELECT event_type, [
    MIN(CASE WHEN cum*100 >= n*10 THEN v END),
    MIN(CASE WHEN cum*100 >= n*20 THEN v END),
    MIN(CASE WHEN cum*100 >= n*30 THEN v END),
    MIN(CASE WHEN cum*100 >= n*40 THEN v END),
    MIN(CASE WHEN cum*100 >= n*50 THEN v END),
    MIN(CASE WHEN cum*100 >= n*60 THEN v END),
    MIN(CASE WHEN cum*100 >= n*70 THEN v END),
    MIN(CASE WHEN cum*100 >= n*80 THEN v END),
    MIN(CASE WHEN cum*100 >= n*90 THEN v END)
  ] AS f FROM cm GROUP BY 1
), binned AS (
  SELECT h.event_type, h.half,
         len(list_filter(fe.f, x -> h.v >= x)) AS bin
  FROM halved h JOIN fences fe USING (event_type)
), counts AS (
  SELECT event_type, bin,
         CAST(COALESCE(SUM(CASE WHEN half = 'early' THEN 1 END), 0) AS BIGINT)
           AS early_n,
         CAST(COALESCE(SUM(CASE WHEN half = 'late' THEN 1 END), 0) AS BIGINT)
           AS late_n
  FROM binned GROUP BY 1, 2
)
SELECT event_type, CAST(bin AS INTEGER) AS bin, early_n, late_n,
       CAST(early_n * 1000000 // SUM(early_n) OVER w AS BIGINT) AS early_ppm,
       CAST(late_n * 1000000 // SUM(late_n) OVER w AS BIGINT) AS late_ppm,
       CAST(late_n * 1000000 // SUM(late_n) OVER w
            - early_n * 1000000 // SUM(early_n) OVER w AS BIGINT) AS gap_ppm
FROM counts WINDOW w AS (PARTITION BY event_type)
"""


def q_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style erasure cascade audit: for the deletion cohort
    (customers with ``c_custkey % 97 == 0``), how many rows each table
    must erase, and what share of the table that is — customer rows,
    their orders, and those orders' lineitems, the referential closure
    a right-to-be-forgotten job walks. Cohort keys broadcast down the
    chain (at 100 TB the orders→lineitem hop becomes a key shuffle —
    AQE's call); each count is one semi-join + fold. Hash-oracled."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cohort = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    cohort_orders = orders.join(
        F.broadcast(cohort),
        orders["o_custkey"] == cohort["c_custkey"],
        "left_semi",
    )
    cohort_li = li.join(
        F.broadcast(cohort_orders.select("o_orderkey")),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    )

    def tally(name: str, hit: DataFrame, total: DataFrame) -> DataFrame:
        h = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_erase"))
        t = total.agg(F.count(F.lit(1)).cast("bigint").alias("__n_total"))
        return (
            h.crossJoin(t)  # 1x1
            .select(
                F.lit(name).alias("table_name"),
                "n_erase",
                F.col("__n_total").alias("n_total"),
                F.expr("n_erase * 1000000 DIV __n_total")
                .cast("bigint")
                .alias("share_ppm"),
            )
        )

    return (
        tally("customer", cohort, cust)
        .unionByName(tally("orders", cohort_orders, orders))
        .unionByName(tally("lineitem", cohort_li, li))
    )


SQL_ERASURE_CASCADE = """
WITH cohort AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
), co AS (
  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM cohort)
), cl AS (
  SELECT 1 FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM co)
)
SELECT 'customer' AS table_name,
       CAST((SELECT COUNT(*) FROM cohort) AS BIGINT) AS n_erase,
       CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_total,
       CAST((SELECT COUNT(*) FROM cohort) * 1000000
            // (SELECT COUNT(*) FROM customer) AS BIGINT) AS share_ppm
UNION ALL
SELECT 'orders',
       CAST((SELECT COUNT(*) FROM co) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
       CAST((SELECT COUNT(*) FROM co) * 1000000
            // (SELECT COUNT(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'lineitem',
       CAST((SELECT COUNT(*) FROM cl) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST((SELECT COUNT(*) FROM cl) * 1000000
            // (SELECT COUNT(*) FROM lineitem) AS BIGINT)
"""


# --------------------------------------------------------------------------
# Round-8 sixth batch: sliding-window distinct (exact + HLL twin), A/B test
# readout.


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-24h hourly active users
    (``timeseries.py:sliding_distinct_counts``): presence-expansion —
    distinct (user, hour) collapse, bounded 24x fan-out, dedup, count.
    Everything after the presence aggregate is (keys x bins x 24)-
    sized, never event-sized. Hash-oracled."""
    events = load_table(spark, sf_dir, "events")
    return TS.sliding_distinct_counts(
        events, key_col="user_id", ts_col="ts", bin_minutes=60, window_bins=24
    )


SQL_ROLLING_ACTIVE_USERS = """
WITH p AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS bin
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), mx AS (
  SELECT MAX(bin) AS m FROM p
), e AS (
  SELECT DISTINCT user_id, bin + g.i AS win
  FROM p CROSS JOIN generate_series(0, 23) AS g(i)
  WHERE bin + g.i <= (SELECT m FROM mx)
)
SELECT make_timestamp(win * 3600000000) AS window_end,
       CAST(COUNT(*) AS BIGINT) AS active_keys
FROM e GROUP BY 1
"""


def q_rolling_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL twin (``sketches.py:hll_sliding_distinct``): one
    mergeable sketch per hour, each window unions its 24 bin sketches
    — O(bins) sketch rows instead of the exact twin's key-expansion;
    the 100 TB configuration. Joined 1:1 to the exact twin in the same
    plan; approximate by design -> rows-only for the driver, with the
    SELF_AUDITS bound on rel_error_pct (lgk=12 -> ~1.6% std err;
    bound 6%, the approx_distinct_users envelope)."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
        hll_sliding_distinct,
    )

    events = load_table(spark, sf_dir, "events")
    est = hll_sliding_distinct(
        events, key_col="user_id", ts_col="ts", bin_minutes=60, window_bins=24
    )
    exact = TS.sliding_distinct_counts(
        events, key_col="user_id", ts_col="ts", bin_minutes=60, window_bins=24
    )
    return (
        est.join(exact, "window_end")
        .select(
            "window_end",
            "est_keys",
            "active_keys",
            F.round(
                F.abs(
                    F.col("est_keys").cast("double")
                    / F.col("active_keys").cast("double")
                    - 1.0
                )
                * 100.0,
                4,
            ).alias("rel_error_pct"),
        )
    )


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout (``quality.py:two_proportion_audit``):
    arm = the deterministic assignment hash ``props.k % 2``, success =
    purchase events. Integer counts end-to-end; the pooled two-
    proportion z is the single textbook double expression both engines
    evaluate (round 6). Hash-oracled."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.quality import (
        two_proportion_audit,
    )

    events = load_table(spark, sf_dir, "events")
    armed = events.select(
        F.pmod(F.get_json_object("props", "$.k").cast("long"), F.lit(2))
        .cast("int")
        .alias("arm"),
        (F.col("event_type") == "purchase").alias("converted"),
    ).filter(F.col("arm").isNotNull())
    return two_proportion_audit(armed, arm_col="arm", success_col="converted")


SQL_EVENTS_AB_TEST = """
WITH armed AS (
  SELECT CAST(((CAST(json_extract_string(props, '$.k') AS BIGINT) % 2) + 2) % 2
              AS INTEGER) AS arm,
         event_type = 'purchase' AS converted
  FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
), arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN converted THEN 1 END), 0) AS BIGINT) AS c
  FROM armed GROUP BY 1
), f AS (
  SELECT MIN(arm) AS arm_a, MAX(arm) AS arm_b,
         MIN_BY(n, arm) AS n_a, MAX_BY(n, arm) AS n_b,
         MIN_BY(c, arm) AS conv_a, MAX_BY(c, arm) AS conv_b,
         COUNT(*) AS k
  FROM arms
)
SELECT CASE WHEN k = 2 THEN arm_a END AS arm_a,
       CASE WHEN k = 2 THEN arm_b END AS arm_b,
       n_a, n_b, conv_a, conv_b,
       CAST(conv_a * 1000000 // n_a AS BIGINT) AS rate_a_ppm,
       CAST(conv_b * 1000000 // n_b AS BIGINT) AS rate_b_ppm,
       CASE WHEN k = 2 THEN ROUND(
         (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b)), 6) END AS z_score,
       CASE WHEN k = 2 THEN ABS(ROUND(
         (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b)), 6)) >= 1.959964 END AS significant
FROM f
"""


# --------------------------------------------------------------------------
# Round-8 eighth batch: RFM segmentation, supplier ship-SLA watch.


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) customer segmentation — the
    classic martech census, integer-exact: per customer the days since
    last order (vs the corpus max date), order count, and lifetime
    cents; each metric scored 1-5 by its EXACT global quintile fences
    (the histogram-lattice disc percentiles — fences sized by distinct
    values), recency reversed (fresher = higher). Output is the
    segment census: one row per (r, f, m) score cell with customer
    count and total monetary. Everything after the per-customer
    aggregate is quintile arithmetic on broadcast fences; the census
    aggregate is at most 125 rows. Hash-oracled."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.max(F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000"))
        .cast("bigint")
        .alias("__last_day"),
        F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("monetary_cents"),
    )
    return _rfm_census(per_cust)


def _rfm_census(per_cust: DataFrame) -> DataFrame:
    """Quintile-score a per-customer (frequency, __last_day,
    monetary_cents) frame into the (r, f, m) segment census — shared by
    the batch ``customer_rfm`` and its streaming rollup twin, which is
    what lets the twin share the batch hash oracle."""
    gmax = per_cust.agg(F.max("__last_day").alias("__gmax"))
    rfm = per_cust.join(F.broadcast(gmax)).select(
        "o_custkey",
        (F.col("__gmax") - F.col("__last_day")).cast("bigint").alias(
            "recency_days"
        ),
        "frequency",
        "monetary_cents",
    )
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
        exact_group_percentiles,
    )

    # One customer-sized frame feeds the score branch AND the fence
    # histograms — persist it so the orders aggregate runs once, not 4x
    # (the repo's reused-input-frame rule).
    scored = scoped_persist(rfm.withColumn("__one", F.lit(1)))
    # ONE fence pass for all three metrics (r13, guide §2.4): unpivot
    # (metric, value) and let exact_group_percentiles group by metric —
    # one histogram aggregate + one cumulative window instead of three
    # independent chains (3 hist Exchanges + 3 single-partition windows
    # → 1 + 1; the window now has 3 partitions instead of 3× one). The
    # per-metric histogram rows and cumulative math are identical, so
    # every disc_pXX fence is bit-identical; all three metrics are
    # already bigint, so the shared __v column loses nothing.
    metrics = ("recency_days", "frequency", "monetary_cents")
    unpiv = scored.select(
        F.expr(
            "stack(3, "
            + ", ".join(f"'{m}', {m}" for m in metrics)
            + ") AS (__metric, __v)"
        )
    )
    fences3 = exact_group_percentiles(
        unpiv,
        group_col="__metric",
        value_col="__v",
        percentiles=(20, 40, 60, 80),
    )
    wide = fences3.agg(
        *[
            F.max(
                F.when(
                    F.col("__metric") == m,
                    F.array(*[F.col(f"disc_p{p}") for p in (20, 40, 60, 80)]),
                )
            ).alias(f"__f_{m}")
            for m in metrics
        ]
    )
    j = scored.join(F.broadcast(wide))
    rank = lambda m: F.aggregate(  # noqa: E731
        f"__f_{m}",
        F.lit(1),
        lambda acc, b: acc
        + F.when(F.col(m) >= b, F.lit(1)).otherwise(F.lit(0)),
    )
    return (
        j.select(
            (F.lit(6) - rank("recency_days")).cast("int").alias("r_score"),
            rank("frequency").cast("int").alias("f_score"),
            rank("monetary_cents").cast("int").alias("m_score"),
            "monetary_cents",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("monetary_cents").cast("bigint").alias("total_monetary_cents"),
        )
    )


_SQL_RFM_FENCE = """
  SELECT [
    MIN(CASE WHEN cum*100 >= n*20 THEN v END),
    MIN(CASE WHEN cum*100 >= n*40 THEN v END),
    MIN(CASE WHEN cum*100 >= n*60 THEN v END),
    MIN(CASE WHEN cum*100 >= n*80 THEN v END)
  ] FROM (
    SELECT v, SUM(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(c) OVER () AS n
    FROM (SELECT {metric} AS v, CAST(COUNT(*) AS BIGINT) AS c
          FROM rfm GROUP BY 1)
  )
"""

SQL_CUSTOMER_RFM = f"""
WITH per AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY 1
), rfm AS (
  SELECT o_custkey,
         CAST((SELECT MAX(last_day) FROM per) - last_day AS BIGINT)
           AS recency_days,
         frequency, monetary_cents
  FROM per
), scored AS (
  SELECT monetary_cents,
         6 - (1 + len(list_filter(({_SQL_RFM_FENCE.format(metric='recency_days')}),
                                  x -> recency_days >= x))) AS r_score,
         1 + len(list_filter(({_SQL_RFM_FENCE.format(metric='frequency')}),
                             x -> frequency >= x)) AS f_score,
         1 + len(list_filter(({_SQL_RFM_FENCE.format(metric='monetary_cents')}),
                             x -> monetary_cents >= x)) AS m_score
  FROM rfm
)
SELECT CAST(r_score AS INTEGER) AS r_score,
       CAST(f_score AS INTEGER) AS f_score,
       CAST(m_score AS INTEGER) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary_cents) AS BIGINT) AS total_monetary_cents
FROM scored GROUP BY 1, 2, 3
"""


def _table_bytes(spark: SparkSession, sf_dir: str, table: str) -> int:
    """On-disk parquet bytes for one table — the size signal behind
    per-query partition sizing (:func:`_fact_partitions`) and
    size-aware dim-join strategy picks (broadcast vs shuffle-hash).
    Local filesystem probe first; Hadoop FileSystem fallback for
    non-local sf_dirs, loud RuntimeWarning when both fail."""
    import os

    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    try:
        if os.path.isdir(path):
            nbytes = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(path)
                for f in files
                if not f.startswith(("_", "."))
            )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        nbytes = 0
    if nbytes <= 0:
        # Non-local sf_dir (hdfs://, s3a://, ...): os.path sees nothing
        # and a silent 0 would quietly revert the caller to
        # defaultParallelism — the exact thrash regime the r11 re-plan
        # fixed (ADVICE r11). Ask the Hadoop FileSystem instead, and
        # make any remaining failure visible rather than silent.
        try:
            jvm = spark._jvm
            jsc = spark._jsc
            hconf = jsc.hadoopConfiguration()
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(hconf)
            nbytes = fs.getContentSummary(hpath).getLength()
        except Exception:
            import warnings

            warnings.warn(
                f"byte probe failed for {path!r}; size-aware plan "
                "choices fall back to their fixture defaults (fine for "
                "fixtures, thrash-prone at grow scale)",
                RuntimeWarning,
                stacklevel=3,
            )
            nbytes = 0
    return nbytes


def _fact_partitions(
    spark: SparkSession, sf_dir: str, table: str, *, target_mb: int = 64
) -> int:
    """Reduce-partition count sized from a fact table's on-disk bytes
    (~``target_mb`` of decompressed data per partition, assuming ~3x
    parquet expansion), floored at the session's default parallelism
    and capped at 4096. The bytes-per-partition discipline a real
    deployment applies cluster-wide, derived per-query here because
    the fixture harness pins spark.sql.shuffle.partitions to the core
    count — right for 60k-row fixtures, thrash-prone once a key-scaled
    working set is 100x that (see q_supplier_ship_sla's plan note)."""
    nbytes = _table_bytes(spark, sf_dir, table)
    floor = spark.sparkContext.defaultParallelism
    return max(floor, min(4096, -(-nbytes * 3 // (target_mb << 20))))


def q_supplier_ship_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier order-to-ship SLA watch: per supplier, shipment count,
    mean and EXACT p95 lag days (histogram-lattice disc percentile —
    fences sized by distinct lag values per supplier), the share of
    shipments beyond 90 days (ppm), and a flag vs the corpus-wide late
    share. Hash-oracled.

    Plan (re-planned r11 — the third-decade grow probe caught the old
    shape bending super-linear at 300× keys because the lag frame's
    lineitem⋈orders join ran TWICE, once under the base aggregate and
    once under the percentile operator): ONE fact join, ONE map-
    combined (supplier, lag) histogram aggregate, the histogram
    persisted, and every statistic — count, integer mean, late share,
    AND the p95 fences (``exact_group_percentiles(count_col=...)``) —
    derived from that single histogram. Nothing downstream of the one
    aggregate touches the fact table again.

    Partition sizing: on this query the "histogram" does NOT collapse
    far below the fact table (suppliers × observed lags ≈ 0.75× fact
    rows at grow scale), so reduce partitions must track the DATA, not
    the core count — at 300× keys on 32 fixed partitions the persisted
    histogram thrashed (controlled experiment, docs/SCALE.md r11: old
    shape 134.6 s / new 235.4 s at 32 partitions, old 175.2 s / new
    71.3 s at 256). The lag frame is therefore explicitly
    ``repartition(N, l_suppkey)`` with N sized from the fact table's
    bytes (~64 MB decompressed per partition, floored at the session
    parallelism) — and because hash(l_suppkey) satisfies the
    clustering requirement of the histogram aggregate, the percentile
    window, AND the per-supplier rollup (subset clustering), that one
    right-sized exchange is the ONLY post-join shuffle in the query."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    n_parts = _fact_partitions(spark, sf_dir, "lineitem")
    # Size the JOIN exchanges too, not just the post-join shuffle: the
    # controlled experiment showed the 32-partition sort-merge sort
    # (5.6M rows/task at 300x) was the thrash source. Explicit
    # same-N hash partitioning on the join keys is exactly what the
    # sort-merge join requires, so no extra exchange is inserted.
    li_k = li.select("l_orderkey", "l_suppkey", "l_shipdate").repartition(
        n_parts, "l_orderkey"
    )
    ord_k = orders.select("o_orderkey", "o_orderdate").repartition(
        n_parts, "o_orderkey"
    )
    lag = li_k.join(
        ord_k, li_k["l_orderkey"] == F.col("o_orderkey")
    ).select(
        "l_suppkey",
        F.expr(
            "CAST((unix_micros(CAST(l_shipdate AS TIMESTAMP))"
            " - unix_micros(CAST(o_orderdate AS TIMESTAMP)))"
            " DIV 86400000000 AS BIGINT)"
        ).alias("lag_days"),
    )
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
        exact_group_percentiles,
    )

    base = exact_group_percentiles(
        lag.repartition(n_parts, "l_suppkey"),
        group_col="l_suppkey",
        value_col="lag_days",
        percentiles=(95,),
        extra_aggs=[
            F.sum("__c").cast("bigint").alias("n_shipments"),
            F.expr("sum(lag_days * __c) DIV sum(__c)")
            .cast("bigint")
            .alias("mean_lag_days"),
            F.coalesce(
                F.sum(F.when(F.col("lag_days") > 90, F.col("__c"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("__late"),
        ],
    ).select(
        "l_suppkey",
        F.col("disc_p95").cast("bigint").alias("p95_lag_days"),
        "n_shipments",
        "mean_lag_days",
        "__late",
    )
    # base is SUPPLIER-sized (one row per supplier) and needed twice
    # (the fleet-wide share and the final projection). Persist + fetch
    # the ONE fleet scalar driver-side: a lazy second consumer —
    # even broadcast-joined — launches a concurrent job that RACES the
    # main plan into the unmaterialized cache and re-runs the 205-task
    # fact stages (measured at 300x: 183 s vs 80 s).
    base = scoped_persist(base)
    tot = base.agg(
        F.sum("__late").alias("l"), F.sum("n_shipments").alias("n")
    ).collect()[0]
    gppm = int(tot["l"]) * 1_000_000 // int(tot["n"])
    return base.select(
        "l_suppkey",
        "n_shipments",
        "mean_lag_days",
        "p95_lag_days",
        F.expr("__late * 1000000 DIV n_shipments")
        .cast("bigint")
        .alias("late_ppm"),
        (
            F.expr("__late * 1000000 DIV n_shipments") > F.lit(gppm)
        ).alias("worse_than_fleet"),
    )


SQL_SUPPLIER_SHIP_SLA = """
WITH lag AS (
  SELECT l.l_suppkey,
         (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) // 86400000000
           AS lag_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), base AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_shipments,
         CAST(SUM(lag_days) // COUNT(*) AS BIGINT) AS mean_lag_days,
         CAST(COALESCE(SUM(CASE WHEN lag_days > 90 THEN 1 END), 0) AS BIGINT)
           AS late
  FROM lag GROUP BY 1
), hist AS (
  SELECT l_suppkey, lag_days AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM lag GROUP BY 1, 2
), cm AS (
  SELECT l_suppkey, v, c,
         SUM(c) OVER (PARTITION BY l_suppkey ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY l_suppkey) AS n
  FROM hist
), p95 AS (
  SELECT l_suppkey,
         CAST(MIN(CASE WHEN cum*100 >= n*95 THEN v END) AS BIGINT)
           AS p95_lag_days
  FROM cm GROUP BY 1
), fleet AS (
  SELECT SUM(late) * 1000000 // SUM(n_shipments) AS gppm FROM base
)
SELECT b.l_suppkey, b.n_shipments, b.mean_lag_days, p.p95_lag_days,
       CAST(b.late * 1000000 // b.n_shipments AS BIGINT) AS late_ppm,
       b.late * 1000000 // b.n_shipments > (SELECT gppm FROM fleet)
         AS worse_than_fleet
FROM base b JOIN p95 p USING (l_suppkey)
"""


# --------------------------------------------------------------------------
# Round-8 ninth batch: cross-table status reconciliation.


def q_order_status_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table state reconciliation: per order, the status DERIVED
    from its lineitems (all linestatus 'F' → 'F', none → 'O', mixed →
    'P'; no lineitems → '-') against the DECLARED o_orderstatus, as a
    (declared, derived) census with match counts — the referential
    state-machine audit a warehouse runs after every load. One
    lineitem aggregate keyed by order (map-side combined), one
    broadcast-eligible join back to orders, one tiny census aggregate.
    Hash-oracled."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    derived = li.groupBy("l_orderkey").agg(
        F.coalesce(F.sum(F.when(F.col("l_linestatus") == "F", 1)), F.lit(0)).alias(
            "__nf"
        ),
        F.count(F.lit(1)).alias("__n"),
    )
    joined = orders.join(
        derived, orders["o_orderkey"] == derived["l_orderkey"], "left"
    ).select(
        F.col("o_orderstatus").alias("declared"),
        F.when(F.col("__n").isNull(), F.lit("-"))
        .when(F.col("__nf") == F.col("__n"), F.lit("F"))
        .when(F.col("__nf") == 0, F.lit("O"))
        .otherwise(F.lit("P"))
        .alias("derived"),
    )
    return (
        joined.groupBy("declared", "derived")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .withColumn("consistent", F.col("declared") == F.col("derived"))
    )


SQL_ORDER_STATUS_RECONCILIATION = """
WITH derived AS (
  SELECT l_orderkey,
         CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN 1 END), 0)
              AS BIGINT) AS nf,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1
), joined AS (
  SELECT o.o_orderstatus AS declared,
         CASE WHEN d.n IS NULL THEN '-'
              WHEN d.nf = d.n THEN 'F'
              WHEN d.nf = 0 THEN 'O'
              ELSE 'P' END AS derived
  FROM orders o LEFT JOIN derived d ON d.l_orderkey = o.o_orderkey
)
SELECT declared, derived, CAST(COUNT(*) AS BIGINT) AS n_orders,
       declared = derived AS consistent
FROM joined GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Round-8 tenth batch: forecast backtest, churn census.


def q_events_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every real
    forecasting system must beat, evaluated the warehouse way: predict
    each hour's mean value with the SAME HOUR YESTERDAY (lag 24 on the
    hourly-bin table) and report per event_type the error profile over
    all scored hours: n scored, MAE and bias on the integer-micros
    lattice, and MAPE in ppm (each term ``|err|·10⁶ DIV |actual|``,
    zero-actual hours excluded from MAPE by contract). The only
    row-scaled exchange is the hourly-bin aggregate; the lag/score
    pass is bin-count-sized. Hash-oracled."""
    events = load_table(spark, sf_dir, "events")
    bins = (
        events.filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.expr("unix_micros(ts) DIV 3600000000").alias("__bin"),
        )
        .agg(
            F.expr("sum(floor(value * 1000000.0)) DIV count(1)").alias("__v")
        )
    )
    w = Window.partitionBy("event_type").orderBy("__bin")
    scored = (
        bins.withColumn("__pred", F.lag("__v", 24).over(w))
        .withColumn("__gap", F.col("__bin") - F.lag("__bin", 24).over(w))
        # the prediction is only valid when the lag-24 ROW is exactly 24
        # bins back (sparse hours would otherwise misalign the season)
        .filter(F.col("__pred").isNotNull() & (F.col("__gap") == 24))
        .withColumn("__err", F.col("__v") - F.col("__pred"))
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.expr("sum(abs(__err)) DIV count(1)").cast("bigint").alias(
            "mae_micros"
        ),
        F.expr("sum(__err) DIV count(1)").cast("bigint").alias("bias_micros"),
        F.expr(
            "sum(CASE WHEN __v != 0 THEN abs(__err) * 1000000 DIV abs(__v) END)"
            " DIV sum(CASE WHEN __v != 0 THEN 1 END)"
        )
        .cast("bigint")
        .alias("mape_ppm"),
    )


SQL_EVENTS_SEASONAL_BACKTEST = """
WITH bins AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS bin,
         SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) // COUNT(*) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), scored AS (
  SELECT event_type, v,
         LAG(v, 24) OVER w AS pred,
         bin - LAG(bin, 24) OVER w AS gap
  FROM bins WINDOW w AS (PARTITION BY event_type ORDER BY bin)
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(SUM(ABS(v - pred)) // COUNT(*) AS BIGINT) AS mae_micros,
       CAST(SUM(v - pred) // COUNT(*) AS BIGINT) AS bias_micros,
       CAST(SUM(CASE WHEN v != 0
                THEN ABS(v - pred) * 1000000 // ABS(v) END)
            // SUM(CASE WHEN v != 0 THEN 1 END) AS BIGINT) AS mape_ppm
FROM scored WHERE pred IS NOT NULL AND gap = 24
GROUP BY 1
"""


def q_user_churn_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn/retention census: split each user's activity at the corpus
    time midpoint and count, per event_type a user EVER emitted, how
    many of its users were retained (active both halves), churned
    (early only), or acquired (late only) — plus churn ppm among the
    early base. Two map-combined aggregates past one scan; the census
    is event-type-sized. Hash-oracled."""
    events = load_table(spark, sf_dir, "events")
    pts = events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    mid = pts.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) DIV 2").alias(
            "__mid"
        )
    )
    flags = (
        pts.join(F.broadcast(mid))
        .groupBy("event_type", "user_id")
        .agg(
            F.max(
                F.when(F.expr("unix_micros(ts)") <= F.col("__mid"), 1).otherwise(0)
            ).alias("__e"),
            F.max(
                F.when(F.expr("unix_micros(ts)") > F.col("__mid"), 1).otherwise(0)
            ).alias("__l"),
        )
    )
    return (
        flags.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.expr("__e * __l")).cast("bigint").alias("retained"),
            F.sum(F.expr("__e * (1 - __l)")).cast("bigint").alias("churned"),
            F.sum(F.expr("(1 - __e) * __l")).cast("bigint").alias("acquired"),
        )
        .withColumn(
            "churn_ppm",
            F.expr(
                "CASE WHEN retained + churned > 0 THEN"
                " churned * 1000000 DIV (retained + churned) END"
            ).cast("bigint"),
        )
    )


SQL_USER_CHURN_CENSUS = """
WITH pts AS (
  SELECT event_type, user_id, epoch_us(ts) AS us
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), mid AS (
  SELECT (MIN(us) + MAX(us)) // 2 AS m FROM pts
), flags AS (
  SELECT event_type, user_id,
         MAX(CASE WHEN us <= (SELECT m FROM mid) THEN 1 ELSE 0 END) AS e,
         MAX(CASE WHEN us > (SELECT m FROM mid) THEN 1 ELSE 0 END) AS l
  FROM pts GROUP BY 1, 2
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(e * l) AS BIGINT) AS retained,
       CAST(SUM(e * (1 - l)) AS BIGINT) AS churned,
       CAST(SUM((1 - e) * l) AS BIGINT) AS acquired,
       CAST(CASE WHEN SUM(e) > 0 THEN
              SUM(e * (1 - l)) * 1000000 // SUM(e) END AS BIGINT) AS churn_ppm
FROM flags GROUP BY 1
"""


# --------------------------------------------------------------------------
# Round-8 eleventh batch: ABC/Pareto census, join-skew diagnosis, duplicate
# payment screen.


def q_part_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue
    (cents lattice), classified A while the RUNNING share is below 80%
    of total, B below 95%, C otherwise — ties broken by part key so
    the classification is a pure function of the data. Reported as the
    class census (n_parts, revenue, share ppm per class). The fact
    scan collapses at the part aggregate (map-combined); the running
    share comes from :func:`operators.ordered.global_ordered_scan` —
    the part table is CARDINALITY-SCALED (grows with the corpus), so
    the rank must be the two-pass range-partitioned cumulative sum,
    never an unpartitioned window funneling every part through one
    task. Running/total revenue ride the decimal(38,0) lattice (int64
    × 100 overflows at ~10⁸ parts). Hash-oracled."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.expr(
                "CAST(floor(l_extendedprice * (1.0D - l_discount) * 100)"
                " AS BIGINT)"
            )
        ).alias("__rev")
    )
    return _abc_census(rev)


def _abc_census(rev: DataFrame) -> DataFrame:
    """Running-share ABC classification of a per-part (l_partkey,
    __rev) frame — shared by the batch ``part_abc_analysis`` and its
    streaming rollup twin, which is what lets the twin share the batch
    hash oracle."""
    classed = global_ordered_scan(
        rev,
        [F.col("__rev").desc(), F.col("l_partkey").asc()],
        "__rev",
        cum_col="__cum",
        total_col="__tot",
    ).withColumn(
        "abc_class",
        F.when(F.expr("__cum * 100 <= __tot * 80"), F.lit("A"))
        .when(F.expr("__cum * 100 <= __tot * 95"), F.lit("B"))
        .otherwise(F.lit("C")),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("__rev").cast("bigint").alias("revenue_cents"),
            F.expr(
                "CAST(sum(__rev) AS DECIMAL(38,0)) * 1000000 DIV max(__tot)"
            )
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


SQL_PART_ABC_ANALYSIS = """
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS r
  FROM lineitem GROUP BY 1
), classed AS (
  SELECT r,
         SUM(r) OVER (ORDER BY r DESC, l_partkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(r) OVER () AS tot
  FROM rev
)
SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
            WHEN cum * 100 <= tot * 95 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(r) AS BIGINT) AS revenue_cents,
       CAST(SUM(r) * 1000000 // MAX(tot) AS BIGINT) AS share_ppm
FROM classed GROUP BY 1
"""


def q_join_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnosis for orders ⋈ lineitem on the order key —
    the "why is my join slow" report, computed WITHOUT running the
    join: both sides collapse to per-key counts (map-combined), meet
    in a full-outer key merge, and fold into 32 hash-bucket rows
    carrying each bucket's row counts, exact JOIN OUTPUT size
    (Σ left·right — what the shuffle reducer for that bucket would
    materialize), the bucket's heaviest key and its share of the
    bucket's output. A bucket whose `est_pairs` dwarfs the rest is the
    straggler; `top_key_ppm` says whether salting (one hot key) or
    repartitioning (many) is the cure. Hash-oracled."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lcnt = orders.groupBy(F.col("o_orderkey").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__l")
    )
    rcnt = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__r")
    )
    per_key = (
        lcnt.join(rcnt, "key", "full_outer")
        .select(
            "key",
            F.coalesce("__l", F.lit(0)).alias("__l"),
            F.coalesce("__r", F.lit(0)).alias("__r"),
        )
        .withColumn("__pairs", F.expr("__l * __r"))
        # engine-replayable LCG mix (sampling.hash_u31) as the
        # deterministic stand-in for the shuffle partitioner's hash
        .withColumn("__bucket", (_SK.hash_u31("key") % 32).cast("int"))
    )
    return (
        per_key.groupBy("__bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("__l").cast("bigint").alias("left_rows"),
            F.sum("__r").cast("bigint").alias("right_rows"),
            F.sum("__pairs").cast("bigint").alias("est_pairs"),
            F.max("__pairs").cast("bigint").alias("max_key_pairs"),
        )
        .select(
            F.col("__bucket").alias("bucket"),
            "n_keys",
            "left_rows",
            "right_rows",
            "est_pairs",
            F.expr(
                "CASE WHEN est_pairs > 0 THEN"
                " max_key_pairs * 1000000 DIV est_pairs END"
            )
            .cast("bigint")
            .alias("top_key_ppm"),
        )
    )


SQL_JOIN_SKEW_DIAGNOSIS = """
WITH l AS (
  SELECT o_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS ln
  FROM orders GROUP BY 1
), r AS (
  SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS rn
  FROM lineitem GROUP BY 1
), per_key AS (
  SELECT COALESCE(l.key, r.key) AS key,
         COALESCE(ln, 0) AS ln, COALESCE(rn, 0) AS rn,
         COALESCE(ln, 0) * COALESCE(rn, 0) AS pairs
  FROM l FULL OUTER JOIN r ON l.key = r.key
)
SELECT CAST((((((((CAST(key AS BIGINT) % 2147483648) + 2147483648) % 2147483648) * 1103515245 + 12345) % 2147483648) * 1103515245 + 12345) % 2147483648) % 32 AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(ln) AS BIGINT) AS left_rows,
       CAST(SUM(rn) AS BIGINT) AS right_rows,
       CAST(SUM(pairs) AS BIGINT) AS est_pairs,
       CAST(CASE WHEN SUM(pairs) > 0 THEN
              MAX(pairs) * 1000000 // SUM(pairs) END AS BIGINT)
         AS top_key_ppm
FROM per_key GROUP BY 1
"""


def q_orders_dup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen: orders sharing the exact
    (customer, amount-cents, order date) triple — the classic
    double-billing / replayed-ingest detector. One map-combined
    aggregate to triple groups, one tiny fold to the verdict row:
    duplicate groups, excess orders (rows beyond the first of each
    group), the largest clone group, and the excess amount at risk.
    Hash-oracled."""
    orders = load_table(spark, sf_dir, "orders")
    groups = orders.groupBy(
        "o_custkey",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("__cents"),
        "o_orderdate",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    dup = F.col("__n") > 1
    return groups.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.coalesce(F.sum(F.when(dup, 1)), F.lit(0))
        .cast("bigint")
        .alias("dup_groups"),
        F.coalesce(F.sum(F.when(dup, F.col("__n") - 1)), F.lit(0))
        .cast("bigint")
        .alias("excess_orders"),
        F.max("__n").cast("bigint").alias("max_clone_group"),
        F.coalesce(
            F.sum(F.when(dup, (F.col("__n") - 1) * F.col("__cents"))), F.lit(0)
        )
        .cast("bigint")
        .alias("excess_cents"),
    )


SQL_ORDERS_DUP_SCREEN = """
WITH groups AS (
  SELECT o_custkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderdate, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2, 3
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(COALESCE(SUM(CASE WHEN n > 1 THEN 1 END), 0) AS BIGINT)
         AS dup_groups,
       CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n - 1 END), 0) AS BIGINT)
         AS excess_orders,
       CAST(MAX(n) AS BIGINT) AS max_clone_group,
       CAST(COALESCE(SUM(CASE WHEN n > 1 THEN (n - 1) * cents END), 0)
            AS BIGINT) AS excess_cents
FROM groups
"""


# --------------------------------------------------------------------------
# Round-8 twelfth batch: Wilson intervals, calendar seasonality matrix,
# revenue Gini.


def q_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user-cohort conversion rate with the Wilson 95% score
    interval — the small-sample-honest bound a dashboard should show
    instead of the naive rate ± nothing (cohort = user_id % 10, the
    deterministic assignment decile; conversion = purchase events).
    Counts stay integers through one map-combined aggregate; the
    Wilson bounds are the textbook expression evaluated once over
    those integers (z = 1.959964) — the identical IEEE double both
    engines compute, rounded to 6, so the verdict is hash-exact.

    Returns per cohort: ``(cohort, n, conversions, rate_ppm,
    wilson_lo, wilson_hi)``."""
    events = load_table(spark, sf_dir, "events")
    armed = events.filter(F.col("user_id").isNotNull()).select(
        F.pmod(F.col("user_id"), F.lit(10)).cast("int").alias("cohort"),
        (F.col("event_type") == "purchase").alias("__c"),
    )
    base = armed.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum(F.when(F.col("__c"), 1)), F.lit(0))
        .cast("bigint")
        .alias("conversions"),
    )
    z2 = "3.8414188712"  # 1.959964^2, fixed literal on both engines
    center = f"(CAST(conversions AS DOUBLE) + {z2} / 2.0D) / (n + {z2})"
    half = (
        f"1.959964D * sqrt(CAST(conversions AS DOUBLE) * (n - conversions)"
        f" / n + {z2} / 4.0D) / (n + {z2})"
    )
    return base.select(
        "cohort",
        "n",
        "conversions",
        F.expr("conversions * 1000000 DIV n").cast("bigint").alias("rate_ppm"),
        F.expr(f"round({center} - {half}, 6)").alias("wilson_lo"),
        F.expr(f"round({center} + {half}, 6)").alias("wilson_hi"),
    )


SQL_CONVERSION_WILSON_CI = """
WITH base AS (
  SELECT CAST(((user_id % 10) + 10) % 10 AS INTEGER) AS cohort,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0)
              AS BIGINT) AS conversions
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT cohort, n, conversions,
       CAST(conversions * 1000000 // n AS BIGINT) AS rate_ppm,
       ROUND((CAST(conversions AS DOUBLE) + 3.8414188712 / 2.0)
               / (n + 3.8414188712)
             - 1.959964 * sqrt(CAST(conversions AS DOUBLE) * (n - conversions)
                               / n + 3.8414188712 / 4.0)
               / (n + 3.8414188712), 6) AS wilson_lo,
       ROUND((CAST(conversions AS DOUBLE) + 3.8414188712 / 2.0)
               / (n + 3.8414188712)
             + 1.959964 * sqrt(CAST(conversions AS DOUBLE) * (n - conversions)
                               / n + 3.8414188712 / 4.0)
               / (n + 3.8414188712), 6) AS wilson_hi
FROM base
"""


def q_events_dow_hour_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality matrix: (day-of-week, hour-of-day) event
    volume and mean value micros — the heat map behind alert-baseline
    and staffing decisions. One map-combined aggregate to at most 168
    cells, each carrying volume, mean value, and its share of the
    week in ppm (a tiny window over the cell table). Hash-oracled
    (dow convention pinned: 1 = Sunday on both engines)."""
    events = load_table(spark, sf_dir, "events")
    pts = events.filter(F.col("ts").isNotNull())
    cells = pts.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            "sum(CASE WHEN value IS NOT NULL THEN floor(value * 1000000.0) END)"
            " DIV count(CASE WHEN value IS NOT NULL THEN 1 END)"
        )
        .cast("bigint")
        .alias("mean_value_micros"),
    )
    wall = Window.partitionBy()
    return cells.withColumn(
        "__tot", F.sum("n_events").over(wall)
    ).select(
        "dow",
        "hour",
        "n_events",
        "mean_value_micros",
        F.expr("n_events * 1000000 DIV __tot").cast("bigint").alias(
            "share_ppm"
        ),
    )


SQL_EVENTS_DOW_HOUR_MATRIX = """
WITH cells AS (
  SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
         CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN value IS NOT NULL
                       THEN CAST(FLOOR(value * 1000000.0) AS BIGINT) END)
              // COUNT(CASE WHEN value IS NOT NULL THEN 1 END) AS BIGINT)
           AS mean_value_micros
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
)
SELECT dow, hour, n_events, mean_value_micros,
       CAST(n_events * 1000000 // SUM(n_events) OVER () AS BIGINT)
         AS share_ppm
FROM cells
"""


def q_customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-inequality Gini over customers — the classic
    concentration scalar next to HHI (`bucket_key_concentration`) and
    the ABC census: with per-customer revenue x₍ᵢ₎ sorted ascending,

        G = (2·Σ i·x₍ᵢ₎) / (n·Σx) − (n+1)/n

    reported in exact ppm by clearing denominators: ``gini_ppm =
    (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) · 10⁶ DIV (n·Σx)`` — pure BIGINT on the
    cents lattice (rank ties broken by customer key, a pure function
    of the data). The fact scan collapses at the customer aggregate;
    the customer table is CARDINALITY-SCALED, so the global rank comes
    from :func:`operators.ordered.global_ordered_scan`'s two-pass
    range-partitioned zip-with-index — never an unpartitioned window
    funneling every customer through one task's sort. One verdict row.
    Hash-oracled."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).alias("__x")
    )
    ranked = global_ordered_scan(
        per,
        [F.col("__x").asc(), F.col("o_custkey").asc()],
        "__x",
        rank_col="__i",
        with_cum=False,  # rank-only: skip the cum window + totals join
    )
    # decimal(38,0) end-to-end: the cleared numerator x 10^6 tops
    # 5e19 at sf0.01 already — past int64; DuckDB's SUM is HUGEINT.
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("__x").cast("bigint").alias("revenue_cents"),
        F.expr(
            "CAST((2 * sum(CAST(__i AS DECIMAL(38,0)) * __x)"
            " - (count(1) + 1) * sum(CAST(__x AS DECIMAL(38,0)))) * 1000000"
            " DIV (count(1) * sum(CAST(__x AS DECIMAL(38,0)))) AS BIGINT)"
        ).alias("gini_ppm"),
    )


SQL_CUSTOMER_REVENUE_GINI = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
), ranked AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i FROM per
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(x) AS BIGINT) AS revenue_cents,
       CAST((2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x)) * 1000000
            // (COUNT(*) * SUM(x)) AS BIGINT) AS gini_ppm
FROM ranked
"""


# --------------------------------------------------------------------------
# Round-8 thirteenth batch: trade matrix, peak census, decayed engagement.


def q_nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full nation-pair trade matrix — TPC-H Q7 generalized from two
    hard-coded nations to the complete (supplier nation, customer
    nation) census: revenue cents and lineitem count per ordered pair.
    The join pipeline is the snowflake shape; the census aggregate is
    at most nations² rows (ONE map-combined exchange carrying ≤ 625
    partial rows per task). Hash-oracled.

    Plan (re-planned r12 — the third-decade grow probe caught the old
    shape bending super-linear at 300× keys: 68.4× vs 7.5× at 100×,
    because customer and supplier were FORCE-broadcast and both GROW
    with the data — at 300× the forced customer broadcast is a 4.5M-row
    hash relation every executor must build, and at 100 TB it would
    OOM outright). Measured A/B/C at 300× before settling
    (docs/SCALE.md round-12): unhinting alone is WORSE (75× — AQE
    sort-merge-joins the full fact on BOTH dim keys, and the SORT of
    5.6M-row partitions is the real killer: li⋈orders SMJ 136 s vs
    21.8 s SHUFFLE_HASH); a (l_suppkey, cust_nation) pre-aggregate is
    a false economy (7.5M groups ≈ no map-side reduction, 214 s). The
    scale shape: fold the 25-value cust_nation onto orders first
    (orders-sized SHUFFLE_HASH — hash side is the customer map, which
    byte-sized shuffle partitioning keeps per-task-memory-bounded),
    carry it through the ONE unavoidable fact-scaled exchange
    (SHUFFLE_HASH, order-map hashed — no 180M-row sort), put
    supp_nation on the fact via a size-aware dim join (broadcast while
    the supplier map is under ~64 MB on disk — 100 TB suppliers flip
    to a shuffle-hash join automatically), and aggregate straight to
    the ≤ 625-row census, whose map-side partials are genuinely tiny.
    Only the 25-row nation dim keeps an unconditional broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    supp_n = supp.join(
        F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust_n = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    ord_n = orders.select("o_orderkey", "o_custkey").join(
        cust_n.hint("SHUFFLE_HASH"), F.col("o_custkey") == cust_n["c_custkey"]
    ).select("o_orderkey", "cust_nation")
    fact = li.select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "CAST(floor(l_extendedprice * (1.0D - l_discount) * 100)"
            " AS BIGINT)"
        ).alias("rev_cents"),
    ).join(
        ord_n.hint("SHUFFLE_HASH"), F.col("l_orderkey") == ord_n["o_orderkey"]
    )
    supp_small = _table_bytes(spark, sf_dir, "supplier") < (64 << 20)
    fact = fact.join(
        F.broadcast(supp_n) if supp_small else supp_n.hint("SHUFFLE_HASH"),
        fact["l_suppkey"] == supp_n["s_suppkey"],
    )
    return fact.groupBy("supp_nation", "cust_nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        F.sum("rev_cents").cast("bigint").alias("revenue_cents"),
    )


SQL_NATION_TRADE_MATRIX = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
GROUP BY 1, 2
"""


def q_events_peak_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak census over each series' hourly-bin mean signal: bins that
    are STRICT local maxima (higher than both observed neighbors) and
    at least 25% above the series' integer mean — the alert-worthy
    spike counter. The bin aggregate is the only row-scaled exchange;
    the neighbor windows run over bin-count-sized data. Returns per
    series: bins, peaks, peak share ppm, and the tallest peak's value
    and bin (value ties to the later bin on both engines).
    Hash-oracled."""
    events = load_table(spark, sf_dir, "events")
    bins = (
        events.filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.expr("unix_micros(ts) DIV 3600000000").alias("__bin"),
        )
        .agg(F.expr("sum(floor(value * 1000000.0)) DIV count(1)").alias("__v"))
    )
    w = Window.partitionBy("event_type").orderBy("__bin")
    flagged = (
        bins.withColumn("__prev", F.lag("__v").over(w))
        .withColumn("__next", F.lead("__v").over(w))
        .withColumn(
            "__mean",
            F.expr(
                "sum(__v) OVER (PARTITION BY event_type)"
                " DIV count(1) OVER (PARTITION BY event_type)"
            ),
        )
        .withColumn(
            "__peak",
            (
                F.col("__prev").isNotNull()
                & F.col("__next").isNotNull()
                & (F.col("__v") > F.col("__prev"))
                & (F.col("__v") > F.col("__next"))
                & F.expr("__v * 4 > __mean * 5")
            ).cast("int"),
        )
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("__peak").cast("bigint").alias("n_peaks"),
        F.expr("sum(__peak) * 1000000 DIV count(1)")
        .cast("bigint")
        .alias("peak_ppm"),
        F.max(F.when(F.col("__peak") == 1, F.col("__v")))
        .cast("bigint")
        .alias("max_peak_micros"),
        F.max(
            F.when(
                F.col("__peak") == 1,
                F.struct(F.col("__v").alias("v"), F.col("__bin").alias("b")),
            )
        )["b"]
        .cast("bigint")
        .alias("max_peak_bin"),
    )


SQL_EVENTS_PEAK_CENSUS = """
WITH bins AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS bin,
         SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) // COUNT(*) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2
), flagged AS (
  SELECT event_type, bin, v,
         CASE WHEN LAG(v) OVER o IS NOT NULL AND LEAD(v) OVER o IS NOT NULL
                   AND v > LAG(v) OVER o AND v > LEAD(v) OVER o
                   AND v * 4 > (SUM(v) OVER p // COUNT(*) OVER p) * 5
              THEN 1 ELSE 0 END AS peak
  FROM bins
  WINDOW o AS (PARTITION BY event_type ORDER BY bin),
         p AS (PARTITION BY event_type)
), best AS (
  SELECT event_type, v, bin,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY v DESC, bin DESC) AS rn
  FROM flagged WHERE peak = 1
)
SELECT f.event_type, CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(f.peak) AS BIGINT) AS n_peaks,
       CAST(SUM(f.peak) * 1000000 // COUNT(*) AS BIGINT) AS peak_ppm,
       CAST(MAX(CASE WHEN f.peak = 1 THEN f.v END) AS BIGINT)
         AS max_peak_micros,
       CAST(MAX(b.bin) AS BIGINT) AS max_peak_bin
FROM flagged f
LEFT JOIN best b ON b.event_type = f.event_type AND b.rn = 1
GROUP BY 1
"""


def q_user_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed engagement score, integer-exact: each event
    contributes ``value_micros DIV 2^k`` with ``k = age_days DIV 30``
    (age measured back from the corpus max timestamp) — halving every
    30 days via exact powers of two (representable exactly as doubles
    through 2⁶²), so the score is engine-exact with no float decay
    anywhere. Reported per user-decile cohort: events, raw and decayed
    micros, retention ppm. One fact aggregate after a broadcast max-ts
    join. Hash-oracled."""
    events = load_table(spark, sf_dir, "events")
    pts = events.filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    mx = pts.agg(F.expr("max(unix_micros(ts))").alias("__mx"))
    staged = pts.join(F.broadcast(mx)).select(
        F.pmod(F.col("user_id"), F.lit(10)).cast("int").alias("cohort"),
        F.expr("CAST(floor(value * 1000000.0) AS BIGINT)").alias("__vm"),
        F.expr(
            "CAST((__mx - unix_micros(ts)) DIV 86400000000 DIV 30 AS INT)"
        ).alias("__k"),
    )
    return (
        staged.withColumn(
            "__dv", F.expr("__vm DIV CAST(pow(2, LEAST(__k, 62)) AS BIGINT)")
        )
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("__vm").cast("bigint").alias("raw_micros"),
            F.sum("__dv").cast("bigint").alias("decayed_micros"),
        )
        .withColumn(
            "retention_ppm",
            # decimal(38,0): decayed x 10^6 passes int64 at ~10^7 events
            # (the Gini lesson — ratios on big sums go through decimal)
            F.expr(
                "CASE WHEN raw_micros != 0 THEN"
                " CAST(decayed_micros AS DECIMAL(38,0)) * 1000000"
                " DIV raw_micros END"
            ).cast("bigint"),
        )
    )


SQL_USER_DECAYED_VALUE = """
WITH mx AS (
  SELECT MAX(epoch_us(ts)) AS m FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
), staged AS (
  SELECT CAST(((user_id % 10) + 10) % 10 AS INTEGER) AS cohort,
         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS vm,
         CAST(((SELECT m FROM mx) - epoch_us(ts)) // 86400000000 // 30
              AS INTEGER) AS k
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
)
SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(vm) AS BIGINT) AS raw_micros,
       CAST(SUM(vm // CAST(POW(2, LEAST(k, 62)) AS BIGINT)) AS BIGINT)
         AS decayed_micros,
       CAST(CASE WHEN SUM(vm) != 0 THEN
              SUM(vm // CAST(POW(2, LEAST(k, 62)) AS BIGINT)) * 1000000
              // SUM(vm) END AS BIGINT) AS retention_ppm
FROM staged GROUP BY 1
"""


# --------------------------------------------------------------------------
# Round-9 first batch: Pareto coverage, Lorenz deciles, point-in-time
# FX enrichment — the first two are further consumers of the
# distributed global ordered scan (operators/ordered.py), the third is
# the second as-of family member (effective-dated dimension join).


def q_user_value_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto coverage census: for each coverage threshold (50/90/99%
    of total event value), the MINIMAL number of top users whose
    combined value reaches it, the value they cover, and its exact
    share — the "how concentrated is engagement" verdict next to the
    Gini scalar. A user is in the minimal prefix iff the running total
    EXCLUDING them is still below the threshold. The user table is
    cardinality-scaled, so the descending rank/running sum comes from
    the distributed ordered scan — never an unpartitioned window.
    Exact micros lattice end-to-end; ties broken by user id.
    Hash-oracled."""
    events = load_table(spark, sf_dir, "events")
    per = (
        events.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.expr("CAST(floor(value * 1000000.0) AS BIGINT)")),
                F.lit(0),
            ).alias("__x")
        )
    )
    scanned = global_ordered_scan(
        per,
        [F.col("__x").desc(), F.col("user_id").asc()],
        "__x",
        cum_col="__cum",
        total_col="__tot",
    )
    th = F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias(
        "threshold_pct"
    )
    staged = scanned.select(
        "__x", "__cum", "__tot", th
    ).withColumn(
        "__in_prefix",
        F.expr("(__cum - __x) * 100 < __tot * threshold_pct"),
    )
    return (
        staged.groupBy("threshold_pct")
        .agg(
            F.sum(F.expr("CASE WHEN __in_prefix THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_users"),
            F.expr("CAST(max(CASE WHEN __in_prefix THEN __cum END) AS BIGINT)")
            .alias("covered_value_micros"),
            F.expr(
                "CAST(max(CASE WHEN __in_prefix THEN __cum END) * 1000000"
                " DIV max(__tot) AS BIGINT)"
            ).alias("share_ppm"),
        )
        .select("threshold_pct", "n_users", "covered_value_micros", "share_ppm")
    )


SQL_USER_VALUE_PARETO = """
WITH per AS (
  SELECT user_id,
         COALESCE(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)), 0) AS x
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), ranked AS (
  SELECT x,
         SUM(x) OVER (ORDER BY x DESC, user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(x) OVER () AS tot
  FROM per
), staged AS (
  SELECT t.threshold_pct, x, cum, tot,
         (cum - x) * 100 < tot * t.threshold_pct AS in_prefix
  FROM ranked CROSS JOIN (SELECT UNNEST([50, 90, 99]) AS threshold_pct) t
)
SELECT CAST(threshold_pct AS INTEGER) AS threshold_pct,
       CAST(SUM(CASE WHEN in_prefix THEN 1 ELSE 0 END) AS BIGINT) AS n_users,
       CAST(MAX(CASE WHEN in_prefix THEN cum END) AS BIGINT)
         AS covered_value_micros,
       CAST(MAX(CASE WHEN in_prefix THEN cum END) * 1000000 // MAX(tot)
            AS BIGINT) AS share_ppm
FROM staged GROUP BY 1
"""


def _lorenz_census(per: DataFrame) -> DataFrame:
    """Lorenz-decile readout of a per-customer ``(o_custkey, __x)``
    revenue frame — shared by the batch ``customer_lorenz_deciles``
    and its streaming rollup twin, which is what lets the twin share
    the batch hash oracle. Rank and running sum ride the distributed
    ordered scan; everything after it is decile-sized."""
    scanned = global_ordered_scan(
        per,
        [F.col("__x").asc(), F.col("o_custkey").asc()],
        "__x",
        rank_col="__i",
        cum_col="__cum",
        total_col="__tot",
        count_col="__n",
    )
    return (
        scanned.withColumn(
            "decile", F.expr("CAST((__i - 1) * 10 DIV __n AS INTEGER)")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("__x").cast("bigint").alias("revenue_cents"),
            F.expr(
                "CAST(max(__cum) * 1000000 DIV max(__tot) AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
    )


def q_customer_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve deciles over customer revenue: customers ranked
    ASCENDING by revenue (cents lattice, ties by key), split into ten
    equal-count rank deciles ``(rank-1)*10 DIV n``, each reporting its
    customer count, revenue, and the CUMULATIVE revenue share through
    it — the curve whose area the Gini scalar summarizes (a uniform
    corpus walks the diagonal; fixture bottom deciles carry far less).
    The rank and running sum come from the distributed ordered scan;
    everything after it is decile-sized. Hash-oracled."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).alias("__x")
    )
    return _lorenz_census(per)


SQL_CUSTOMER_LORENZ_DECILES = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
), ranked AS (
  SELECT x, o_custkey,
         ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i,
         SUM(x) OVER (ORDER BY x, o_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(x) OVER () AS tot,
         COUNT(*) OVER () AS n
  FROM per
)
SELECT CAST((i - 1) * 10 // n AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(x) AS BIGINT) AS revenue_cents,
       CAST(MAX(cum) * 1000000 // MAX(tot) AS BIGINT) AS cum_share_ppm
FROM ranked GROUP BY 1
"""


def q_orders_pit_fx_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join — the second as-of family member
    (VERDICT r8 item 8): an effective-dated rate dimension (25
    markets ``o_custkey % 25``; a new rate lands only every third
    market-month, each effective UNTIL SUPERSEDED — the gap months are
    what make it an as-of join, not a key join) built in-plan as a
    pure function of the order-date range, then every order enriched
    with the rate in force at ``o_orderdate`` and rolled up per
    market: order/matched counts, raw revenue, converted revenue
    (``Σ cents·rate_ppm DIV 10⁶`` on the decimal lattice).

    Scale shape: the dimension is (markets × months) rows — bounded by
    wall clock, built from a 1-row min/max aggregate, LEAD'd within
    market, and BROADCAST onto the fact scan as a range join: the
    standard plan for effective-dated small dimensions, where a
    per-key window union (asof_join's shape, built for high-cardinality
    keys) would funnel the fact table through 25 window partitions.
    Orders before their market's first rate stay unmatched (LEFT
    semantics), counted not dropped. Hash-oracled — the oracle rebuilds
    the same dimension arithmetically and replays the interval match."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(((o_custkey % 25) + 25) % 25 AS INTEGER)").alias(
            "market"
        ),
        F.to_date("o_orderdate").alias("odate"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    bounds = orders.agg(
        F.date_trunc("month", F.min("odate")).cast("date").alias("lo"),
        F.date_trunc("month", F.max("odate")).cast("date").alias("hi"),
    )
    months = bounds.select(
        F.explode(
            F.expr("sequence(lo, hi, interval 1 month)")
        ).alias("month_start"),
        "lo",
    ).select(
        "month_start",
        F.expr(
            "CAST(months_between(month_start, lo) AS INTEGER)"
        ).alias("month_idx"),
    )
    markets = spark.range(25).select(F.col("id").cast("int").alias("market"))
    dim = (
        months.crossJoin(markets)
        .where(F.expr("(market + month_idx) % 3 = 0"))
        .select(
            "market",
            F.col("month_start").alias("valid_from"),
            F.expr(
                "CAST(1000000 + (market * 37 + month_idx * 7919) % 250000"
                " AS BIGINT)"
            ).alias("rate_ppm"),
        )
        .withColumn(
            "valid_to",
            F.lead("valid_from").over(
                Window.partitionBy("market").orderBy("valid_from")
            ),
        )
    )
    enriched = orders.join(
        F.broadcast(dim),
        (orders["market"] == dim["market"])
        & (orders["odate"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (orders["odate"] < dim["valid_to"])),
        "left",
    ).select(orders["market"], "cents", "rate_ppm")
    return enriched.groupBy("market").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.count("rate_ppm").cast("bigint").alias("n_matched"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
        F.expr(
            "CAST(sum(CASE WHEN rate_ppm IS NOT NULL THEN"
            " CAST(cents AS DECIMAL(38,0)) * rate_ppm END)"
            " DIV 1000000 AS BIGINT)"
        ).alias("converted_cents"),
    )


SQL_ORDERS_PIT_FX_ENRICH = """
WITH o AS (
  SELECT CAST(((o_custkey % 25) + 25) % 25 AS INTEGER) AS market,
         CAST(o_orderdate AS DATE) AS odate,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), bounds AS (
  SELECT date_trunc('month', MIN(odate)) AS lo,
         date_trunc('month', MAX(odate)) AS hi
  FROM o
), months AS (
  SELECT CAST(m AS DATE) AS month_start,
         CAST(datediff('month', (SELECT lo FROM bounds), m) AS INTEGER)
           AS month_idx
  FROM (SELECT UNNEST(generate_series((SELECT lo FROM bounds),
                                      (SELECT hi FROM bounds),
                                      INTERVAL 1 MONTH)) AS m)
), dim AS (
  SELECT g.market, month_start AS valid_from,
         CAST(1000000 + (g.market * 37 + month_idx * 7919) % 250000
              AS BIGINT) AS rate_ppm,
         LEAD(month_start) OVER (PARTITION BY g.market
                                 ORDER BY month_start) AS valid_to
  FROM months
  CROSS JOIN (SELECT UNNEST(generate_series(0, 24)) AS market) g
  WHERE (g.market + month_idx) % 3 = 0
)
SELECT o.market,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(rate_ppm) AS BIGINT) AS n_matched,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(CASE WHEN rate_ppm IS NOT NULL
                     THEN CAST(cents AS HUGEINT) * rate_ppm END)
            // 1000000 AS BIGINT) AS converted_cents
FROM o LEFT JOIN dim
  ON o.market = dim.market
 AND o.odate >= dim.valid_from
 AND (dim.valid_to IS NULL OR o.odate < dim.valid_to)
GROUP BY 1
"""


# Staging for the availableNow replays — shared home is
# streaming/staging.py (the lifetime router query in inventory.py needs
# it too); the local alias keeps this module's call sites unchanged.
from prioritizing_event_processing_with_apache_kafka_spark.streaming.staging import (  # noqa: E402
    stage_two_batch_stream as _stage_two_batch_stream,
)


def q_stream_rfm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming RFM census (VERDICT r8 item 8) — the incremental twin
    of ``customer_rfm`` via the mergeable per-key rollup store
    (``streaming/rollup.py``): a REAL two-batch Structured Streaming
    file source (availableNow, maxFilesPerTrigger=1, split at
    1995-06-01) maintains one state row per customer holding the
    (count, max order day, cents sum) triple — each merge commutative
    and associative, so batch-boundary placement CANNOT change the
    final state, which after the last batch is bit-identical to the
    batch per-customer aggregate. The final state feeds the SAME
    quintile scorer (``_rfm_census``), so this query SHARES the batch
    ``customer_rfm`` DuckDB oracle — the decisive evidence the
    incremental path loses nothing. State is #customers rows; no
    window anywhere; each batch is one map-combined aggregate + one
    key merge join."""
    import os
    import shutil
    import tempfile

    from prioritizing_event_processing_with_apache_kafka_spark.streaming.rollup import (
        rollup_foreach_batch,
        rollup_state_result,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="peps-rfm-stream-")
    state_path = os.path.join(root, "state")
    chk = os.path.join(root, "chk")
    try:
        cutoff = F.lit("1995-06-01").cast("timestamp")
        src_dir, schema = _stage_two_batch_stream(
            root,
            [
                orders.filter(F.col("o_orderdate") < cutoff),
                orders.filter(F.col("o_orderdate") >= cutoff),
            ],
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                rollup_foreach_batch(
                    state_path=state_path,
                    key_col="o_custkey",
                    specs=[
                        ("frequency", "count", "1"),
                        (
                            "__last_day",
                            "max",
                            "unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                            " DIV 86400000000",
                        ),
                        (
                            "monetary_cents",
                            "sum",
                            "CAST(floor(o_totalprice * 100) AS BIGINT)",
                        ),
                    ],
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return _rfm_census(
            rollup_state_result(spark, state_path)
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_abc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ABC census — the incremental twin of
    ``part_abc_analysis``: a real two-batch file stream (availableNow,
    split at l_shipdate 1995-06-01) maintains one mergeable state row
    per part (revenue-cents sum, ``streaming/rollup.py``); the final
    state feeds the SAME running-share classifier (``_abc_census``,
    i.e. the distributed global ordered scan), so this query SHARES
    the batch hash oracle. Composition story: streaming state keeps
    the per-key aggregate incremental, the ordered scan keeps the
    global rank distributed — no funnel at either stage."""
    import os
    import shutil
    import tempfile

    from prioritizing_event_processing_with_apache_kafka_spark.streaming.rollup import (
        rollup_foreach_batch,
        rollup_state_result,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    root = tempfile.mkdtemp(prefix="peps-abc-stream-")
    state_path = os.path.join(root, "state")
    chk = os.path.join(root, "chk")
    try:
        cutoff = F.lit("1995-06-01").cast("timestamp")
        src_dir, schema = _stage_two_batch_stream(
            root,
            [
                li.filter(F.col("l_shipdate") < cutoff),
                li.filter(F.col("l_shipdate") >= cutoff),
            ],
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                rollup_foreach_batch(
                    state_path=state_path,
                    key_col="l_partkey",
                    specs=[
                        (
                            "__rev",
                            "sum",
                            "CAST(floor(l_extendedprice * (1.0D - l_discount)"
                            " * 100) AS BIGINT)",
                        ),
                    ],
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return _abc_census(
            rollup_state_result(spark, state_path)
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency estimates for the exact top-20 users
    (``operators/sketches.py:cms_topk_audit``) — the mergeable
    fixed-size counter sketch next to HLL/KLL/Theta, and the estimate
    side of the Misra-Gries detector (`heavy_hitter_users`). The hash
    family is pure int64 arithmetic, so unlike engine-hash sketches
    the WHOLE sketch — cells, estimates, overcount — is hash-oracled:
    DuckDB rebuilds the same 4×512 table and must agree bit-for-bit.
    ``over_n ≥ 0`` structurally (CMS never undercounts)."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
        cms_topk_audit,
    )

    events = load_table(spark, sf_dir, "events")
    return cms_topk_audit(events, key_col="user_id", k=20)


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters (VERDICT r9 item 4) — the incremental
    twin of ``heavy_hitter_users`` via the mergeable Misra-Gries state
    store (``streaming/mgstate.py``): a real two-batch availableNow
    file stream (split at the events midpoint 2024-01-16) maintains at
    most ``capacity`` candidate rows however many distinct users flow
    past — each batch pays one Arrow-batched MG map pass (first
    shuffle capped at ``capacity`` rows per task), one summary-sized
    merge join, and one summary-sized in-plan truncation. MG merges
    are associative, so the streamed summary is a merge tree over the
    same per-partition partials the batch operator folds — identical
    guarantee: every key with true count > accumulated decrement is a
    candidate. The readout recounts ONLY candidates from the retained
    source (the exact-verify pass, same as the batch op) and CERTIFIES
    exactness against the decrement bound (``mg_exact_topk``), so the
    top-20 is EXACT and SHARES the batch ``heavy_hitter_users`` DuckDB
    oracle. Capacity 32768 covers fixture/10× key cardinality with
    zero decrements (see ``q_heavy_hitter_users``'s capacity note);
    the decrement path is crash-replay- and truncation-tested in
    ``tests/test_mgstate_stream.py``."""
    import os
    import shutil
    import tempfile

    from prioritizing_event_processing_with_apache_kafka_spark.streaming.mgstate import (
        mg_exact_topk,
        mg_foreach_batch,
    )

    events = load_table(spark, sf_dir, "events").select("ts", "user_id")
    root = tempfile.mkdtemp(prefix="peps-hh-stream-")
    state_path = os.path.join(root, "state")
    chk = os.path.join(root, "chk")
    try:
        cutoff = F.lit("2024-01-16").cast("timestamp")
        src_dir, schema = _stage_two_batch_stream(
            root,
            [
                events.filter(F.col("ts") < cutoff),
                events.filter(
                    F.col("ts").isNull() | (F.col("ts") >= cutoff)
                ),
            ],
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                mg_foreach_batch(
                    state_path=state_path,
                    key_col="user_id",
                    capacity=32768,
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Certified exact readout (ADVICE r10): recount candidates, then
        # check the 20th count against the accumulated decrement bound;
        # a failed certificate falls back to one full exact recount —
        # see mg_exact_topk. Free on this fixture (capacity >> distinct
        # users ⇒ err_bound 0); loud-and-exact under key growth.
        source = spark.read.parquet(src_dir)
        return mg_exact_topk(
            spark, state_path, source, key_col="user_id", k=20
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_lorenz_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Lorenz deciles (VERDICT r9 item 5) — the incremental
    twin of ``customer_lorenz_deciles``: a real two-batch availableNow
    file stream (split at o_orderdate 1995-06-01) maintains one
    mergeable revenue-cents sum per customer in the rollup store
    (``streaming/rollup.py``); the final state feeds the SAME
    Lorenz-decile readout (``_lorenz_census``, i.e. the distributed
    global ordered scan), so this query SHARES the batch hash oracle.
    Same composition story as ``stream_abc_incremental``: streaming
    state keeps the per-key aggregate incremental, the ordered scan
    keeps the global rank distributed — no funnel at either stage."""
    import os
    import shutil
    import tempfile

    from prioritizing_event_processing_with_apache_kafka_spark.streaming.rollup import (
        rollup_foreach_batch,
        rollup_state_result,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="peps-lorenz-stream-")
    state_path = os.path.join(root, "state")
    chk = os.path.join(root, "chk")
    try:
        cutoff = F.lit("1995-06-01").cast("timestamp")
        src_dir, schema = _stage_two_batch_stream(
            root,
            [
                orders.filter(F.col("o_orderdate") < cutoff),
                orders.filter(F.col("o_orderdate") >= cutoff),
            ],
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                rollup_foreach_batch(
                    state_path=state_path,
                    key_col="o_custkey",
                    specs=[
                        (
                            "__x",
                            "sum",
                            "CAST(floor(o_totalprice * 100) AS BIGINT)",
                        ),
                    ],
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return _lorenz_census(
            rollup_state_result(spark, state_path)
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_HEAVY_HITTERS_CMS = """
WITH keyed AS (
  SELECT user_id AS k FROM events WHERE user_id IS NOT NULL
), cms AS (
  SELECT j, (((37 + 61*j) * k + 13 + 7919*j) % 1000000007 + 1000000007)
           % 1000000007 % 512 AS cell,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM keyed CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS j)
  GROUP BY 1, 2
), top AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM keyed GROUP BY 1
  ORDER BY exact_n DESC, k ASC LIMIT 20
), est AS (
  SELECT top.k, top.exact_n, CAST(MIN(cms.n) AS BIGINT) AS cms_n
  FROM top CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS j) t
  JOIN cms ON cms.j = t.j
          AND cms.cell = (((37 + 61*t.j) * top.k + 13 + 7919*t.j)
                          % 1000000007 + 1000000007) % 1000000007 % 512
  GROUP BY 1, 2
)
SELECT k AS user_id, exact_n, cms_n,
       CAST(cms_n - exact_n AS BIGINT) AS over_n
FROM est
"""


def q_customer_active_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands census over customer activity: per customer the
    DISTINCT active months collapse into runs of consecutive months
    (the classic ``month_num − row_number()`` grouping key — constant
    exactly within a consecutive run), reported as the streak census:
    for each streak length, how many islands and how many distinct
    customers have one. The retention shape a "consecutive-months
    active" loyalty metric reads from. All windows are per-customer
    (key-partitioned — scale-safe); the census aggregate is
    streak-length-sized. Hash-oracled."""
    orders = load_table(spark, sf_dir, "orders")
    months = (
        orders.select(
            "o_custkey",
            F.expr(
                "year(o_orderdate) * 12 + month(o_orderdate)"
            ).cast("bigint").alias("__m"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("__m")
    islands = (
        months.withColumn("__g", F.col("__m") - F.row_number().over(w))
        .groupBy("o_custkey", "__g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("streak_months"))
    )
    return islands.groupBy("streak_months").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
    )


SQL_CUSTOMER_ACTIVE_ISLANDS = """
WITH months AS (
  SELECT DISTINCT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
  FROM orders
), islands AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS streak_months
  FROM (
    SELECT o_custkey, m,
           m - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY m) AS g
    FROM months
  ) GROUP BY o_custkey, g
)
SELECT streak_months,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM islands GROUP BY 1
"""


def q_part_supplier_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite degree census of the part–supplier graph observed in
    lineitem: per part the distinct suppliers that shipped it, per
    supplier the distinct parts it shipped, folded into one
    (side, degree, n_keys) census — the fan-out profile that says
    whether a part→supplier or supplier→part join side is skewed
    BEFORE running it (the bipartite companion to
    `join_skew_diagnosis`). One distinct edge projection (persisted —
    both degree passes read it) + two key aggregates; census output is
    degree-histogram-sized. Hash-oracled."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = scoped_persist(
        li.select("l_partkey", "l_suppkey").where(
            F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
        ).distinct()
    )
    pdeg = (
        edges.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
        .select(F.lit("part").alias("side"), "degree", "n_keys")
    )
    sdeg = (
        edges.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
        .select(F.lit("supplier").alias("side"), "degree", "n_keys")
    )
    return pdeg.unionByName(sdeg)


SQL_PART_SUPPLIER_DEGREE = """
WITH edges AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
), pdeg AS (
  SELECT 'part' AS side, CAST(cnt AS BIGINT) AS degree,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM (SELECT l_partkey, COUNT(*) AS cnt FROM edges GROUP BY 1)
  GROUP BY 2
), sdeg AS (
  SELECT 'supplier' AS side, CAST(cnt AS BIGINT) AS degree,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM (SELECT l_suppkey, COUNT(*) AS cnt FROM edges GROUP BY 1)
  GROUP BY 2
)
SELECT side, degree, n_keys FROM pdeg
UNION ALL
SELECT side, degree, n_keys FROM sdeg
"""


def q_lineitem_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join — the runtime-join-filter pattern,
    relationally: high-value order keys (``o_totalprice ≥ 450000``,
    ~10% of orders) build a 2¹⁸-bit Bloom bitmap in ONE map-combined
    ``bit_or`` pass (``operators/sketches.py:bloom_build``); the
    lineitem scan checks its 3 bits as a PURE PROJECTION against the
    broadcast dense bitmap (32 KB — zero probe-side shuffle,
    ``bloom_might_contain``); only survivors reach the exact
    verification join. At 100 TB this is the difference between
    shuffling the whole fact table into the semi-join and shuffling
    the ~10% that can possibly match. Output census per return flag:
    bloom survivors, exact matches, exact revenue, and the structural
    ``n_false_pos = survivors − exact ≥ 0`` (a Bloom filter never
    false-negatives). The arithmetic hash family makes the WHOLE
    thing hash-oracled: DuckDB rebuilds the identical bitmap and must
    agree on every count, false positives included."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hot = scoped_persist(
        orders.where(F.col("o_totalprice") >= 450000).select("o_orderkey")
    )
    bloom = bloom_build(hot, key_col="o_orderkey")
    flagged = bloom_might_contain(
        li.select(
            "l_orderkey",
            "l_returnflag",
            F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias(
                "__cents"
            ),
        ),
        bloom,
        key_col="l_orderkey",
    )
    survivors = flagged.where(F.col("bloom_pass"))
    marked = survivors.join(
        hot.withColumn("__in", F.lit(1)),
        survivors["l_orderkey"] == hot["o_orderkey"],
        "left",
    )
    return (
        marked.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bloom_pass"),
            F.coalesce(F.sum("__in"), F.lit(0)).cast("bigint").alias("n_exact"),
            F.coalesce(
                F.sum(F.expr("CASE WHEN __in = 1 THEN __cents END")), F.lit(0)
            )
            .cast("bigint")
            .alias("revenue_cents"),
            (F.count(F.lit(1)) - F.coalesce(F.sum("__in"), F.lit(0)))
            .cast("bigint")
            .alias("n_false_pos"),
        )
    )


SQL_LINEITEM_BLOOM_PREFILTER = """
WITH hot AS (
  SELECT o_orderkey FROM orders WHERE o_totalprice >= 450000
), words AS (
  SELECT bit // 32 AS word_idx,
         BIT_OR(CAST(1 AS BIGINT) << CAST(bit % 32 AS INTEGER)) AS word
  FROM (
    SELECT (((37 + 61*j) * o_orderkey + 13 + 7919*j)
            % 1000000007 + 1000000007) % 1000000007 % 262144
             AS bit
    FROM hot CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS j)
  ) GROUP BY 1
), keys AS (
  SELECT DISTINCT l_orderkey FROM lineitem
), probe AS (
  SELECT k.l_orderkey,
         SUM(CASE WHEN (w.word >> CAST(k.bit % 32 AS INTEGER)) & 1 = 1
                  THEN 1 ELSE 0 END) AS hits
  FROM (
    SELECT l_orderkey, j,
           (((37 + 61*j) * l_orderkey + 13 + 7919*j)
            % 1000000007 + 1000000007) % 1000000007 % 262144
             AS bit
    FROM keys CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS j)
  ) k
  LEFT JOIN words w ON w.word_idx = k.bit // 32
  GROUP BY 1
), pass AS (
  SELECT l_orderkey FROM probe WHERE hits = 3
)
SELECT l.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_bloom_pass,
       CAST(COALESCE(SUM(CASE WHEN h.o_orderkey IS NOT NULL THEN 1 END), 0)
            AS BIGINT) AS n_exact,
       CAST(COALESCE(SUM(CASE WHEN h.o_orderkey IS NOT NULL THEN
              CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT) END), 0)
            AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) -
            COALESCE(SUM(CASE WHEN h.o_orderkey IS NOT NULL THEN 1 END), 0)
            AS BIGINT) AS n_false_pos
FROM lineitem l
JOIN pass USING (l_orderkey)
LEFT JOIN hot h ON l.l_orderkey = h.o_orderkey
GROUP BY 1
"""


def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by FIRST-order
    month, each cohort's revenue tracked by months-since-first-order —
    the (cohort, age) matrix with active-customer counts, period
    revenue, and the CUMULATIVE revenue through each age (cents
    lattice). The per-customer cohort comes from a key-partitioned
    min-window (one exchange, no self-join); the cumulative window
    runs over the (cohort × age) CELL table — wall-clock-bounded
    (≤ months², never row-scaled), partitioned by cohort. The curve a
    payback/LTV model is fit from. Hash-oracled."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        F.expr(
            "year(o_orderdate) * 12 + month(o_orderdate)"
        ).cast("bigint").alias("__m"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("__cents"),
    )
    w = Window.partitionBy("o_custkey")
    staged = o.withColumn("__cohort", F.min("__m").over(w))
    cells = staged.groupBy(
        F.col("__cohort").alias("cohort_month"),
        (F.col("__m") - F.col("__cohort")).cast("int").alias("age_months"),
    ).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
        F.sum("__cents").cast("bigint").alias("revenue_cents"),
    )
    cum = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.withColumn(
        "cum_revenue_cents",
        F.sum("revenue_cents").over(cum).cast("bigint"),
    )


SQL_COHORT_LTV_CURVE = """
WITH o AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), staged AS (
  SELECT o_custkey, m, cents,
         MIN(m) OVER (PARTITION BY o_custkey) AS cohort
  FROM o
), cells AS (
  SELECT cohort AS cohort_month,
         CAST(m - cohort AS INTEGER) AS age_months,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
         CAST(SUM(cents) AS BIGINT) AS revenue_cents
  FROM staged GROUP BY 1, 2
)
SELECT cohort_month, age_months, n_active, revenue_cents,
       CAST(SUM(revenue_cents) OVER (
              PARTITION BY cohort_month ORDER BY age_months
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_revenue_cents
FROM cells
"""


PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "user_value_pareto": q_user_value_pareto,
    "customer_lorenz_deciles": q_customer_lorenz_deciles,
    "orders_pit_fx_enrich": q_orders_pit_fx_enrich,
    "stream_rfm_incremental": q_stream_rfm_incremental,
    "stream_abc_incremental": q_stream_abc_incremental,
    "heavy_hitters_cms": q_heavy_hitters_cms,
    "stream_heavy_hitters": q_stream_heavy_hitters,
    "stream_lorenz_incremental": q_stream_lorenz_incremental,
    "customer_active_islands": q_customer_active_islands,
    "part_supplier_degree": q_part_supplier_degree,
    "lineitem_bloom_prefilter": q_lineitem_bloom_prefilter,
    "cohort_ltv_curve": q_cohort_ltv_curve,
    "events_k_anonymity": q_events_k_anonymity,
    "events_m4_downsample": q_events_m4_downsample,
    "events_hourly_acf": q_events_hourly_acf,
    "lineitem_benford": q_lineitem_benford,
    "orders_winsorized": q_orders_winsorized,
    "events_decile_drift": q_events_decile_drift,
    "erasure_cascade": q_erasure_cascade,
    "customer_rfm": q_customer_rfm,
    "supplier_ship_sla": q_supplier_ship_sla,
    "order_status_reconciliation": q_order_status_reconciliation,
    "events_seasonal_backtest": q_events_seasonal_backtest,
    "user_churn_census": q_user_churn_census,
    "part_abc_analysis": q_part_abc_analysis,
    "join_skew_diagnosis": q_join_skew_diagnosis,
    "orders_dup_screen": q_orders_dup_screen,
    "conversion_wilson_ci": q_conversion_wilson_ci,
    "events_dow_hour_matrix": q_events_dow_hour_matrix,
    "customer_revenue_gini": q_customer_revenue_gini,
    "nation_trade_matrix": q_nation_trade_matrix,
    "events_peak_census": q_events_peak_census,
    "user_decayed_value": q_user_decayed_value,
    "rolling_active_users": q_rolling_active_users,
    "rolling_active_users_hll": q_rolling_active_users_hll,
    "events_ab_test": q_events_ab_test,
    "stratified_sample": q_stratified_sample,
    "reservoir_sample": q_reservoir_sample,
    "table_profile": q_table_profile,
    "user_value_ewma": q_user_value_ewma,
    "bucket_hourly_anomaly": q_bucket_hourly_anomaly,
    "salted_segment_revenue": q_salted_segment_revenue,
    # Appended round 5 (keep ordering of earlier entries stable).
    "scd2_customer_segments": q_scd2_customer_segments,
    "events_tier_at_time": q_events_tier_at_time,
    "scd2_stream_history": q_scd2_stream_history,
    "stream_locf_fill": q_stream_locf_fill,
    # Appended round 7, session 4.
    "data_quality_audit": q_data_quality_audit,
    "event_transition_matrix": q_event_transition_matrix,
    "rolling_value_median": q_rolling_value_median,
    "user_time_weighted_value": q_user_time_weighted_value,
    # Appended round 7, session 4 (batch 6).
    "copurchase_lift": q_copurchase_lift,
    "bucket_key_concentration": q_bucket_key_concentration,
    "bucket_cusum_alarm": q_bucket_cusum_alarm,
    "priority_open_orders_peak": q_priority_open_orders_peak,
    # Appended round 7, session 4 (batch 7).
    "stream_transition_counts": q_stream_transition_counts,
    "user_value_trend": q_user_value_trend,
    "top_session_paths": q_top_session_paths,
    # Appended round 7, session 4 (batch 8).
    "lineitem_numeric_corr": q_lineitem_numeric_corr,
    "purchase_attribution": q_purchase_attribution,
    "priority_mix_shift": q_priority_mix_shift,
}

PIPELINE_ORACLES: dict[str, str] = {
    "user_value_pareto": SQL_USER_VALUE_PARETO,
    "customer_lorenz_deciles": SQL_CUSTOMER_LORENZ_DECILES,
    "orders_pit_fx_enrich": SQL_ORDERS_PIT_FX_ENRICH,
    "events_k_anonymity": SQL_EVENTS_K_ANONYMITY,
    "events_m4_downsample": SQL_EVENTS_M4_DOWNSAMPLE,
    "events_hourly_acf": SQL_EVENTS_HOURLY_ACF,
    "lineitem_benford": SQL_LINEITEM_BENFORD,
    "orders_winsorized": SQL_ORDERS_WINSORIZED,
    "events_decile_drift": SQL_EVENTS_DECILE_DRIFT,
    "erasure_cascade": SQL_ERASURE_CASCADE,
    "customer_rfm": SQL_CUSTOMER_RFM,
    # streaming twin SHARES the batch oracle (bit-identical by the
    # commutative-merge contract of streaming/rollup.py)
    "stream_rfm_incremental": SQL_CUSTOMER_RFM,
    # streaming ABC twin shares the batch oracle, same contract
    "stream_abc_incremental": SQL_PART_ABC_ANALYSIS,
    "heavy_hitters_cms": SQL_HEAVY_HITTERS_CMS,
    # streaming twins SHARE their batch oracles (commutative merges +
    # exact-verify / shared readout => bit-identical final frames)
    "stream_heavy_hitters": SQL_HEAVY_HITTER_USERS,
    "stream_lorenz_incremental": SQL_CUSTOMER_LORENZ_DECILES,
    "customer_active_islands": SQL_CUSTOMER_ACTIVE_ISLANDS,
    "part_supplier_degree": SQL_PART_SUPPLIER_DEGREE,
    "lineitem_bloom_prefilter": SQL_LINEITEM_BLOOM_PREFILTER,
    "cohort_ltv_curve": SQL_COHORT_LTV_CURVE,
    "supplier_ship_sla": SQL_SUPPLIER_SHIP_SLA,
    "order_status_reconciliation": SQL_ORDER_STATUS_RECONCILIATION,
    "events_seasonal_backtest": SQL_EVENTS_SEASONAL_BACKTEST,
    "user_churn_census": SQL_USER_CHURN_CENSUS,
    "part_abc_analysis": SQL_PART_ABC_ANALYSIS,
    "join_skew_diagnosis": SQL_JOIN_SKEW_DIAGNOSIS,
    "orders_dup_screen": SQL_ORDERS_DUP_SCREEN,
    "conversion_wilson_ci": SQL_CONVERSION_WILSON_CI,
    "events_dow_hour_matrix": SQL_EVENTS_DOW_HOUR_MATRIX,
    "customer_revenue_gini": SQL_CUSTOMER_REVENUE_GINI,
    "nation_trade_matrix": SQL_NATION_TRADE_MATRIX,
    "events_peak_census": SQL_EVENTS_PEAK_CENSUS,
    "user_decayed_value": SQL_USER_DECAYED_VALUE,
    "rolling_active_users": SQL_ROLLING_ACTIVE_USERS,
    # rolling_active_users_hll: approximate by design — rows-only for
    # the driver; SELF_AUDITS bounds rel_error_pct vs the exact twin
    # computed in the same plan.
    "events_ab_test": SQL_EVENTS_AB_TEST,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "reservoir_sample": SQL_RESERVOIR_SAMPLE,
    "table_profile": SQL_TABLE_PROFILE,
    "user_value_ewma": SQL_USER_VALUE_EWMA,
    "bucket_hourly_anomaly": SQL_BUCKET_HOURLY_ANOMALY,
    "salted_segment_revenue": SQL_SALTED_SEGMENT_REVENUE,
    "scd2_customer_segments": SQL_SCD2_CUSTOMER_SEGMENTS,
    "events_tier_at_time": SQL_EVENTS_TIER_AT_TIME,
    "scd2_stream_history": SQL_SCD2_STREAM_HISTORY,
    "stream_locf_fill": SQL_STREAM_LOCF_FILL,
    "data_quality_audit": SQL_DATA_QUALITY_AUDIT,
    "event_transition_matrix": SQL_EVENT_TRANSITION_MATRIX,
    "rolling_value_median": SQL_ROLLING_VALUE_MEDIAN,
    "user_time_weighted_value": SQL_USER_TIME_WEIGHTED_VALUE,
    "copurchase_lift": SQL_COPURCHASE_LIFT,
    "bucket_key_concentration": SQL_BUCKET_KEY_CONCENTRATION,
    "bucket_cusum_alarm": SQL_BUCKET_CUSUM_ALARM,
    "priority_open_orders_peak": SQL_PRIORITY_OPEN_ORDERS_PEAK,
    # The streaming twin SHARES the batch operator's oracle — the
    # determinism contract (time-respecting splits) makes the streamed
    # counts bit-identical to the batch transition matrix.
    "stream_transition_counts": SQL_EVENT_TRANSITION_MATRIX,
    "user_value_trend": SQL_USER_VALUE_TREND,
    "top_session_paths": SQL_TOP_SESSION_PATHS,
    "lineitem_numeric_corr": SQL_LINEITEM_NUMERIC_CORR,
    "purchase_attribution": SQL_PURCHASE_ATTRIBUTION,
    "priority_mix_shift": SQL_PRIORITY_MIX_SHIFT,
}
