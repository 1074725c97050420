"""Physical-plan fingerprints: the 100×-scale regression guard.

At sf0.1 the bench can't see a new shuffle — scheduler latency drowns
it — but at 100 TB an extra exchange is the difference between one
pass and re-shuffling the whole table. So the shape of the physical
plan IS the scale contract: count the exchanges (shuffle + broadcast)
in each headline query's plan, commit the counts
(``tests/plan_fingerprints.json``), and fail the build when a count
grows. Shrinking is allowed (plans may improve); growth needs a
deliberate fingerprint update alongside the code that caused it.

The counts come from the *initial* physical plan (inside
AdaptiveSparkPlan, before AQE runtime re-optimization), so they're
deterministic for a fixed session config — regenerate with
``python tools/gen_plan_fingerprints.py``, which uses the same session
config as the test suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["plan_exchange_counts", "python_relation_count", "streaming_core_queries"]

# Substrings that identify exchange operators in the plan dump.
# "Exchange hashpartitioning/rangepartitioning/SinglePartition" are
# the shuffle flavors; BroadcastExchange is the build side of a
# broadcast join (cheap, but a flip broadcast->shuffle shows up as a
# shuffle increase, which is the regression that matters).
_SHUFFLE_MARKERS = (
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange SinglePartition",
    "Exchange RoundRobinPartitioning",  # df.repartition(n) without keys
)


def plan_exchange_counts(df: DataFrame) -> dict[str, int]:
    """Count shuffle and broadcast exchanges in a DataFrame's physical
    plan (pre-AQE initial plan — deterministic per session config)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "shuffle_exchanges": sum(plan.count(m) for m in _SHUFFLE_MARKERS),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
    }


def python_relation_count(df: DataFrame) -> int:
    """Count Python-built relations (``LogicalRDD`` leaves) in a
    DataFrame's optimized plan. A frame built from Python rows is a
    pickled RDD: scanning or broadcasting it runs a Python-worker job,
    and it carries no size statistics. Driver-side tables built by
    ``operators/routing.py:local_table`` are JVM ``LocalRelation``
    leaves and count 0. (A ``localCheckpoint`` also plans as a
    ``LogicalRDD``, of JVM rows, and is counted too.)"""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(
        leaves.apply(i).nodeName() == "LogicalRDD" for i in range(leaves.size())
    )


# ---------------------------------------------------------------------------
# Streaming-core fingerprints.
#
# The streaming headline queries (stream_locf_fill, scd2_stream_history,
# stream_sessionized_users) do their real work inside a writeStream
# drain — the DataFrame they RETURN is just a read of the effectful
# store, so fingerprinting it would pin a parquet scan, not the
# per-batch computation. Each builder below constructs the SAME pure
# per-batch plan the foreachBatch protocol executes (the refactored
# locf_enrich/locf_next_state and scd2_merge cores — the literal
# functions the streaming path calls), on a representative batch+state,
# so a new exchange in the per-batch work fails the guard even though
# the streaming run itself hides it.
# ---------------------------------------------------------------------------


def streaming_core_queries():
    """dict of ``<stream query>__<core>`` → ``(spark, sf_dir) -> DataFrame``
    builders pinning the per-batch plan shape of the streaming headline
    queries; merged with ``queries()`` by the fingerprint harness."""
    from pyspark.sql import functions as F

    from prioritizing_event_processing_with_apache_kafka_spark.operators.merge import (
        scd2_merge,
    )
    from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
        load_table,
    )
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.locf import (
        locf_enrich,
        locf_next_state,
    )
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.telemetry import (
        user_sessions,
    )

    def _locf_batch_and_state(spark, sf_dir):
        # Mirror q_stream_locf_fill's steady state: the second
        # micro-batch (post-cutoff events) against the state the first
        # batch would have committed (per-key latest observation).
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts", "value"
        )
        obs = F.when(F.col("value") >= 19, F.col("value"))
        cutoff = F.lit("2024-01-16").cast("timestamp")
        batch = events.filter(F.col("ts") >= cutoff)
        prior = events.filter(F.col("ts") < cutoff)
        state = locf_next_state(
            prior,
            None,
            key_col="event_type",
            order_cols=("ts", "event_id"),
            obs_col=obs,
        ).select("event_type", F.col("__locf_obs").alias("__locf_seed"))
        return batch, state, obs

    def locf_enrich_core(spark, sf_dir):
        batch, state, obs = _locf_batch_and_state(spark, sf_dir)
        return locf_enrich(
            batch,
            state,
            key_col="event_type",
            order_cols=("ts", "event_id"),
            obs_col=obs,
        )

    def locf_state_core(spark, sf_dir):
        batch, state, obs = _locf_batch_and_state(spark, sf_dir)
        return locf_next_state(
            batch,
            state,
            key_col="event_type",
            order_cols=("ts", "event_id"),
            obs_col=obs,
        )

    def scd2_merge_core(spark, sf_dir):
        # Mirror q_scd2_stream_history's batch 0: seed history open
        # since 2024-01-01, changelog = %5 keys changing segment.
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        history = cust.select(
            "c_custkey",
            "c_mktsegment",
            F.lit("2024-01-01").alias("valid_from"),
            F.lit(None).cast("string").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        updates = cust.filter(F.col("c_custkey") % 5 == 0).select(
            "c_custkey",
            F.concat(F.col("c_mktsegment"), F.lit("-B1")).alias(
                "c_mktsegment"
            ),
            F.lit("2024-03-01").alias("effective"),
        )
        return scd2_merge(
            history,
            updates,
            key_cols=["c_custkey"],
            tracked_cols=["c_mktsegment"],
            effective_col="effective",
            broadcast_updates=True,
        )

    def sessions_core(spark, sf_dir):
        # The session-window aggregation user_sessions() applies to the
        # replayed stream, on the batch events frame (identical plan
        # shape modulo the streaming state operator).
        events = load_table(spark, sf_dir, "events").select(
            "user_id", "ts"
        )
        return user_sessions(events, watermark=None)

    def rfm_rollup_core(spark, sf_dir):
        # Mirror q_stream_rfm_incremental's steady state: batch 1
        # (post-cutoff orders) merged into the state batch 0 would have
        # committed — ONE map-combined aggregate + ONE key merge join;
        # a window or a second fact scan sneaking in fails the pin.
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.rollup import (
            _batch_agg,
            _merge,
        )

        orders = load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderdate", "o_totalprice"
        )
        specs = [
            ("frequency", "count", "1"),
            (
                "__last_day",
                "max",
                "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000",
            ),
            (
                "monetary_cents",
                "sum",
                "CAST(floor(o_totalprice * 100) AS BIGINT)",
            ),
        ]
        cutoff = F.lit("1995-06-01").cast("timestamp")
        out_cols = [out for out, _k, _e in specs]
        state = (
            orders.filter(F.col("o_orderdate") < cutoff)
            .groupBy("o_custkey")
            .agg(*[_batch_agg(k, e, out) for out, k, e in specs])
            .select(
                "o_custkey",
                *[F.col(c).alias(f"__old_{c}") for c in out_cols],
            )
        )
        batch_state = (
            orders.filter(F.col("o_orderdate") >= cutoff)
            .groupBy("o_custkey")
            .agg(*[_batch_agg(k, e, f"__new_{out}") for out, k, e in specs])
        )
        return batch_state.join(state, "o_custkey", "full_outer").select(
            "o_custkey", *[_merge(k, out) for out, k, _e in specs]
        )

    def lorenz_rollup_core(spark, sf_dir):
        # Mirror q_stream_lorenz_incremental's steady state: batch 1
        # merged into batch 0's committed revenue-sum state — same
        # ONE-aggregate + ONE-merge-join contract as the RFM core (the
        # ordered-scan readout is pinned by customer_lorenz_deciles,
        # which shares _lorenz_census).
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.rollup import (
            _batch_agg,
            _merge,
        )

        orders = load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderdate", "o_totalprice"
        )
        specs = [
            ("__x", "sum", "CAST(floor(o_totalprice * 100) AS BIGINT)"),
        ]
        cutoff = F.lit("1995-06-01").cast("timestamp")
        out_cols = [out for out, _k, _e in specs]
        state = (
            orders.filter(F.col("o_orderdate") < cutoff)
            .groupBy("o_custkey")
            .agg(*[_batch_agg(k, e, out) for out, k, e in specs])
            .select(
                "o_custkey",
                *[F.col(c).alias(f"__old_{c}") for c in out_cols],
            )
        )
        batch_state = (
            orders.filter(F.col("o_orderdate") >= cutoff)
            .groupBy("o_custkey")
            .agg(*[_batch_agg(k, e, f"__new_{out}") for out, k, e in specs])
        )
        return batch_state.join(state, "o_custkey", "full_outer").select(
            "o_custkey", *[_merge(k, out) for out, k, _e in specs]
        )

    def mg_merge_core(spark, sf_dir):
        # Mirror mg_apply_batch's steady state for stream_heavy_hitters:
        # batch 1's MG partial summaries merged with batch 0's state,
        # plus the in-plan truncation threshold crossJoin — the
        # contract is ONE capped map pass per side, summary-sized
        # merge join, summary-sized ordered limit; a fact-scaled
        # shuffle or a window sneaking in fails the pin.
        from prioritizing_event_processing_with_apache_kafka_spark.operators.heavyhitters import (
            misra_gries_partial,
        )

        events = load_table(spark, sf_dir, "events").select("ts", "user_id")
        cutoff = F.lit("2024-01-16").cast("timestamp")
        capacity = 32768

        def summary(df):
            return (
                misra_gries_partial(df, "user_id", capacity)
                .filter(F.col("user_id").isNotNull())
                .groupBy("user_id")
                .agg(F.sum("mg_weight").cast("bigint").alias("__w"))
            )

        old_w = summary(events.filter(F.col("ts") < cutoff)).select(
            F.col("user_id").alias("__old_key"), F.col("__w").alias("__ow")
        )
        batch_w = summary(
            events.filter(F.col("ts").isNull() | (F.col("ts") >= cutoff))
        )
        merged = batch_w.join(
            old_w, batch_w["user_id"] == F.col("__old_key"), "full_outer"
        ).select(
            F.coalesce(batch_w["user_id"], F.col("__old_key")).alias(
                "user_id"
            ),
            (
                F.coalesce(F.col("__w"), F.lit(0))
                + F.coalesce(F.col("__ow"), F.lit(0))
            ).alias("__w"),
        )
        thr = (
            merged.orderBy(F.col("__w").desc(), F.col("user_id").asc())
            .limit(capacity + 1)
            .agg(
                F.coalesce(F.min("__w"), F.lit(0)).alias("__kth"),
                F.count(F.lit(1)).alias("__m"),
            )
            .select(
                F.when(F.col("__m") == capacity + 1, F.col("__kth"))
                .otherwise(F.lit(0))
                .alias("__thr")
            )
        )
        return (
            merged.crossJoin(F.broadcast(thr))
            .select("user_id", (F.col("__w") - F.col("__thr")).alias("mg_weight"))
            .filter(F.col("mg_weight") > 0)
        )

    def _transitions_batch_and_state(spark, sf_dir):
        # Mirror q_stream_transition_counts' steady state: the second
        # micro-batch (post-cutoff events) against the state the first
        # batch would have committed (per-key last event_type).
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.transitions import (
            transitions_next_state,
        )

        events = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts"
        )
        cutoff = F.lit("2024-01-16").cast("timestamp")
        batch = events.filter(F.col("ts") >= cutoff)
        prior = events.filter(F.col("ts") < cutoff)
        state = transitions_next_state(
            prior,
            None,
            key_col="user_id",
            state_col="event_type",
            order_cols=("ts", "event_id"),
        )
        return batch, state

    def transitions_counts_core(spark, sf_dir):
        # The seed rides the lag window as a synthetic first-of-key row
        # (r14): the contract is ONE key exchange for the window and
        # NO broadcast/seed join; a join sneaking back in fails the pin.
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.transitions import (
            transitions_count_plan,
        )

        batch, state = _transitions_batch_and_state(spark, sf_dir)
        return transitions_count_plan(
            batch,
            state,
            key_col="user_id",
            state_col="event_type",
            order_cols=("ts", "event_id"),
        )

    def transitions_state_core(spark, sf_dir):
        # Carry-over as priority-tagged union into ONE map-combined
        # groupBy (r14) — an anti-join reappearing fails the pin.
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.transitions import (
            transitions_next_state,
        )

        batch, state = _transitions_batch_and_state(spark, sf_dir)
        return transitions_next_state(
            batch,
            state,
            key_col="user_id",
            state_col="event_type",
            order_cols=("ts", "event_id"),
        )

    def lifetime_route_core(spark, sf_dir):
        # Mirror q_stream_route_lifetime's steady state: batch 2 (the
        # post-midpoint events) routed from a non-zero counter base.
        # The contract is AT MOST one range exchange (the distributed
        # zip-with-index of operators/routing.py:exact_sequence, the
        # kernel route(mode="exact") shares; a batch sized to one
        # partition takes its coalesce shortcut instead) + ONE
        # broadcast join (offsets with the layout folded on) — a
        # per-bucket window/funnel (#buckets reducers) or a second
        # fact scan sneaking in fails the pin.
        from prioritizing_event_processing_with_apache_kafka_spark.inventory import (
            EVENTS_CONFIG,
            EVENTS_NUM_PARTITIONS,
        )
        from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
            with_routing_key,
        )
        from prioritizing_event_processing_with_apache_kafka_spark.streaming.lifetime import (
            route_batch_lifetime,
        )

        events = with_routing_key(load_table(spark, sf_dir, "events")).select(
            "event_id", "key"
        )
        batch = events.filter(F.col("event_id") % 2 == 1)
        routed, _counters = route_batch_lifetime(
            batch,
            EVENTS_CONFIG,
            EVENTS_NUM_PARTITIONS,
            {"Platinum": 1000, "Gold": 500, "Standard": 250},
        )
        return routed

    return {
        "stream_locf_fill__enrich": locf_enrich_core,
        "stream_locf_fill__state": locf_state_core,
        "stream_transition_counts__counts": transitions_counts_core,
        "stream_transition_counts__state": transitions_state_core,
        "scd2_stream_history__merge": scd2_merge_core,
        "stream_sessionized_users__core": sessions_core,
        "stream_rfm_incremental__core": rfm_rollup_core,
        "stream_lorenz_incremental__core": lorenz_rollup_core,
        "stream_heavy_hitters__core": mg_merge_core,
        "stream_route_lifetime__core": lifetime_route_core,
    }
