"""Regenerate tests/plan_fingerprints.json (plan-shape regression guard).

Builds each guarded query's DataFrame with the SAME session config as
tests/conftest.py (local[4], shuffle.partitions=4, AQE on, sf0.001)
and records its exchange counts. The exact-sequence kernel's
range-partition count is forced to shuffle.partitions, as in
tests/test_plan_fingerprints.py: sized from sf0.001 data it would take
its one-partition ``coalesce(1)`` path and hide every shuffle
downstream of an exact route. Run after any deliberate plan change;
commit the updated JSON together with the code that changed the plan.

Usage: python tools/gen_plan_fingerprints.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Batch headline queries whose plan shape is the scale contract.
# Streaming-replay queries are excluded (their work happens inside a
# writeStream drain, not in the returned DataFrame's plan).
GUARDED = [
    "route_events_exact",
    "bucket_extract",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "top_events_per_user",
    "bucket_rollup",
    "bucket_throughput_hourly",
    "sessionized_events",
    "conversion_funnel",
    "events_asof_last_purchase",
    "heavy_hitter_users",
    "scd2_customer_segments",
    "events_tier_at_time",
    # round 7, second batch: the drain schedule must stay one range
    # shuffle (riding the exact router's exchange) + one broadcast map
    # join; the gap fill must stay one per-key exchange + a tiny
    # min/max spine side.
    "priority_drain_schedule",
    "ts_gap_fill",
    # round 7, fifth batch: the constraint audit must stay ONE
    # aggregation pass over the fact scan plus one anti-join (a second
    # fact scan per check is exactly the regression this guard
    # exists for); the transition matrix one window exchange + one
    # tiny hash aggregate; rolling median one window exchange; TWAP
    # one window exchange whose partitioning the follow-up groupBy
    # reuses.
    "data_quality_audit",
    "event_transition_matrix",
    "rolling_value_median",
    "user_time_weighted_value",
    # round 7, sixth batch: rendezvous routing is a pure projection —
    # its only exchange is the final 12-row distribution aggregate;
    # the basket lift caches ONE basket-array rollup (a single fact
    # scan + exchange, textually repeated under each cached reader)
    # and generates pairs basket-locally — a pair SELF-JOIN sneaking
    # back in is the regression; HHI two hash aggs + one window on the
    # same key; CUSUM one hourly-rollup exchange + one window sort
    # (reference level is a whole-partition window, NOT a second fact
    # aggregation); the sweep line one union-agg + one window + argmax.
    "route_rendezvous",
    "copurchase_lift",
    "bucket_key_concentration",
    "bucket_cusum_alarm",
    "priority_open_orders_peak",
    # round 7, seventh batch: the OLS trend must stay one window
    # exchange + one same-key groupBy (a second fact scan for the
    # per-key epoch min is the regression); the session path census
    # one key exchange + two hash aggs. stream_transition_counts is
    # excluded like stream_locf_fill: its plan is a read of the
    # effectful store, not the streaming computation.
    "user_value_trend",
    "top_session_paths",
    # round 7, eighth batch: the Pearson matrix must stay ONE wide
    # aggregation pass over a single scan (a per-pair scan is the
    # regression); attribution one key window + a tiny share agg;
    # mix-shift one scan + a 5-row window.
    "lineitem_numeric_corr",
    "purchase_attribution",
    "priority_mix_shift",
    # round 7, ninth batch: the percentile table rides the guarded
    # drain-schedule plan and must add only histogram-sized windows
    # (a per-EVENT window sort is the regression).
    "drain_tick_percentiles",
    # round 8: close the bench-coverage gap (VERDICT r7 item 2) — every
    # remaining batch headline query gets a pinned exchange count.
    # route_distribution is the 12-row routed-partition census (rides
    # the exact router's range exchange + one tiny agg); the TPC-H q7/
    # q10 pair pins the broadcast-vs-shuffle join split; the sketch
    # rollups (HLL/KLL) must stay ONE hash aggregate each.
    "route_distribution",
    "user_event_gaps",
    "events_json_extract",
    "q7_nation_volume",
    "q10_returned_revenue",
    "error_purchase_interval",
    "user_value_ewma",
    "bucket_hourly_anomaly",
    "stream_sessionized_users",
    "bucket_user_reach_hll",
    "bucket_value_kll",
    "scd2_stream_history",
    "stream_locf_fill",
    # round 8: the histogram-lattice exact percentiles must stay two
    # histogram-sized exchanges (hash agg + per-group window) — an
    # engine `percentile` buffering raw rows would show as a changed
    # shape; the bridge adds only the KLL rollup + broadcast-size rank
    # joins; the canary pins the UNHINTED layout join's planned shape
    # (its broadcast conversion is AQE's runtime call, asserted by
    # tests/test_skew_and_bucketing.py::TestBroadcastDemotion).
    "bucket_percentile_exact",
    "bucket_percentile_bridge",
    "layout_autobroadcast_canary",
    # round 8 second batch: MAD must stay two histogram aggregates +
    # two histogram windows + broadcast joins (a raw-row sort is the
    # regression); the rebalance impact rides the exact routing plan
    # plus TWO broadcast layout joins and one per-bucket aggregate.
    "bucket_value_mad",
    "layout_rebalance_impact",
    # round 8 third batch: k-anonymity is two hash aggregates; M4 is
    # ONE partial-agg exchange.
    "events_k_anonymity",
    "events_m4_downsample",
    # round 8 fourth batch: ACF must stay bin-agg + one series window
    # (the bin aggregate is the only row-scaled exchange); Benford is
    # one hash aggregate + a 9-row window; winsorize is the histogram
    # fence subtree + ONE broadcast onto the fact scan (a sort-merge
    # join here is the regression).
    "events_hourly_acf",
    "lineitem_benford",
    "orders_winsorized",
    # round 8 fifth batch: decile drift is the fence subtree + TWO
    # broadcasts onto the fact scan (fences, mids) + one group window;
    # erasure is three semi-join/fold pairs with broadcast cohorts.
    "events_decile_drift",
    "erasure_cascade",
    # round 8 sixth batch: the exact sliding distinct must keep the
    # presence-collapse-then-expand shape (a distinct-count WINDOW
    # aggregate is the regression); the HLL twin is two aggregates
    # (bin sketches, window unions) + the exact twin's subtree for the
    # in-plan audit; the A/B readout is two aggregates to one row.
    "rolling_active_users",
    "rolling_active_users_hll",
    "events_ab_test",
    # round 8 eighth batch: RFM must stay per-customer agg + histogram
    # fences + broadcasts (a global sort is the regression); the SLA
    # watch one fact join + supplier-keyed agg + histogram subtree.
    "customer_rfm",
    "supplier_ship_sla",
    # round 8 ninth batch: one-or-two map-combined aggregates (+ a
    # broadcast-eligible join) — a fact re-scan sneaking in is the
    # regression.
    "order_status_reconciliation",
    # round 8 tenth batch: backtest = bin agg (the only row-scaled
    # exchange) + bin-sized lag window; churn = two map-combined
    # aggregates + broadcast midpoint.
    "events_seasonal_backtest",
    "user_churn_census",
    # round 8 eleventh batch (ABC re-planned round 9): ABC = part agg
    # + the distributed global-ordered-scan (ONE range exchange + one
    # pid-partitioned window + tiny broadcast offsets — an
    # unpartitioned Window.orderBy funneling the part table through a
    # single task is the regression this pin exists for; the only
    # SinglePartition exchanges are partial->final scalar aggregates);
    # skew diagnosis = two per-key aggs + full-outer key merge
    # + 32-row fold (EXECUTING the diagnosed join is the regression);
    # dup screen = one triple agg + verdict fold.
    "part_abc_analysis",
    "join_skew_diagnosis",
    "orders_dup_screen",
    # round 8 twelfth batch: one map-combined aggregate each (+ a
    # 168-cell window). Gini re-planned round 9: the global rank now
    # comes from the distributed ordered scan (range exchange +
    # pid-partitioned window), like ABC above.
    "conversion_wilson_ci",
    "events_dow_hour_matrix",
    "customer_revenue_gini",
    # round 8 thirteenth batch: trade matrix must keep ALL THREE dim
    # joins broadcast (one fact shuffle for lineitem x orders); peak
    # census = bin agg + bin-sized windows; decayed LTV = one fact
    # aggregate + broadcast max-ts.
    "nation_trade_matrix",
    "events_peak_census",
    "user_decayed_value",
    # round 9 first batch: Pareto/Lorenz ride the distributed ordered
    # scan (an unpartitioned-window regression would change the
    # shape); the PIT enrich must keep its dimension BROADCAST onto
    # one fact aggregate (a sort-merge range join is the regression).
    "user_value_pareto",
    "customer_lorenz_deciles",
    "orders_pit_fx_enrich",
    # round 9 third batch: CMS must stay ONE exploded map-combined cell
    # aggregate + a top-k TakeOrdered + broadcast probe joins (a
    # second fact scan per hash row is the regression).
    "heavy_hitters_cms",
    # round 9 fourth batch: islands = one distinct + one per-key window
    # + two aggregates (a GLOBAL window is the regression); the degree
    # census = one persisted distinct edge projection + two aggregates
    # (a second lineitem scan is the regression).
    "customer_active_islands",
    "part_supplier_degree",
    # round 9 fifth batch: the Bloom prefilter must keep the probe a
    # PROJECTION against the broadcast dense bitmap (a shuffle join of
    # the full fact table into the membership check is the regression)
    # + one bit_or bitmap aggregate + the survivor verify join.
    "lineitem_bloom_prefilter",
    # round 9 sixth batch: LTV = one customer-keyed window exchange +
    # one cell aggregate + a cell-sized cohort window (a self-join for
    # the cohort month is the regression).
    "cohort_ltv_curve",
]

# The streaming headline queries above are fingerprinted twice: the
# entry under their own name pins the RESULT-read plan their queries()
# callable returns (runs the actual streaming drain at sf0.001), and
# the __core entries pin the pure per-batch transformation the
# foreachBatch protocol executes (plans/fingerprint.py:
# streaming_core_queries) — the part a result-read fingerprint cannot
# see.

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
OUT = os.path.join(REPO, "tests", "plan_fingerprints.json")


def main() -> int:
    from pyspark.sql import SparkSession

    from prioritizing_event_processing_with_apache_kafka_spark.plans.fingerprint import (
        plan_exchange_counts,
    )

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("peps-fingerprints")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from prioritizing_event_processing_with_apache_kafka_spark.operators import routing

    range_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    routing._range_partitions = lambda df, **_: range_partitions

    import __spark_entry__ as entrymod

    from prioritizing_event_processing_with_apache_kafka_spark.plans.fingerprint import (
        streaming_core_queries,
    )

    queries = dict(entrymod.queries())
    queries.update(streaming_core_queries())
    fingerprints: dict[str, dict[str, int]] = {}
    for name in GUARDED + sorted(streaming_core_queries()):
        # Same isolation as the test: building a query persists its
        # shared subtrees, and a live cache substitutes into every
        # later plan embedding the same subtree — without the clear,
        # each count depends on list position.
        spark.catalog.clearCache()
        fingerprints[name] = plan_exchange_counts(queries[name](spark, SF_DIR))
        print(f"{name:28s} {fingerprints[name]}")
    with open(OUT, "w") as fh:
        json.dump(fingerprints, fh, indent=1, sort_keys=True)
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
