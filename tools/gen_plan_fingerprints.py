"""Regenerate tests/plan_fingerprints.json (plan-shape regression guard).

Builds each guarded query's DataFrame with the SAME session config as
tests/conftest.py (local[4], shuffle.partitions=4, AQE on, sf0.001)
and records its exchange counts. Run after any deliberate plan change;
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
    "dedup_exact",
    "dedup_minhash_lsh",
    "embedding_topk",
    "text_token_stats",
    "doc_fingerprint",
    "events_asof_last_purchase",
    "heavy_hitter_users",
    "decontamination_bloom",
    "changelog_compaction",
    "scd2_customer_segments",
    "events_tier_at_time",
    # round 6: the min-struct argmin k-means plan (one tiny-row
    # exchange per assignment instead of a full scored-row sort)
    "embedding_kmeans",
    "semantic_dedup",
    # round 7: the exact-lattice LM scores (bigint micros sums) and
    # the two new audit queries (exact+pruned assignment / simhash
    # truth+found in one plan — growth here doubles real scans)
    "lm_doc_score",
    "dsir_weights",
    "kmeans_pruned_agreement",
    "simhash_recall_audit",
    # round 7: NB classifier — broadcast model grid + one
    # (doc,label,int64) shuffle + min(struct) argmax; a window-sort
    # or a non-broadcast grid join would show up here. Baseline moved
    # 31/11 -> 33/12 with the zero-support-label fix (the grid's label
    # dimension now left-joins label_docs so absent labels keep their
    # smoothed entries — one more tiny aggregate + broadcast, priced
    # and deliberate).
    "nb_lang_classifier",
    # round 7, second batch: the drain schedule must stay one range
    # shuffle (riding the exact router's exchange) + one broadcast map
    # join; the gap fill must stay one per-key exchange + a tiny
    # min/max spine side. label_propagation is excluded like the
    # streaming replays: its per-round work hides behind eager
    # localCheckpoints, so the returned plan is just checkpoint scans.
    "priority_drain_schedule",
    "ts_gap_fill",
    # round 7, third batch: the calibration table must stay the NB
    # plan + one more hash aggregate. dedup_keep_canonical is excluded
    # like label_propagation: connected_components checkpoints
    # internally, so the returned plan is mostly checkpoint scans.
    "nb_calibration",
    # round 7, fifth batch: the constraint audit must stay ONE
    # aggregation pass over the fact scan plus one anti-join (a second
    # fact scan per check is exactly the regression this guard
    # exists for); the transition matrix one window exchange + one
    # tiny hash aggregate; rolling median one window exchange; TWAP
    # one window exchange whose partitioning the follow-up groupBy
    # reuses. dedup_triangle_count is excluded: it rides the persisted
    # ngram-pairs subtree whose cached scans dominate the plan text.
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
    # doc_containment is excluded like dedup_triangle_count: it rides
    # the persisted shingle subtree whose cached scans dominate.
    "route_rendezvous",
    "copurchase_lift",
    "bucket_key_concentration",
    "bucket_cusum_alarm",
    "priority_open_orders_peak",
    # round 7, seventh batch: the OLS trend must stay one window
    # exchange + one same-key groupBy (a second fact scan for the
    # per-key epoch min is the regression); the session path census
    # one key exchange + two hash aggs; the Merkle digest ONE hash
    # aggregate over a single scan. stream_transition_counts is
    # excluded like stream_locf_fill: its plan is a read of the
    # effectful store, not the streaming computation.
    "user_value_trend",
    "top_session_paths",
    "corpus_merkle_buckets",
    # round 7, eighth batch: the Pearson matrix must stay ONE wide
    # aggregation pass over a single scan (a per-pair scan is the
    # regression); attribution one key window + a tiny share agg;
    # mix-shift one scan + a 5-row window. neardup_common_neighbors
    # is excluded (persisted shingle subtree, like the triangle count).
    "lineitem_numeric_corr",
    "purchase_attribution",
    "priority_mix_shift",
    # round 7, ninth batch: the percentile table rides the guarded
    # drain-schedule plan and must add only histogram-sized windows
    # (a per-EVENT window sort is the regression). The two dedup
    # refinements are excluded (persisted shingle subtrees).
    "drain_tick_percentiles",
    # round 8: close the bench-coverage gap (VERDICT r7 item 2) — every
    # remaining batch headline query gets a pinned exchange count.
    # route_distribution is the 12-row routed-partition census (rides
    # the exact router's range exchange + one tiny agg); the TPC-H q7/
    # q10 pair pins the broadcast-vs-shuffle join split; the sketch
    # rollups (HLL/KLL) must stay ONE hash aggregate each; the dedup
    # family rides persisted signature subtrees whose cached-scan text
    # is deterministic under the fixed session config; the incremental
    # pair pins the probe-plan shape (sign + band-join + semi-join
    # fetch — a history re-scan sneaking in is the regression).
    "route_distribution",
    "user_event_gaps",
    "events_json_extract",
    "q7_nation_volume",
    "q10_returned_revenue",
    "dedup_minhash_oph",
    "embedding_label_centroids",
    "error_purchase_interval",
    "dedup_edit_distance",
    "span_dedup",
    "text_repetition",
    "dedup_incremental",
    "dedup_incremental_steady",
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
    # neardup_bfs_hops is excluded like dedup_triangle_count (persisted
    # shingle subtree + per-round localCheckpoints dominate the text).
    "bucket_value_mad",
    "layout_rebalance_impact",
    # round 8 third batch: packing must stay ONE shard-key exchange
    # (window + agg reuse the same partitioning); the weighted sample
    # must keep the threshold shape (weight-sum agg + broadcast join +
    # survivor window — a full-stratum window funnel is the
    # regression); k-anonymity is two hash aggregates; M4 is ONE
    # partial-agg exchange; vocab drift is explode-agg + vocab-sized
    # window/aggregates.
    "corpus_pack_stats",
    "documents_weighted_sample",
    "source_vocab_drift",
    "events_k_anonymity",
    "events_m4_downsample",
    # round 8 fourth batch: ACF must stay bin-agg + one series window
    # (the bin aggregate is the only row-scaled exchange); Benford is
    # one hash aggregate + a 9-row window; winsorize is the histogram
    # fence subtree + ONE broadcast onto the fact scan (a sort-merge
    # join here is the regression); the outlier audit is two
    # aggregates + two broadcasts, zero windows.
    "events_hourly_acf",
    "lineitem_benford",
    "orders_winsorized",
    "embedding_outlier_audit",
    # round 8 fifth batch. k-core is data-dependently iterative
    # (localCheckpoint rounds truncate the visible plan), so it is NOT
    # pinned — its scale guard is the probe + convergence exception.
    # source_overlap must keep the pair list broadcast-joined to the
    # doc projection; decile drift is the fence subtree + TWO
    # broadcasts onto the fact scan (fences, mids) + one group window;
    # erasure is three semi-join/fold pairs with broadcast cohorts.
    "source_overlap",
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
    # effective_corpus_size is excluded (rides the checkpointed CC
    # closure, like dedup_keep_canonical).
    "customer_rfm",
    "supplier_ship_sla",
    # round 8 ninth batch: each is one-or-two map-combined aggregates
    # (+ a tiny window / broadcast-eligible join) — a fact re-scan or
    # window-over-corpus sneaking in is the regression.
    "source_lang_fd",
    "lang_charclass_profile",
    "order_status_reconciliation",
    # round 8 tenth batch: backtest = bin agg (the only row-scaled
    # exchange) + bin-sized lag window; churn = two map-combined
    # aggregates + broadcast midpoint; quantile-norm = posexplode into
    # a (dim, value) histogram + histogram-sized windows.
    "events_seasonal_backtest",
    "user_churn_census",
    "embedding_quantile_norm",
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
    # round 9: the last two bench headliners without pins (VERDICT r8
    # item 5). Both ride a checkpointed CC closure, so the visible
    # plan is the POST-closure shape — checkpoint scans + the final
    # join/aggregate stages. That is still a real guard: a fact
    # re-scan, a new window funnel, or a broadcast->shuffle flip in
    # the post-closure stages changes the counts. (The closures'
    # per-round work is separately guarded by the 100x probes and the
    # convergence exceptions in operators/graph.py.)
    "effective_corpus_size",
    "neardup_kcore",
    # round 9 first batch: Pareto/Lorenz ride the distributed ordered
    # scan (an unpartitioned-window regression would change the
    # shape); the PIT enrich must keep its dimension BROADCAST onto
    # one fact aggregate (a sort-merge range join is the regression).
    "user_value_pareto",
    "customer_lorenz_deciles",
    "orders_pit_fx_enrich",
    # round 9 second batch: the Zipf census must keep the ordered-scan
    # shape over the term aggregate (bin-sized after it). The streaming
    # twins are pinned via their __core builders instead.
    "vocab_rank_census",
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
