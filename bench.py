"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs the declared inventory's headline queries on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": <scale factor>}

Each query is fully materialized through the ``noop`` sink (executes
the whole plan, nothing collected to the driver). A warmup query
absorbs session/JIT startup so per-query numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Headline set: routing core, scan-heavy aggregation, joins, windows,
# sessionization, dedup (exact + sketch), similarity, text analysis.
HEADLINE = [
    "route_events_exact",
    "route_distribution",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "top_events_per_user",
    "bucket_rollup",
    "user_event_gaps",
    "sessionized_events",
    "bucket_throughput_hourly",
    "events_json_extract",
    "dedup_exact",
    "dedup_minhash_lsh",
    "embedding_topk",
    "text_token_stats",
    "doc_fingerprint",
    # round-2 additions (r1 set above is unchanged for comparability)
    "q7_nation_volume",
    "q10_returned_revenue",
    "dedup_minhash_oph",
    "embedding_label_centroids",
    "embedding_kmeans",
    "error_purchase_interval",
    "dedup_edit_distance",
    "span_dedup",
    "text_repetition",
    "semantic_dedup",
    "dedup_incremental",
    "conversion_funnel",
    # round-3 additions (r1/r2 sets above unchanged for comparability)
    "lm_doc_score",
    "dsir_weights",
    "user_value_ewma",
    "bucket_hourly_anomaly",
    # round-4 additions
    "stream_sessionized_users",
    "bucket_user_reach_hll",
    "bucket_value_kll",
    # round-5 additions: steady-state incremental-dedup twin (the
    # operator's actual per-batch contract — run 1 builds the sig
    # store, run 2 probes it, min-of-two reports the probe).
    "dedup_incremental_steady",
    "heavy_hitter_users",
    "decontamination_bloom",
    "changelog_compaction",
    "scd2_customer_segments",
    "events_tier_at_time",
    # round-6 addition: the streaming SCD2 maintainer driven end to end
    # (file-source stream, versioned-parquet merge protocol)
    "scd2_stream_history",
    # round 7: NB classifier (train + apply in one plan)
    "nb_lang_classifier",
    # round 7, second batch: prioritized drain schedule (exact routing
    # + zero-exchange tick derivation) and dense hourly gap fill
    "priority_drain_schedule",
    "ts_gap_fill",
    # round 7, fourth batch: the streaming LOCF twin (real two-batch
    # availableNow replay through the versioned state store)
    "stream_locf_fill",
    # round 7, sixth batch: zero-shuffle rendezvous routing over the
    # full event scan, and the basket-local co-occurrence lift (one
    # fact shuffle + cached basket rollup)
    "route_rendezvous",
    "copurchase_lift",
    # round 7, seventh batch: exact integer OLS moments per user, and
    # the md5-bound Merkle digest scan
    "user_value_trend",
    "corpus_merkle_buckets",
    # round 8: percentile bridge family (histogram-lattice exact order
    # stats + the KLL bridge) and the unhinted-layout-join broadcast
    # canary.
    "bucket_percentile_exact",
    "bucket_percentile_bridge",
    "layout_autobroadcast_canary",
    # round 8, second batch: robust stats on the histogram lattice and
    # the rebalance migration-cost rollup (exact routing + two
    # broadcast layout joins).
    "bucket_value_mad",
    "layout_rebalance_impact",
    # round 8, third batch: the training-platform planning ops —
    # concat-then-chunk packing (prefix sums), weighted ES sampling
    # (threshold plan), vocabulary drift, k-anonymity census, and M4
    # downsampling (one partial-agg exchange).
    "corpus_pack_stats",
    "documents_weighted_sample",
    "source_vocab_drift",
    "events_k_anonymity",
    "events_m4_downsample",
    # round 8, fourth batch: exact binned autocorrelation (decimal
    # lattice over bin-sized data), Benford first-digit census (one
    # 9-row aggregate), winsorization (histogram-lattice fences +
    # broadcast), embedding label-outlier screen (broadcast centroids,
    # no windows).
    "events_hourly_acf",
    "lineitem_benford",
    "orders_winsorized",
    "embedding_outlier_audit",
    # round 8, fifth batch: iterative k-core peel (semi-joins sized by
    # the shrinking subgraph), source provenance census over the pair
    # list, PSI-style decile drift (histogram fences + broadcast),
    # GDPR erasure cascade (semi-join chain).
    "neardup_kcore",
    "source_overlap",
    "events_decile_drift",
    "erasure_cascade",
    # round 8, sixth batch: exact sliding distinct (presence
    # expansion), its HLL-union twin (the mergeable-sketch scale
    # path), two-proportion A/B verdict.
    "rolling_active_users",
    "rolling_active_users_hll",
    "events_ab_test",
    # round 8, eighth batch: RFM quintile census (histogram fences),
    # dedup-aware corpus sizing (rides the closure), ship-SLA watch.
    "customer_rfm",
    "effective_corpus_size",
    "supplier_ship_sla",
    # round 8, ninth batch: conformance censuses (one aggregate each).
    "source_lang_fd",
    "lang_charclass_profile",
    "order_status_reconciliation",
    # round 8, tenth batch: seasonal-naive backtest (bin agg + lag),
    # churn census (two aggregates), quantile-norm audit (histogram).
    "events_seasonal_backtest",
    "user_churn_census",
    "embedding_quantile_norm",
    # round 8, eleventh batch: Pareto/ABC census, pre-join skew
    # diagnosis (per-key counts, no join executed), dup-payment screen.
    "part_abc_analysis",
    "join_skew_diagnosis",
    "orders_dup_screen",
    # round 8, twelfth batch: Wilson CIs, dow x hour matrix, Gini.
    "conversion_wilson_ci",
    "events_dow_hour_matrix",
    "customer_revenue_gini",
    # round 8, thirteenth batch: snowflake trade matrix (broadcast
    # dims end-to-end), peak census (bin windows), integer-decay LTV.
    "nation_trade_matrix",
    "events_peak_census",
    "user_decayed_value",
    # round 9, first batch: Pareto coverage + Lorenz deciles (both on
    # the distributed global ordered scan), PIT FX enrichment
    # (broadcast effective-dated range join).
    "user_value_pareto",
    "customer_lorenz_deciles",
    "orders_pit_fx_enrich",
    # round 9: streaming RFM twin (two staged writes + two rollup
    # micro-batches, like the other streaming replays), streaming ABC
    # twin (rollup + distributed ordered scan), Zipf vocab census.
    "stream_rfm_incremental",
    "stream_abc_incremental",
    "vocab_rank_census",
    # round 9 third batch: relational Count-Min sketch (one 4x-exploded
    # map-combined aggregate + broadcast probe joins).
    "heavy_hitters_cms",
    # round 9 fourth batch: gaps-and-islands streak census (per-key
    # windows only) and the bipartite degree census (one persisted
    # distinct edge projection + two key aggregates).
    "customer_active_islands",
    "part_supplier_degree",
    # round 9 fifth batch: Bloom-prefiltered semi-join (one bit_or
    # bitmap pass + a zero-shuffle projection probe + survivor verify).
    "lineitem_bloom_prefilter",
    # round 9 sixth batch: cohort LTV curve (one key window + cell-
    # sized cumulative windows).
    "cohort_ltv_curve",
    # round 10: streaming heavy-hitters twin (two staged writes + two
    # MG merge micro-batches + the exact-verify readout) and the
    # streaming Lorenz twin (rollup micro-batches + ordered-scan
    # readout) — same replay-cost shape as the other streaming twins.
    "stream_heavy_hitters",
    "stream_lorenz_incremental",
    "stream_vocab_incremental",
    # round 13: the parallel lifetime router (VERDICT r12 item 1) —
    # same two staged writes + two foreachBatch micro-batches, but the
    # per-batch work is the distributed zip-with-index instead of a
    # one-task-per-bucket state funnel.
    "stream_route_lifetime",
]

# The staged-replay streaming twins: their sf0.1 cost is dominated by a
# ~2 s session-constant floor (temp parquet staging + checkpoint +
# state-store setup), not per-row work, which masks scan-shaped
# regressions in the raw numbers (VERDICT r11 item 3). The bench
# brackets that floor via a 0-row twin measured both before and after
# the headline loop (ADVICE r12: once-after is systematically warmer
# than the regime the twins ran in) and reports each twin's MARGINAL
# (median - floor); the adjudicator compares marginals so a twin's
# divergence flag reflects its data path.
#
# EXPLICIT membership (ADVICE r12): every name here routes through
# stage_two_batch_stream + a writeStream drain; a future stream_*
# headline that is NOT a staged-replay twin must simply not be listed
# (prefix inference would silently subtract the floor from it). The
# guard below fails the bench loudly if a stream_* headline is added
# without deciding its twin status.
STREAM_TWINS = frozenset(
    {
        "stream_route_counts",
        "stream_windowed_throughput",
        "stream_sessionized_users",
        "stream_dedup_keys",
        "stream_enriched_segments",
        "stream_error_purchase_pairs",
        "stream_locf_fill",
        "stream_transition_counts",
        "scd2_stream_history",
        "stream_rfm_incremental",
        "stream_abc_incremental",
        "stream_heavy_hitters",
        "stream_lorenz_incremental",
        "stream_vocab_incremental",
        "stream_route_lifetime",
    }
    & set(HEADLINE)
)
_UNDECLARED_STREAM_HEADLINES = [
    n
    for n in HEADLINE
    if n.startswith("stream_") and n not in STREAM_TWINS
]
if _UNDECLARED_STREAM_HEADLINES:
    raise AssertionError(
        "stream_* headline(s) missing from the explicit STREAM_TWINS "
        f"list (add or consciously exclude): {_UNDECLARED_STREAM_HEADLINES}"
    )


def setup_floor_query(spark):
    """The 0-row streaming twin: identical machinery to the staged-
    replay twins — two single-file parquet drops, an availableNow file
    stream with maxFilesPerTrigger=1, the mergeable rollup store
    behind foreachBatch, a checkpoint, and the state-result readout —
    over ONE data row per batch (a truly empty batch commits no state
    version; one row keeps the commit path real at negligible row
    cost). Its cost IS the session's staged-replay setup floor."""
    import shutil
    import tempfile

    from prioritizing_event_processing_with_apache_kafka_spark.streaming.rollup import (
        rollup_foreach_batch,
        rollup_state_result,
    )
    from prioritizing_event_processing_with_apache_kafka_spark.streaming.staging import (
        stage_two_batch_stream,
    )

    from pyspark.sql import functions as F

    # One JVM-side row (spark.range, NOT createDataFrame — the Python-
    # rows path spins up a Python worker per staged write, ~2-4 s of
    # cost NO real twin pays, which would overstate the floor and
    # clamp every marginal to zero).
    one = spark.range(1).select(
        F.lit(0).cast("bigint").alias("k"),
        F.lit(1).cast("bigint").alias("v"),
    )
    root = tempfile.mkdtemp(prefix="peps-floor-")
    state_path = os.path.join(root, "state")
    chk = os.path.join(root, "chk")
    try:
        src_dir, schema = stage_two_batch_stream(root, [one, one])
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .writeStream.foreachBatch(
                rollup_foreach_batch(
                    state_path=state_path,
                    key_col="k",
                    specs=[("v_sum", "sum", "v")],
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rollup_state_result(spark, state_path).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def adjudicate(
    timings: dict[str, float],
    spreads: dict[str, list[float]],
    ref: dict,
    *,
    floors: tuple[float, float] | None = None,
    stream_twins: frozenset = frozenset(),
    remeasure=None,
) -> dict | None:
    """Self-adjudicate this run against the committed reference series
    (VERDICT r10 item 1: the r10 driver bench read 1.32× the solo
    series purely from machine contention, and the evidence had to be
    reconstructed forensically — detect it AT MEASUREMENT TIME
    instead).

    Per-query ratios are first NORMALIZED by the fleet median ratio:
    when the whole machine runs 1.7× slower than it did at the
    reference epoch (observed in r11 — untouched trivial queries shift
    exactly like heavy ones), every raw ratio exceeds any fixed
    threshold and per-query flags are meaningless. A query is DIVERGENT
    only when it moved 1.5× beyond the FLEET's own shift (with a 0.3 s
    absolute floor so sub-second noise can't trigger it). The
    contention-vs-drift discriminator is the per-query spread MINIMUM
    from the same session, also fleet-normalized: a plan whose best rep
    still reaches ≤1.25× (fleet-adjusted) reference can still execute
    at historical speed. Verdicts:

    - ``within_band``: common-set total ratio ≤ 1.1 and nothing
      divergent — nothing to explain.
    - ``ambient_slowdown``: fleet median ratio > 1.25 with no query
      diverging from the fleet — the MACHINE moved, not the plans;
      compare rounds through the fleet-normalized numbers (or
      regenerate the reference series on the current machine).
    - ``contention_suspected_plans_unchanged``: divergent medians whose
      minima all recover — cross-check the committed plan fingerprints
      and prefer the solo series for cross-round comparison.
    - ``plan_drift_suspected``: a divergent query whose minimum never
      approaches (fleet-adjusted) reference — re-run
      tools/gen_plan_fingerprints.py and the solo bench; something
      real changed.
    - ``elevated``: total ratio > 1.1 without per-query divergence or
      a fleet-wide shift (mild mixed load).

    Round-12 hardening (VERDICT r11 items 1 and 3):

    - **Marginal comparison for the staged-replay stream twins.** When
      ``floors=(now_floor, ref_floor)`` is given, queries in
      ``stream_twins`` are compared on ``median - floor`` (clamped to
      50 ms) on BOTH sides — the session-constant staging/checkpoint/
      state-store floor otherwise dilutes every twin's ratio and masks
      scan-shaped regressions in the marginal data path.
    - **Re-measure before committing a drift verdict.** The r11
      official bench carried a false ``plan_drift_suspected`` for
      ``stream_vocab_incremental`` because the committed reference
      point was one lucky solo draw. With ``remeasure`` (a callable
      ``name -> list[sec]`` that re-runs the query solo in the same
      session), every would-be divergent query is re-measured and its
      fresh minimum replaces the in-run spread minimum; only a query
      whose BEST re-measured rep still can't approach (fleet-adjusted)
      reference keeps the drift verdict.
    """
    ref_q = ref.get("queries", {})
    common = [n for n in timings if n in ref_q and ref_q[n] > 0]
    if not common:
        return None
    now_floor, ref_floor = floors if floors else (None, None)

    def eff(n: str, t: float, floor: float | None) -> float:
        if floor is not None and n in stream_twins:
            return max(t - floor, 0.05)
        return t

    total_now = sum(timings[n] for n in common)
    total_ref = sum(ref_q[n] for n in common)
    ratio = total_now / total_ref
    eff_now = {n: eff(n, timings[n], now_floor) for n in common}
    eff_ref = {n: eff(n, ref_q[n], ref_floor) for n in common}
    ratios = sorted(eff_now[n] / eff_ref[n] for n in common)
    mid = len(ratios) // 2
    fleet = (
        ratios[mid]
        if len(ratios) % 2
        else (ratios[mid - 1] + ratios[mid]) / 2
    )
    fleet = max(fleet, 1e-9)
    divergent = {}
    for n in common:
        r = eff_now[n] / eff_ref[n]
        # The ratio gate runs on marginals (floor-corrected) but the
        # absolute floor gates on RAW time: two sessions' floor
        # measurements differ by ±0.25 s of pure noise, and a twin
        # whose marginal is near zero at fixture scale would otherwise
        # read 3-4x divergent on a 60 ms raw difference (observed on
        # stream_sessionized_users while validating the r12 series).
        if r / fleet > 1.5 and timings[n] - ref_q[n] * fleet > 0.3:
            mn = eff(n, spreads.get(n, [timings[n]])[0], now_floor)
            divergent[n] = {
                "median": timings[n],
                "ref": ref_q[n],
                "marginal": round(eff_now[n], 3),
                "ref_marginal": round(eff_ref[n], 3),
                "ratio": round(r, 2),
                "fleet_norm_ratio": round(r / fleet, 2),
                "min": mn,
                "min_ratio": round(mn / (eff_ref[n] * fleet), 2),
            }
    if divergent and remeasure is not None:
        for n, d in divergent.items():
            try:
                runs = remeasure(n)
            except Exception as exc:  # noqa: BLE001 — adjudication is advisory
                d["remeasure_error"] = str(exc)
                continue
            if not runs:
                continue
            d["remeasured"] = [round(x, 3) for x in sorted(runs)]
            fresh_min = eff(n, min(runs), now_floor)
            if fresh_min < d["min"]:
                d["min"] = round(fresh_min, 3)
                d["min_ratio"] = round(
                    fresh_min / (eff_ref[n] * fleet), 2
                )
    if ratio <= 1.1 and not divergent:
        verdict = "within_band"
    elif not divergent and fleet > 1.25:
        verdict = "ambient_slowdown"
    elif divergent and all(
        d["min_ratio"] <= 1.25 for d in divergent.values()
    ):
        verdict = "contention_suspected_plans_unchanged"
    elif divergent:
        verdict = "plan_drift_suspected"
    else:
        verdict = "elevated"
    out = {
        "reference": ref.get("round", "unknown"),
        "common": len(common),
        "total_sec": round(total_now, 3),
        "ref_total_sec": round(total_ref, 3),
        "ratio": round(ratio, 3),
        "fleet_median_ratio": round(fleet, 3),
        "divergent": divergent,
        "verdict": verdict,
    }
    if now_floor is not None:
        out["setup_floor_sec"] = round(now_floor, 3)
    if ref_floor is not None:
        out["ref_setup_floor_sec"] = round(ref_floor, 3)
    return out


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F  # noqa: F401 — warmup aggregates

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("peps-bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # Stage-progress bars share stdout/stderr with the result line;
        # round 6's driver artifact lost the headline JSON to exactly
        # this noise (BENCH_r06 parsed: null). Keep the channel silent.
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Fail-fast environment gate: one clear line per broken table
    # beats 30 per-query stacktraces (round-3 lesson).
    from prioritizing_event_processing_with_apache_kafka_spark.sources.tables import (
        smoke_check_tables,
    )

    problems = smoke_check_tables(spark, SF_DIR)
    if problems:
        for p in problems:
            print(f"SMOKE FAIL {p}", file=sys.stderr)
        return 2

    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def isolate() -> None:
        """Reset the session between measurements.

        Running 30+ persist-heavy queries in one JVM lets block-manager
        and GC pressure from query N leak into query N+1's number
        (round 2 recorded q1 at 4.7 s where a fresh session measures
        ~1.1 s with the identical plan). Three steps restore a
        near-fresh state without paying a JVM restart per query: drop
        every cached frame, run a settling query so the executor
        threads drain outside any measurement (cache-free ``range``
        aggregate — NOT an inventory query, which could re-persist the
        frames just cleared), then two explicit GC passes (the first
        collects, the second clears soft references the first
        promoted) so the next measurement doesn't absorb GC tail work.
        """
        spark.catalog.clearCache()
        materialize(spark.range(1_000_000).selectExpr("sum(id) AS s"))
        jvm = spark.sparkContext._jvm
        jvm.System.gc()
        time.sleep(0.2)
        jvm.System.gc()

    # Warmup: spin up executor threads, codegen, parquet footers.
    materialize(queries["route_distribution"](spark, SF_DIR))

    # JIT warmup for the shared evaluation machinery the dedup/text
    # queries lean on (higher-order lambda interpreter, xxhash64,
    # levenshtein, array ops). Profiling showed identical back-to-back
    # pairs of the same query run 2-3× slower early in a session than
    # late — both runs of a pair, so min-of-two can't mask it — because
    # C2 compilation of these shared paths completes over session
    # lifetime. A warm cluster has them compiled; exercising them once
    # up front measures that steady state instead of JIT luck.
    warm = spark.range(300_000).selectExpr(
        "id",
        "repeat(concat('tok', cast(id % 997 AS STRING), ' '), 12) AS text",
    ).selectExpr(
        "xxhash64(text) AS h",
        # XOR fold: associative, overflow-free under ANSI mode
        "aggregate(transform(split(text, ' '), x -> xxhash64(x)), 0L, (a, b) -> a ^ b) AS fold",
        "size(array_distinct(split(text, ' '))) AS nd",
        "levenshtein(substr(text, 1, 40), substr(text, 3, 40), 20) AS lev",
    )
    materialize(
        warm.groupBy((warm.h % 64).alias("g")).agg(
            F.max("fold").alias("s"), F.max("lev").alias("m"), F.sum("nd").alias("n")
        )
    )

    # One untimed warm run, then MEDIAN of three timed runs per query.
    # The warm run pays the one-off costs (codegen compile, parquet
    # footer reads, broadcast build) AND most of the C2 JIT of the
    # query's generated code — measured on the OPH dedup query, four
    # identical back-to-back runs go 4.7 → 5.2 → 3.1 → 1.9 s at sf0.1,
    # so timing from cold reports a half-JITted number for
    # codegen-heavy plans. This VM shows ±30% single-run variance
    # (docs/SCALE.md), so the headline statistic is the MEDIAN of the
    # three post-warm runs — robust to one slow outlier in either
    # direction — with the per-query [min, max] spread reported
    # alongside so cross-round comparisons can see the noise floor
    # (and the min remains comparable to the min-of-two that rounds
    # 1-5 reported). Runs can't reuse each other's data caches —
    # clearCache between runs.
    # Staged-replay setup floor, PRE-headline half (ADVICE r12: the
    # floor was measured once, after all headline queries, in a warmer
    # JVM/page-cache regime than the one the stream twins were timed
    # in — a systematic, not random, bias). Bracketing the headline
    # loop with one half-measurement on each side and taking the
    # median of all six timed runs centers the floor on the regime the
    # twins actually ran in.
    def measure_floor_runs() -> list[float]:
        runs: list[float] = []
        for rep in range(4):
            t0 = time.time()
            materialize(setup_floor_query(spark))
            if rep > 0:
                runs.append(time.time() - t0)
            spark.catalog.clearCache()
        isolate()
        return runs

    floor_runs = measure_floor_runs()

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for name in HEADLINE:
        runs: list[float] = []
        for rep in range(4):
            t0 = time.time()
            materialize(queries[name](spark, SF_DIR))
            if rep > 0:
                runs.append(time.time() - t0)
            spark.catalog.clearCache()
        runs.sort()
        timings[name] = round(runs[1], 3)
        spreads[name] = [round(runs[0], 3), round(runs[2], 3)]
        isolate()

    # Session staged-replay setup floor (VERDICT r11 item 3), POST-
    # headline half: same warm-run + 3 timed protocol as the pre half;
    # the floor is the median of the six timed runs across both halves.
    floor_runs += measure_floor_runs()
    floor_runs.sort()
    setup_floor = round(
        (floor_runs[len(floor_runs) // 2 - 1] + floor_runs[len(floor_runs) // 2])
        / 2.0,
        3,
    )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_value: float | str = float(sf)
    except ValueError:
        sf_value = sf
    result = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_value,
        "stat": "median_of_3",
        "setup_floor_sec": setup_floor,
        "stream_marginal_sec": {
            n: round(max(timings[n] - setup_floor, 0.0), 3)
            for n in HEADLINE
            if n in STREAM_TWINS
        },
    }
    # Self-adjudication vs the committed reference series (see
    # adjudicate()): written as a sidecar in the same instant as the
    # headline artifact, so a contention-elevated driver bench carries
    # its own explanation instead of needing forensics.
    here = os.path.dirname(os.path.abspath(__file__))

    def remeasure(name: str) -> list[float]:
        """Solo re-measure of one would-be divergent query (VERDICT r11
        item 1): isolate, one warm run, three timed reps — fresh
        evidence before a drift verdict is committed."""
        isolate()
        out: list[float] = []
        for rep in range(4):
            t0 = time.time()
            materialize(queries[name](spark, SF_DIR))
            if rep > 0:
                out.append(time.time() - t0)
            spark.catalog.clearCache()
        return out

    adj = None
    try:
        ref = json.load(
            open(os.path.join(here, "docs", "artifacts", "bench_reference.json"))
        )
        if ref.get("sf") == sf_value:
            ref_floor = ref.get("setup_floor_sec")
            adj = adjudicate(
                timings,
                spreads,
                ref,
                # marginal comparison needs the floor on BOTH sides —
                # an old reference without one falls back to raw.
                floors=(
                    (setup_floor, float(ref_floor))
                    if ref_floor
                    else None
                ),
                stream_twins=STREAM_TWINS,
                remeasure=remeasure,
            )
    except (OSError, ValueError):
        pass
    if adj is not None:
        adj_path = os.environ.get(
            "SPARK_GRAFT_ADJ_OUT", os.path.join(here, "bench_adjudication.json")
        )
        try:
            with open(adj_path, "w") as fh:
                json.dump(adj, fh, indent=1)
        except OSError as exc:
            print(f"adjudication sidecar not written: {exc}", file=sys.stderr)
        # Compact summary rides the stdout JSON itself (budget-capped
        # below, so it always fits the driver's tail window).
        result["adj"] = {
            "ref": adj["reference"],
            "n": adj["common"],
            "ratio": adj["ratio"],
            "div": len(adj["divergent"]),
            "verdict": adj["verdict"],
        }
    # The per-query [min, max] spread stays OUT of the stdout line: the
    # driver captures only a bounded tail of output, and round 6's
    # spread block grew the JSON past that window, truncating the
    # headline total out of BENCH_r06 (parsed: null). Sidecar file
    # instead; committed per round as docs/artifacts/bench_spread_r{N}.
    spread_path = os.environ.get(
        "SPARK_GRAFT_SPREAD_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_spread.json"),
    )
    try:
        with open(spread_path, "w") as fh:
            json.dump(
                {
                    "sf": sf_value,
                    "stat": "median_of_3",
                    "spread": spreads,
                    "setup_floor_sec": setup_floor,
                    "setup_floor_spread": [floor_runs[0], floor_runs[2]],
                    "stream_marginal_sec": result["stream_marginal_sec"],
                },
                fh,
            )
    except OSError as exc:
        # The sidecar is auxiliary — an unwritable path must never cost
        # the headline line (the exact failure mode this split fixes).
        print(f"spread sidecar not written: {exc}", file=sys.stderr)
    # The driver records only a bounded TAIL of stdout (~1.9 KB) and
    # parses the last line. At ~90 headline queries the full per-query
    # map outgrew that window in round 8, cutting the headline total
    # off the FRONT of the single line (BENCH_r08 parsed: null). Split:
    # the complete map goes out first (informational line + committed
    # per round via the solo-bench artifact), and the FINAL line is a
    # budget-capped JSON that always fits the tail window — headline
    # total guaranteed parseable, per-query detail for the slowest
    # queries (the ones worth comparing round-over-round), the rest
    # counted in queries_elided.
    print(json.dumps(result, separators=(",", ":")))
    budget = 1200
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    kept: dict[str, float] = {}
    # The capped final line drops the per-twin marginal map (it rides
    # the full line above + the spread sidecar) to keep query budget.
    capped_base = {
        k: v for k, v in result.items() if k != "stream_marginal_sec"
    }
    for name, sec in slowest:
        trial = dict(capped_base)
        trial["queries"] = {**kept, name: sec}
        trial["queries_elided"] = len(timings) - len(trial["queries"])
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        kept[name] = sec
    final = dict(capped_base)
    final["queries"] = kept
    final["queries_elided"] = len(timings) - len(kept)
    # FINAL line of stdout — nothing may print after.
    print(json.dumps(final, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
