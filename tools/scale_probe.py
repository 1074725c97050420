"""Scale-factor probe: does each headline plan scale linearly?

sf0.1 is scheduler/JIT-bound (docs/SCALE.md), so the per-round bench
cannot distinguish an O(n) plan from an O(n log n) or skew-bound one.
This probe manufactures an N-fold replica of the events/documents/
embeddings tables (ids shifted per copy so keys stay distinct and
cardinalities scale honestly), times a subset of headline queries at
1x and Nx, and reports the scaling ratio per query. A ratio near N
(or below, where fixed overhead amortizes) means the plan is
throughput-bound and should survive the next 100x; a super-linear
ratio is a red flag the fixture bench can't see.

Interpretation caveats (docs/SCALE.md "Round-5 scale probe"):

- At 10x the fixtures are still only ~30 MB, so most plans remain
  overhead-bound (~0.3 s floor) and the ratio is ~1. Use --copies 100
  (~2 GB of rows) for throughput-bound measurements.
- Document TEXT is decorrelated per copy (every token gets a
  ``_<copy>`` suffix), so copies are NOT near-duplicates of each
  other: each copy reproduces the base corpus's duplicate-group
  structure and true duplicate pairs grow LINEARLY — the honest
  growth model for a corpus N times larger. (A verbatim replica
  would give every doc N-1 exact twins and pair counts an N^2 lower
  bound no plan can beat; that regime measures the data shape, not
  the plan.) Vocabulary also grows Nx, which is how real corpora
  behave. Embeddings are copied verbatim (vector twins), so
  similarity probes over embeddings still see duplicated vectors.

The replica lives under /tmp and is rebuilt only when missing or
stale (fixture mtime tag). Usage:

    python tools/scale_probe.py [--json OUT] [--copies N] [sf_dir]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Queries with meaningfully different plan shapes: narrow map
# (fingerprint), one-shuffle agg (token stats), distributed
# zip-with-index (routing), window (top-k), as-of union-window join,
# sketch rollup, Lloyd's iterations, multi-join TPC-H profit, bounded
# n-gram LM scoring.
PROBED = [
    "doc_fingerprint",
    "text_token_stats",
    "route_events_exact",
    "top_events_per_user",
    "events_asof_last_purchase",
    "bucket_user_reach_hll",
    "embedding_kmeans",
    "lm_doc_score",
    # round-5 merge surface: one-shuffle max_by compaction over the
    # replicated documents; SCD2 point-in-time enrich over the
    # replicated events (fact side scales, dimension side is built
    # in-plan from distinct users and stays broadcast).
    "changelog_compaction",
    "events_tier_at_time",
    # round-7 second batch: drain tick = routing plan + broadcast map
    # (should track route_events_exact), and the hour-spine gap fill
    # (spine bounded by wall clock, so the probe should be agg-bound
    # and strongly sub-linear).
    "priority_drain_schedule",
    "ts_gap_fill",
    # round-7 third batch: NB scores bucketed — should track the NB
    # classifier's measured 3.2× (the extra aggregate is over ≤ a few
    # hundred bucket rows).
    "nb_calibration",
    # round-7 fourth batch: streaming LOCF replay — wall includes the
    # two-file staging write plus both micro-batches; per-batch work
    # is one key-window + a #keys-row state join.
    "stream_locf_fill",
    # round-7 sixth batch: rendezvous routing is per-row projection +
    # a 12-row agg (should be the most linear plan in the suite); HHI
    # two hash aggs; CUSUM hourly rollup + per-bucket window (hours
    # bounded by wall clock -> expected strongly sub-linear).
    "route_rendezvous",
    "bucket_key_concentration",
    "bucket_cusum_alarm",
    # round-7 seventh batch: streaming transition counts (two staged
    # writes + two micro-batches, like stream_locf_fill); OLS moments
    # (window + same-key agg); session path census (one key sort +
    # bounded-array rollup); Merkle digests (one hash agg, md5-bound).
    "stream_transition_counts",
    "user_value_trend",
    "top_session_paths",
    "corpus_merkle_buckets",
    # round-7 eighth batch: last-touch attribution (one key window
    # over the replicated events + tiny share agg).
    "purchase_attribution",
    # round-7 ninth batch: drain percentiles (the exact routing plan
    # plus histogram windows — should track priority_drain_schedule).
    "drain_tick_percentiles",
    # round 8: the histogram-lattice exact percentiles (hash agg +
    # histogram window — downstream of the first aggregate nothing
    # scales with rows, so expected strongly sub-linear), the KLL
    # bridge (adds the sketch rollup + broadcast rank joins), and the
    # unhinted-layout-join canary (one fact agg + AQE broadcast).
    "bucket_percentile_exact",
    "bucket_percentile_bridge",
    "layout_autobroadcast_canary",
    # round 8 second batch: MAD (histogram-sized after the first agg —
    # expected strongly sub-linear) and the rebalance impact (tracks
    # route_events_exact + broadcast joins).
    "bucket_value_mad",
    "layout_rebalance_impact",
    # round 8 third batch: packing (prefix sums, window-bound),
    # weighted sampling (threshold plan — survivor set is O(n) however
    # big the stratum), vocab drift (vocab-sized after the term agg),
    # k-anonymity (class-table-sized after the first agg), M4 (one
    # partial-agg exchange — expected the flattest of the batch).
    "corpus_pack_stats",
    "documents_weighted_sample",
    "source_vocab_drift",
    "events_k_anonymity",
    "events_m4_downsample",
    # round 8 fourth batch: ACF (bin-agg collapses rows; ACF math is
    # bin-count-sized), Benford (9-row output, one exchange),
    # winsorize (histogram-sized fences; fact side never shuffles),
    # outlier audit (label-sized aggregates + broadcasts).
    "events_hourly_acf",
    "lineitem_benford",
    "orders_winsorized",
    "embedding_outlier_audit",
    # round 8 fifth batch: k-core (peel rounds sized by the surviving
    # subgraph — tracks the pair generator), source overlap (pair-list
    # sized after the generator), decile drift (histogram + broadcast;
    # fact side never shuffles), erasure cascade (semi-join chain).
    "neardup_kcore",
    "source_overlap",
    "events_decile_drift",
    "erasure_cascade",
    # round 8 sixth batch: exact sliding distinct (post-presence state
    # is keys x bins x W), HLL twin (post-bin state is bins x W
    # sketches — expected flatter than the exact twin), A/B readout
    # (2-row aggregate).
    "rolling_active_users",
    "rolling_active_users_hll",
    "events_ab_test",
    # round 8 eighth batch: RFM (post-agg state customer-sized, fences
    # distinct-value-sized), corpus sizing (tracks the CC closure),
    # SLA watch (supplier-sized after the lag join).
    "customer_rfm",
    "effective_corpus_size",
    "supplier_ship_sla",
    # round 8 ninth batch: conformance censuses — post-agg state is
    # (source x lang) / lang / status-pair sized.
    "source_lang_fd",
    "lang_charclass_profile",
    "order_status_reconciliation",
    # round 8 tenth batch: backtest/churn/quantile-norm — post-agg
    # state is bin-, (type,user)- and (dim,value)-histogram-sized.
    "events_seasonal_backtest",
    "user_churn_census",
    "embedding_quantile_norm",
    # round 8 eleventh batch: part-sized / key-sized / triple-sized
    # post-agg state respectively.
    "part_abc_analysis",
    "join_skew_diagnosis",
    "orders_dup_screen",
    # round 8 twelfth batch: cohort- / cell- / customer-sized post-agg.
    "conversion_wilson_ci",
    "events_dow_hour_matrix",
    "customer_revenue_gini",
    # round 8 thirteenth batch: nations^2 / bin / cohort sized post-agg.
    "nation_trade_matrix",
    "events_peak_census",
    "user_decayed_value",
    # round 9 first batch: Pareto coverage runs the distributed ordered
    # scan over per-USER sums — the events replica shifts user ids per
    # copy, so the scan input honestly grows Nx here (the TPC-H-keyed
    # ordered scans grow under --grow-tpch instead).
    "user_value_pareto",
    # round 9 second batch: the Zipf census's ordered-scan input is the
    # VOCABULARY, which the decorrelated replica grows Nx by design.
    "vocab_rank_census",
    # round 9 third batch: CMS — the cell table is depth x width rows
    # after ONE map-combined pass however big the input; expected
    # strongly sub-linear.
    "heavy_hitters_cms",
    # round 10: streaming vocab census — the decorrelated replica grows
    # the VOCABULARY (the rollup key space) Nx by design; wall includes
    # the two staged writes + both micro-batches + the ordered-scan
    # readout over the Nx vocabulary.
    "stream_vocab_incremental",
    # round 10: PQ ANN — codebook training is m-in-one-pass Lloyd's
    # over 100x vectors; ADC scan is one broadcast-LUT join + a
    # (query,id) combine over 100x codes; the exact stage stays
    # shortlist-sized. Expected near-linear in the corpus.
    "embedding_ann_pq",
]

# Near-dup detection: linear-output on the decorrelated replica, but
# Sigma-bucket^2 candidate volume makes it the heaviest probe —
# skippable at large N via --no-dedup.
DEDUP_PROBES = [
    "dedup_minhash_lsh",
    # the 10x-bench heavyweights (bench_10x_r05.json): all
    # shingle-volume-bound, all expected sub-linear — track them so a
    # regression to super-linear growth is visible per round.
    "decontamination_bloom",
    "semantic_dedup",
    "dedup_edit_distance",
    # round-7 second batch: pair generation + 2 vote rounds; pair
    # volume is the shingle-blocked candidate set, so expected
    # near-linear on the decorrelated replica.
    "label_propagation",
    # round-7 third batch: pair generation + CC + one argmax join.
    "dedup_keep_canonical",
    # round-7 sixth batch: same shingle-blocked candidate volume as
    # the Jaccard ground truth, different verify arithmetic.
    "doc_containment",
    # round-7 eighth batch: pair generation + the symmetric wedge
    # join — the heaviest graph probe after label propagation.
    "neardup_common_neighbors",
    # round-7 ninth batch: the prefix-filtered join should track (or
    # beat) the ground truth's growth — its whole reason to exist —
    # and the multiset refinement adds a per-pair token join on top.
    "dedup_prefix_filter",
    "dedup_multiset_jaccard",
    # post-review: the triangle count now persists its edge frame
    # (three references) — track it like the other wedge-join probes.
    "dedup_triangle_count",
    # round 8: bounded BFS over the same candidate edge set — each
    # round shuffles only the frontier; expected to track the pair
    # generator's growth.
    "neardup_bfs_hops",
]

# Queries whose window/rank input is KEY-scaled (one row per
# customer/part/order triple): the decorrelated events/documents
# replica cannot grow their post-aggregate state (copies collapse at
# the key aggregate), so a probe over it is provably blind to a
# single-reducer funnel there (VERDICT r8 "what's wrong" #2). The
# --grow-tpch mode replicates orders+lineitem with REMAPPED keys
# (o_custkey / l_partkey / o_orderkey shifted per copy) so the
# per-key aggregate — the input to the global ordered scan — really
# is N× larger.
GROW_PROBED = [
    "part_abc_analysis",       # global ordered scan over N× parts
    "customer_revenue_gini",   # global ordered scan over N× customers
    "customer_rfm",            # per-customer frame + histogram fences
    "join_skew_diagnosis",     # per-key counts on both join sides
    "orders_dup_screen",       # triple aggregate over N× orders
    # round 9: the two TPC-H-keyed ordered-scan consumers and the PIT
    # range join (fact side grows N×; the dimension stays wall-clock
    # bounded and broadcast).
    "customer_lorenz_deciles",
    "orders_pit_fx_enrich",
    # round 9: streaming twins — wall includes the two staged writes +
    # both micro-batches; per-batch work is one map-combined aggregate
    # + one key merge join over the N× key space (ABC adds the ordered
    # scan readout over N× parts).
    "stream_rfm_incremental",
    "stream_abc_incremental",
    # round 9 fourth batch: islands = per-customer windows over N×
    # customers; degree census = distinct edge projection over N×
    # parts/orders (suppliers passthrough).
    "customer_active_islands",
    "part_supplier_degree",
    # round 9 fifth batch: bloom build is one map-combined bit_or pass
    # (bitmap size fixed), probe is a projection; the N× cost is the
    # survivor verify join over the N× hot subset.
    "lineitem_bloom_prefilter",
    # round 9 sixth batch: LTV curve — one customer-keyed window over
    # N× customers; everything after is (cohort × age)-cell-sized.
    "cohort_ltv_curve",
    # round 10 backfill (VERDICT r9 item 3): the r8-era key-scaled
    # censuses, probed decorrelated-only until the v3 grow replica
    # started growing their actual post-aggregate states — customer/
    # supplier dims replicate with matching key shifts; events gets
    # user/ts/value decorrelation so user flags, hourly bins, and
    # value histograms grow N×.
    "user_churn_census",      # (type,user) flags over N× users
    "events_decile_drift",    # per-type value histograms over N× values
    "nation_trade_matrix",    # N× fact through dim joins (25² census)
    "supplier_ship_sla",      # (supplier, lag) histograms over N× suppliers
    "events_peak_census",     # (type, hour) bins over N× wall clock
    # round 10 streaming twins: MG state (bounded at capacity rows)
    # over N× users; Lorenz rollup + ordered-scan readout over N×
    # customers. Wall includes the staged writes + both micro-batches.
    "stream_heavy_hitters",
    "stream_lorenz_incremental",
    # round 13 (VERDICT r12 item 2): the rebalance migration-cost
    # rollup joins the grow set for its third-decade point — events
    # grow N× through the exact router + two broadcast layout joins.
    "layout_rebalance_impact",
    # round 12 (VERDICT r11 item 2): the transformWithState router —
    # one ValueState counter per bucket serializes each bucket into a
    # single task per batch BY DESIGN (the reference's shared
    # AtomicInteger, Bucket.java:14); this probe quantifies the
    # trade-off the stateful.py docstring promises vs the stateless
    # modes (route_events_exact's plan) as events grow N×.
    "stream_route_tws",
    # round 13 (VERDICT r12 item 1): the parallel lifetime router —
    # counter-block reservation + distributed zip-with-index must
    # track route_events_exact's 4-5x band at 100x where the
    # ValueState router measured 68x (one task per bucket). The
    # __core entry isolates the per-batch plan from the staged-replay
    # harness (staging writes + checkpoint + sink readback).
    "stream_route_lifetime",
    "stream_route_lifetime__core",
]

# Bump when the replica construction changes so stale /tmp replicas
# from earlier revisions are not reused.
_REPLICA_VERSION = "v3-grow-dims-events"

TABLES = ("events", "documents", "embeddings")
# Grow mode (round 10 extension): customer/supplier dims replicate
# WITH the matching key shifts (so dim-joining censuses keep their
# joins honest at N× keys), and events replicates with user/ts/value
# decorrelation (so user-keyed flags, hourly bins, and value
# histograms — the r8-era censuses' post-aggregate states — really
# grow N× instead of collapsing at the key aggregate).
GROW_TABLES = ("orders", "lineitem", "customer", "supplier", "events")
# Tables the probed queries need but that aren't replicated (TPC-H
# dims etc.) are symlink-copied as-is.
PASSTHROUGH = (
    "region nation customer supplier part orders lineitem".split()
)
GROW_PASSTHROUGH = "region nation part documents embeddings".split()


def replica_dir(sf_dir: str, copies: int, *, grow: bool = False) -> str:
    # Tag every replicated source table's identity, not just events:
    # regenerated documents/embeddings fixtures must invalidate too.
    parts = []
    for t in GROW_TABLES if grow else TABLES:
        src = f"{sf_dir.rstrip('/')}/{t}.parquet"
        stat = os.stat(src)
        parts.append(f"{src}:{stat.st_mtime_ns}:{stat.st_size}")
    version = _REPLICA_VERSION + ("-grow-tpch" if grow else "")
    tag = hashlib.md5(
        (":".join(parts) + f":{copies}:{version}").encode()
    ).hexdigest()[:12]
    prefix = "peps-grow" if grow else "peps-scale"
    return os.path.join("/tmp", f"{prefix}-{copies}x-{tag}")


def build_grow_replica(spark, sf_dir: str, out_dir: str, copies: int) -> None:
    """N× orders+lineitem with per-copy key remapping: every copy gets
    a DISJOINT customer/part/order key space, so per-key aggregates
    (the input to global ranks) grow by N — the honest growth model
    for "N× more customers", where the decorrelated-copy replica
    (same keys, collapsing at the aggregate) provably cannot see a
    rank funnel."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    rd = lambda t: spark.read.parquet(f"{sf_dir.rstrip('/')}/{t}.parquet")  # noqa: E731
    orders, li = rd("orders"), rd("lineitem")
    cust, supp, events = rd("customer"), rd("supplier"), rd("events")
    # ONE span per logical key domain — o_orderkey and l_orderkey must
    # shift identically or per-copy joins break; customer/supplier
    # spans come from the DIM tables (the key-domain supersets), so
    # the replicated dims and the remapped fact keys stay joined.
    span_order = orders.agg(F.max("o_orderkey")).first()[0] + 1
    span_cust = cust.agg(F.max("c_custkey")).first()[0] + 1
    span_part = li.agg(F.max("l_partkey")).first()[0] + 1
    span_supp = supp.agg(F.max("s_suppkey")).first()[0] + 1
    span_user = events.agg(F.max("user_id")).first()[0] + 1
    span_event = events.agg(F.max("event_id")).first()[0] + 1
    # the raw parquet ts is TIMESTAMP_NTZ; go through an explicit
    # TIMESTAMP cast (exact in the UTC session) for the micros lattice
    ts_us = "unix_micros(CAST(ts AS TIMESTAMP))"
    ts_lo, ts_hi = events.agg(
        F.min(F.expr(ts_us)), F.max(F.expr(ts_us))
    ).first()
    # each copy occupies its own disjoint time span (one spare hour of
    # gap), so wall-clock-bounded states (hourly bins, churn halves)
    # grow N× instead of stacking on the same clock
    span_ts_us = (ts_hi - ts_lo) + 3_600_000_000
    spine = spark.range(copies).withColumnRenamed("id", "__copy")
    shifts = {
        "orders": {"o_orderkey": span_order, "o_custkey": span_cust},
        "lineitem": {
            "l_orderkey": span_order,
            "l_partkey": span_part,
            "l_suppkey": span_supp,
        },
        "customer": {"c_custkey": span_cust},
        "supplier": {"s_suppkey": span_supp},
        "events": {"user_id": span_user, "event_id": span_event},
    }
    out_parts = max(8, min(256, copies * 4))
    for name, df in (
        ("orders", orders),
        ("lineitem", li),
        ("customer", cust),
        ("supplier", supp),
        ("events", events),
    ):
        big = df.crossJoin(F.broadcast(spine))
        for col, span in shifts[name].items():
            big = big.withColumn(
                col, F.col(col) + F.col("__copy") * F.lit(span)
            )
        if name == "events":
            # decorrelate the time axis and the value lattice per copy
            # (NULLs stay NULL through the arithmetic): hourly-bin
            # counts, churn halves, and per-type value histograms —
            # the post-aggregate states of the r8-era event censuses —
            # then grow N× the way a corpus N× longer/richer would.
            big = big.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr(ts_us) + F.col("__copy") * F.lit(span_ts_us)
                ).cast(df.schema["ts"].dataType),
            ).withColumn("value", F.col("value") + F.col("__copy"))
        big.drop("__copy").repartition(out_parts).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{name}.parquet")
    for t in GROW_PASSTHROUGH:
        src = f"{sf_dir.rstrip('/')}/{t}.parquet"
        dst = f"{out_dir}/{t}.parquet"
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)


def build_replica(spark, sf_dir: str, out_dir: str, copies: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        src = f"{sf_dir.rstrip('/')}/{t}.parquet"
        df = spark.read.parquet(src)
        # Shift every id-like column per copy so keys stay distinct:
        # unioned copies with disjoint id spaces scale group/join
        # cardinality the way real growth does.
        id_cols = [c for c in df.columns if c in ("event_id", "user_id", "doc_id", "vec_id")]
        span = {c: df.agg(F.max(c)).first()[0] + 1 for c in id_cols}
        # Single-scan expansion: cross join with a copy-index spine and
        # shift ids arithmetically — O(1) plan size regardless of N
        # (a 100-way union would explode plan compile time).
        spine = spark.range(copies).withColumnRenamed("id", "__copy")
        big = df.crossJoin(F.broadcast(spine))
        for col in id_cols:
            big = big.withColumn(
                col, F.col(col) + F.col("__copy") * F.lit(span[col])
            )
        if t == "documents" and "text" in big.columns:
            # Decorrelate text across copies (see module docstring):
            # suffix every token with the copy index so near-dup
            # structure and vocabulary scale linearly, not N^2.
            tag = F.concat(F.lit("_"), F.col("__copy").cast("string"))
            big = big.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda tok: F.concat(tok, tag),
                    ),
                    " ",
                ),
            )
        big = big.drop("__copy")
        out_parts = max(8, min(256, copies * 4))
        big.repartition(out_parts).write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
    for t in PASSTHROUGH:
        src = f"{sf_dir.rstrip('/')}/{t}.parquet"
        dst = f"{out_dir}/{t}.parquet"
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    copies = 10
    if "--copies" in argv:
        i = argv.index("--copies")
        copies = int(argv[i + 1])
        del argv[i : i + 2]
    skip_dedup = "--no-dedup" in argv
    if skip_dedup:
        argv.remove("--no-dedup")
    grow = "--grow-tpch" in argv
    if grow:
        argv.remove("--grow-tpch")
    only = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
        # Fail fast on typos BEFORE the multi-minute replica build.
        unknown = sorted(only - set(PROBED) - set(DEDUP_PROBES) - set(GROW_PROBED))
        if unknown:
            print(
                f"--only names not in PROBED/DEDUP_PROBES: {unknown}",
                file=sys.stderr,
            )
            return 2
    # For multi-minute per-run probes (200x+) the default warm + 2
    # timed runs triples an already-long measurement while JIT noise
    # is amortized inside any run that long; --reps 1 --no-warm gives
    # a single honest number instead.
    reps = 2
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        del argv[i : i + 2]
        if reps < 1:
            # reps=0 would leave best=inf and emit non-JSON `Infinity`
            print(f"--reps must be >= 1, got {reps}", file=sys.stderr)
            return 2
    no_warm = "--no-warm" in argv
    if no_warm:
        argv.remove("--no-warm")
    sf_dir = argv[0] if argv else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )

    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("peps-scale-probe")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    big_dir = replica_dir(sf_dir, copies, grow=grow)
    # _SUCCESS of the LAST-written table marks a complete build; a
    # bare directory left by an interrupted build must not be reused.
    last_table = (GROW_TABLES if grow else TABLES)[-1]
    done_marker = os.path.join(big_dir, last_table + ".parquet", "_SUCCESS")
    if not os.path.exists(done_marker):
        t0 = time.time()
        if grow:
            build_grow_replica(spark, sf_dir, big_dir, copies)
        else:
            build_replica(spark, sf_dir, big_dir, copies)
        print(f"built {copies}x replica at {big_dir} in {time.time()-t0:.1f}s")

    import __spark_entry__ as entrymod
    from prioritizing_event_processing_with_apache_kafka_spark.plans.fingerprint import (
        streaming_core_queries,
    )

    # The streaming __core builders (the pure per-batch plan each
    # foreachBatch twin executes) are probe-able under their pinned
    # names: a twin's end-to-end replay wall mixes the staging/
    # checkpoint harness with the per-batch plan, and the core probe
    # isolates the plan's own growth (r13: the lifetime router).
    queries = {**entrymod.queries(), **streaming_core_queries()}

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warm up the session (JIT, codegen, footers) before any timing.
    materialize(queries["route_distribution"](spark, sf_dir))

    def timed(name: str, d: str) -> float:
        # One untimed warm run per (query, dir) first: without it the
        # 1x numbers (measured earlier in the session) carry the JIT
        # cost and the ratios skew BELOW 1 (observed: doc_fingerprint
        # "0.15x" at 10x before this fix).
        if not no_warm:
            materialize(queries[name](spark, d))
            spark.catalog.clearCache()
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            materialize(queries[name](spark, d))
            best = min(best, time.time() - t0)
            spark.catalog.clearCache()
        return best

    results = {}
    if grow:
        probe_list = [(n, False) for n in GROW_PROBED]
    else:
        probe_list = [(n, False) for n in PROBED]
        if not skip_dedup:
            probe_list += [(n, True) for n in DEDUP_PROBES]
    if only is not None:
        excluded = sorted(only - {n for n, _d in probe_list})
        if excluded:
            # name the ACTUAL filter that dropped the query — blaming
            # --no-dedup for a grow-mode mismatch sent a past run off
            # probing nothing with a clean-looking log
            reason = (
                "not in GROW_PROBED (grow mode probes only key-scaled "
                "TPC-H queries)"
                if grow
                else "excluded by --no-dedup"
            )
            print(f"--only names {reason}: {excluded}", file=sys.stderr)
            return 2
        probe_list = [(n, d) for n, d in probe_list if n in only]
    if not probe_list:
        print("nothing to probe (check --only/--no-dedup)", file=sys.stderr)
        return 2
    for name, is_dedup in probe_list:
        t1 = timed(name, sf_dir)
        tn = timed(name, big_dir)
        ratio = tn / t1 if t1 > 0 else float("inf")
        results[name] = {
            "sec_1x": round(t1, 3),
            f"sec_{copies}x": round(tn, 3),
            "ratio": round(ratio, 2),
            "dedup_probe": is_dedup,
        }
        print(
            f"{name:28s} 1x={t1:6.2f}s {copies}x={tn:7.2f}s "
            f"ratio={ratio:5.2f}",
            flush=True,
        )

    out = {"copies": copies, "base_sf_dir": sf_dir, "queries": results}
    if grow:
        out["mode"] = "grow-tpch"  # cardinality-growing key remap
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(out, fh, indent=1)
        print(f"wrote {json_out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
