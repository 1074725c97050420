"""``analytics_mix``: closed loop, one client, over events-only
bucket-priority inventory queries.

A seeded ``events`` table with the fixture schema is written as
``<work>/sf/events.parquet``; each pass runs every query in ``QUERY_SET``
through the package's inventory registry and collects its result. This
is the workload where the analytics operators (windows, sketches, the
drain schedule, broadcast joins) and the inventory registries do the
work. Results of the last pass are compared, with the repository's
oracle comparison, to DuckDB running each query's registered oracle SQL
over the same file.
"""

from __future__ import annotations

import time

import common
import gen

from prioritizing_event_processing_with_apache_kafka_spark import inventory
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import layout_table
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout

EVENTS = 20_000
QUERY_SET = (
    "route_distribution",
    "priority_drain_schedule",
    "bucket_throughput_hourly",
    "bucket_user_reach_hll",
)
# Sketch queries carry their exact answer in-plan; bound = 3x the
# sketch's standard error, as the repository's oracle tool uses.
SELF_AUDIT = {"bucket_user_reach_hll": ("rel_error_pct", 3.0)}
MIN_PASSES = 3
WARM_PASSES = 2


def session_conf(ctx) -> dict:
    return {}


def setup(ctx):
    spark = ctx.spark
    t = time.perf_counter()
    sf = ctx.path("sf")
    common.fresh_dir(sf)
    import pyarrow.parquet as pq

    pq.write_table(gen.events_table(ctx.seed, EVENTS), f"{sf}/events.parquet")
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    cfg = inventory.EVENTS_CONFIG
    with ctx.tracer.span("layout", "plans", "setup"):
        compute_layout(inventory.EVENTS_NUM_PARTITIONS, cfg.buckets_with_allocation(),
                       topic=cfg.topic)
        layout_table(spark, cfg, inventory.EVENTS_NUM_PARTITIONS)
    layout_s = time.perf_counter() - t

    state = {"sf": sf, "pass": 0}
    t = time.perf_counter()
    for _ in range(WARM_PASSES):
        _pass(ctx, state)
    warmup_s = time.perf_counter() - t
    return state, {"sources.gen_s": gen_s, "plans.layout_s": layout_s, "setup.warmup_s": warmup_s}


def _pass(ctx, state) -> dict:
    tr = ctx.tracer
    state["pass"] += 1
    group = f"pass-{state['pass']}"
    out = {"plan": {}, "exec": {}, "results": {}}
    t0 = time.perf_counter()
    with tr.span("pass", "bench", group):
        for name in QUERY_SET:
            a = time.perf_counter()
            with tr.span(f"plan.{name}", "inventory", group):
                df = inventory.QUERIES[name](ctx.spark, state["sf"])
            b = time.perf_counter()
            with tr.span(f"collect.{name}", "operators", group):
                out["results"][name] = df.toPandas()
            out["plan"][name] = b - a
            out["exec"][name] = time.perf_counter() - b
    out["total"] = time.perf_counter() - t0
    out["end"] = time.perf_counter()
    out["cache_mb"] = common.storage_mb(ctx.spark)
    return out


def measure(ctx, state) -> dict:
    passes = []
    t_start = time.perf_counter()
    last_end = t_start
    lates = []
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        lates.append(time.perf_counter() - last_end)
        p = _pass(ctx, state)
        last_end = p["end"]
        passes.append(p)
    state["last"] = passes[-1]
    totals = [p["total"] for p in passes]
    pass_s = common.median(totals)
    per_query = {q: common.median([p["plan"][q] + p["exec"][q] for p in passes]) for q in QUERY_SET}
    tail_q, tail = common.tail_percentile(totals)
    routed = passes[-1]["results"]["route_distribution"]["record_count"]
    layers = {
        "unit.count": len(passes) * len(QUERY_SET),
        "unit.rows_p50": EVENTS,
        "unit.plan_s_p50": common.median([v for p in passes for v in p["plan"].values()]),
        "unit.exec_s_p50": common.median([v for p in passes for v in p["exec"].values()]),
        "unit.overhead_s_p50": common.median(
            [p["total"] - sum(p["plan"].values()) - sum(p["exec"].values()) for p in passes]),
        "latency.tail_s": tail,
        "latency.tail_pct": tail_q,
        "load.late_s_max": max(lates),
        "analytics.queries": len(QUERY_SET),
        "routing.cache_mb": max(p["cache_mb"] for p in passes),
        "routing.rows_routed": int(routed.sum()),
        "routing.routed_ratio": float(routed.sum()) / EVENTS,
    }
    return {
        "e2e": {"events_per_s": EVENTS / pass_s, "latency_s": pass_s},
        "layers": layers,
        "attempted": len(passes) * len(QUERY_SET),
        "failed": 0,
        "report": [f"{len(passes)} passes over {len(QUERY_SET)} queries on {EVENTS} events, "
                   f"pass p50 {pass_s:.4f} s"]
        + [f"query {q}: p50 {s:.4f} s" for q, s in per_query.items()],
    }


def verify(ctx, state, measured) -> dict:
    from tools.check_oracle import compare, duckdb_conn

    conn = duckdb_conn(state["sf"])
    checks = {}
    for name, got in state["last"]["results"].items():
        if name in SELF_AUDIT:
            col, bound = SELF_AUDIT[name]
            checks[name] = len(got) > 0 and bool((got[col].abs() <= bound).all())
        else:
            checks[name] = not compare(name, got, conn.execute(inventory.ORACLES[name]).fetchdf())
    conn.close()
    measured["layers"]["analytics.oracle_mismatch"] = sum(1 for ok in checks.values() if not ok)
    dist = state["last"]["results"]["route_distribution"]
    per_bucket = dist.groupby("bucket")["record_count"]
    measured["layers"]["routing.partition_skew"] = float((per_bucket.max() / per_bucket.mean()).max())
    return checks
