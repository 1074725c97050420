"""``route_batch_exact``: closed loop, one client.

Each iteration routes the same seeded batch of keyed events with
``route(mode="exact", order_col="event_id")``, shapes it with
``kafka_sink_frame`` and commits a file-backed topic partitioned by
``partition``. The exact round-robin is the routing path's one range
shuffle and persisted midframe, so per-row and shuffle cost dominate.
"""

from __future__ import annotations

import shutil
import time

import numpy as np

import common
import gen
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.functions.keys import extract_bucket
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
    layout_table,
    route,
)
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout
from prioritizing_event_processing_with_apache_kafka_spark.sources.kafka import kafka_sink_frame

BATCH = 300_000
WARM_BATCH = 20_000
MIN_ITERATIONS = 3


def session_conf(ctx) -> dict:
    return {}


def setup(ctx):
    spark, cfg = ctx.spark, gen.bench_config()
    t = time.perf_counter()
    table, cats = gen.keyed_events(ctx.seed, BATCH)
    gen.write_parquet(table, ctx.path("input"), files=ctx.cores)
    warm, _ = gen.keyed_events(ctx.seed, WARM_BATCH, first_id=BATCH)
    gen.write_parquet(warm, ctx.path("warm"), files=ctx.cores)
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    layout = compute_layout(gen.NUM_PARTITIONS, cfg.buckets_with_allocation(), topic=cfg.topic)
    layout_table(spark, cfg, gen.NUM_PARTITIONS)
    layout_s = time.perf_counter() - t

    state = {"cfg": cfg, "cats": cats, "layout": layout, "iteration": 0}
    t = time.perf_counter()
    for src in ("warm", "input"):
        _iterate(ctx, state, ctx.path(src))
    warmup_s = time.perf_counter() - t
    return state, {"sources.gen_s": gen_s, "plans.layout_s": layout_s, "setup.warmup_s": warmup_s}


def _iterate(ctx, state, src: str) -> dict:
    """Route one batch and commit it as a new topic directory."""
    spark, cfg, tr = ctx.spark, state["cfg"], ctx.tracer
    state["iteration"] += 1
    group = f"batch-{state['iteration']}"
    out = ctx.path("topics", f"t{state['iteration']:04d}")
    t0 = time.perf_counter()
    with tr.span("iteration", "bench", group):
        with tr.span("read", "sources", group):
            df = spark.read.schema(gen.KEYED_DDL).parquet(src)
        with tr.span("route", "operators", group):
            routed = route(
                df, cfg, gen.NUM_PARTITIONS, topic_col="topic",
                order_col="event_id", mode="exact",
            )
        with tr.span("kafka_sink_frame", "sources", group):
            frame = kafka_sink_frame(routed, cfg)
        t1 = time.perf_counter()
        with tr.span("topic_write", "sources", group):
            frame.write.partitionBy("partition").parquet(out)
        t2 = time.perf_counter()
    cache_mb = common.storage_mb(spark)
    routed._peps_exact_cache.unpersist(blocking=True)
    prev = state.get("last_topic")
    if prev:
        shutil.rmtree(prev, ignore_errors=True)
    state["last_topic"] = out
    t3 = time.perf_counter()
    return {"plan": t1 - t0, "exec": t2 - t1, "total": t2 - t0, "glue": t3 - t2,
            "cache_mb": cache_mb, "end": t3}


def measure(ctx, state) -> dict:
    src = ctx.path("input")
    samples = []
    t_start = time.perf_counter()
    last_end = t_start
    lates = []
    while len(samples) < MIN_ITERATIONS or time.perf_counter() - t_start < ctx.seconds:
        lates.append(time.perf_counter() - last_end)
        s = _iterate(ctx, state, src)
        last_end = s["end"]
        samples.append(s)
    committed = BATCH - gen.status_counts(BATCH)["starved"]
    totals = [s["total"] for s in samples]
    lat = common.median(totals)
    tail_q, tail = common.tail_percentile(totals)
    files, mb = common.dir_stats(state["last_topic"])
    layers = {
        "unit.count": len(samples),
        "unit.rows_p50": BATCH,
        "unit.plan_s_p50": common.median([s["plan"] for s in samples]),
        "unit.exec_s_p50": common.median([s["exec"] for s in samples]),
        "unit.overhead_s_p50": common.median([s["glue"] for s in samples]),
        "latency.tail_s": tail,
        "latency.tail_pct": tail_q,
        "load.late_s_max": max(lates),
        "routing.cache_mb": max(s["cache_mb"] for s in samples),
        "sources.topic_files": files,
        "sources.topic_mb": mb,
    }
    return {
        "e2e": {"events_per_s": committed / lat, "latency_s": lat},
        "layers": layers,
        "attempted": len(samples),
        "failed": 0,
        "report": [
            f"batch={BATCH} events, committed={committed}, iterations={len(samples)}, "
            f"route+commit p50={lat:.4f} s, p{tail_q:g}={tail:.4f} s",
        ],
    }


def expected_topic(cats: np.ndarray, layout) -> dict:
    """Closed form of the committed topic: rows per (partition, bucket)
    for routed rows, plus the NULL-partition total."""
    parts = gen.exact_partitions(cats, layout)
    out: dict = {}
    for b in ("Platinum", "Gold", "Standard"):
        sel = cats == gen.CATEGORIES.index(b)
        for p, n in zip(*np.unique(parts[sel], return_counts=True)):
            out[(int(p), b)] = int(n)
    planted = gen.category_counts(len(cats))
    out[(None, None)] = planted["unknown"] + planted["null_key"] + planted["foreign"]
    return out


def verify(ctx, state, measured) -> dict:
    spark, cfg = ctx.spark, state["cfg"]
    checks = {}
    # Status counts equal the planted counts.
    df = spark.read.schema(gen.KEYED_DDL).parquet(ctx.path("input"))
    routed = route(df, cfg, gen.NUM_PARTITIONS, topic_col="topic",
                   order_col="event_id", mode="exact")
    got = {r["route_status"]: r["count"] for r in routed.groupBy("route_status").count().collect()}
    routed._peps_exact_cache.unpersist()
    want = gen.status_counts(BATCH)
    checks["status_counts"] = {k: v for k, v in want.items() if v} == got

    # Per-partition counts equal the round-robin closed form and every
    # routed partition lies in its bucket's range.
    topic = spark.read.parquet(state["last_topic"])
    rows = (
        topic.withColumn("b", extract_bucket(F.col("key"), cfg.delimiter))
        .groupBy("partition", "b").count().collect()
    )
    got_topic: dict = {}
    for r in rows:
        key = (None, None) if r["partition"] is None else (int(r["partition"]), r["b"])
        got_topic[key] = got_topic.get(key, 0) + r["count"]
    checks["topic_closed_form"] = got_topic == expected_topic(state["cats"], state["layout"])

    counts = {}
    for (p, b), n in got_topic.items():
        if p is not None:
            counts.setdefault(b, []).append(n)
    skew = max(max(v) / (sum(v) / len(v)) for v in counts.values())
    measured["layers"].update(
        {
            "routing.rows_routed": got.get("routed", 0),
            "routing.rows_unroutable": got.get("unroutable", 0),
            "routing.rows_starved": got.get("starved", 0),
            "routing.rows_bypassed": got.get("bypassed", 0),
            "routing.routed_ratio": got.get("routed", 0) / BATCH,
            "routing.partition_skew": skew,
        }
    )
    return checks
