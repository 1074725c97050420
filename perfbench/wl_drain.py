"""``consume_priority_drain``: prioritized consumption of a backlog.

Set-up routes a skewed backlog (Standard >> Gold >> Platinum) with
``route(mode="exact")`` and ``kafka_sink_frame`` into a staged topic
partitioned by ``partition``. ``assign()`` gives Platinum two consumers
and Gold and Standard one each. Every consumer is one long-running
streaming query built from ``consume_plan`` and
``read_bucket_files(streaming=True)``; it runs in its bucket's
fair-scheduler pool with an allocation-weighted ``maxFilesPerTrigger``
and commits through ``idempotent_parquet_sink``.

A drain drops a copy of the staged backlog into the live topic at once
and ends when every consumer has committed its share. The measured
window repeats drains; set-up runs three to warm the consumers.

The consumers run on a 250 ms processing-time trigger, which Spark fires
at wall-clock multiples of its interval; a busy consumer starts its next
batch as soon as the last one ends. A drain is dropped half-way between
two triggers, so no consumer lists the topic while the drop's files
appear one by one. A consumer that listed part of a drop would read it
in more micro-batches, and its drain time would jump by whole batches
from run to run.
"""

from __future__ import annotations

import dataclasses
import math
import os
import shutil
import threading
import time

import numpy as np

import common
import gen
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.assignment import (
    Subscription,
    assign,
)
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import (
    layout_table,
    route,
)
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout
from prioritizing_event_processing_with_apache_kafka_spark.sources.kafka import (
    kafka_sink_frame,
    read_bucket_files,
    use_scheduler_pool,
)
from prioritizing_event_processing_with_apache_kafka_spark.streaming.consume import consume_plan
from prioritizing_event_processing_with_apache_kafka_spark.streaming.sinks import (
    idempotent_parquet_sink,
)

BACKLOG = 200_000
FILES_PER_PARTITION = 3
# Files per trigger across buckets; consume_plan splits it by allocation.
FILES_PER_TRIGGER = 40
FLEET = (("c0", "Platinum"), ("c1", "Platinum"), ("c2", "Gold"), ("c3", "Standard"))
TOPIC_DDL = "key string, value string, topic string, partition int"
MIN_DRAINS = 4
WARM_DRAINS = 3
TRIGGER_S = 0.25
DRAIN_TIMEOUT_S = 60.0


def _pool_file(ctx) -> str:
    """Fair-scheduler pools weighted by allocation."""
    path = ctx.path("fairscheduler.xml")
    pools = "".join(
        f'<pool name="bucket-{b}"><schedulingMode>FIFO</schedulingMode>'
        f"<weight>{a}</weight><minShare>0</minShare></pool>"
        for b, a in zip(gen.BUCKETS, gen.ALLOCATION)
    )
    with open(path, "w") as fh:
        fh.write(f'<?xml version="1.0"?><allocations>{pools}</allocations>')
    return path


def session_conf(ctx) -> dict:
    return {
        "spark.scheduler.mode": "FAIR",
        "spark.scheduler.allocation.file": _pool_file(ctx),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


class _Reader:
    """The session as ``read_bucket_files`` sees it, with
    ``maxFilesPerTrigger`` set on ``readStream``, where the file source
    honours it."""

    def __init__(self, spark, max_files: int):
        self._spark = spark
        self._max_files = max_files

    @property
    def readStream(self):  # noqa: N802 - mirrors SparkSession
        return self._spark.readStream.option("maxFilesPerTrigger", str(self._max_files))

    @property
    def read(self):
        return self._spark.read


def _staged_files(stage: str) -> list[tuple[str, str]]:
    """``(partition dir, file)`` of the staged topic in arrival order:
    segment k of every partition before segment k + 1 of any."""
    files = []
    for part in sorted(os.listdir(stage)):
        d = os.path.join(stage, part)
        if os.path.isdir(d):
            names = sorted(n for n in os.listdir(d) if n.endswith(".parquet"))
            files += [(k, part, n) for k, n in enumerate(names)]
    return [(part, n) for _k, part, n in sorted(files)]


def setup(ctx):
    spark, cfg = ctx.spark, gen.bench_config()
    t = time.perf_counter()
    table, cats = gen.keyed_events(ctx.seed, BACKLOG)
    gen.write_parquet(table, ctx.path("input"), files=ctx.cores)
    stage = ctx.path("stage")
    tr = ctx.tracer
    with tr.span("stage_topic", "bench", "setup"):
        with tr.span("route", "operators", "setup"):
            routed = route(
                spark.read.schema(gen.KEYED_DDL).parquet(ctx.path("input")), cfg,
                gen.NUM_PARTITIONS, topic_col="topic", order_col="event_id", mode="exact",
            )
        with tr.span("kafka_sink_frame", "sources", "setup"):
            frame = kafka_sink_frame(routed, cfg)
        frame.repartition(FILES_PER_PARTITION).write.partitionBy("partition").parquet(stage)
        routed._peps_exact_cache.unpersist(blocking=True)
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    with tr.span("layout", "plans", "setup"):
        layout = compute_layout(gen.NUM_PARTITIONS, cfg.buckets_with_allocation(), topic=cfg.topic)
        layout_table(spark, cfg, gen.NUM_PARTITIONS)
    subs = [Subscription(c, [cfg.topic], b) for c, b in FLEET]
    with tr.span("assign", "operators", "setup"):
        assignment = assign({cfg.topic: gen.NUM_PARTITIONS}, subs, cfg)
    with tr.span("consume_plan", "streaming", "setup"):
        specs = {s.bucket: s for s in consume_plan(
            cfg, gen.NUM_PARTITIONS, total_offsets_per_trigger=FILES_PER_TRIGGER)}
    consumers = []
    for c, b in FLEET:
        parts = tuple(p for _t, p in assignment[c])
        consumers.append((c, b, dataclasses.replace(specs[b], partitions=parts)))
    layout_s = time.perf_counter() - t

    parts = gen.exact_partitions(cats, layout)
    expected = {c: np.flatnonzero(np.isin(parts, spec.partitions)) for c, _b, spec in consumers}
    topic = ctx.path("topic")
    staged = _staged_files(stage)
    for part in {p for p, _n in staged}:
        os.makedirs(os.path.join(topic, part), exist_ok=True)
    state = {"cfg": cfg, "layout": layout, "parts": parts, "stage": stage, "staged": staged,
             "topic": topic, "consumers": consumers, "expected": expected, "drains": 0,
             "commits": {c: {} for c, _b, _s in consumers}, "queries": {},
             # Sink callbacks add commits while the drain loop reads them.
             "commits_lock": threading.Lock()}

    t = time.perf_counter()
    _start_consumers(ctx, state)
    for _ in range(WARM_DRAINS):
        _drain(ctx, state)
    warmup_s = time.perf_counter() - t
    return state, {"sources.gen_s": gen_s, "plans.layout_s": layout_s, "setup.warmup_s": warmup_s}


def _start_consumers(ctx, state) -> None:
    spark, cfg = ctx.spark, state["cfg"]
    state["plan_s"] = []
    for c, _b, spec in state["consumers"]:
        inner = idempotent_parquet_sink(ctx.path("out", c))
        commits = state["commits"][c]

        def sink(batch_df, batch_id, c=c, inner=inner, commits=commits):
            t0 = time.perf_counter()
            with ctx.tracer.span("sink_write", "sinks", f"{c}-mb-{batch_id}"):
                inner(batch_df, batch_id)
            with state["commits_lock"]:
                commits[int(batch_id)] = (t0, time.perf_counter())

        t0 = time.perf_counter()
        with ctx.tracer.span("read_bucket_files", "sources", "setup"):
            stream = read_bucket_files(
                _Reader(spark, spec.max_offsets_per_trigger), spec, cfg,
                topic_path=state["topic"], schema=TOPIC_DDL, streaming=True,
            )
        state["plan_s"].append(time.perf_counter() - t0)
        use_scheduler_pool(spark, spec)
        with ctx.tracer.span("start", "streaming", "setup"):
            state["queries"][c] = (
                stream.writeStream.foreachBatch(sink)
                .trigger(processingTime=f"{int(TRIGGER_S * 1000)} milliseconds")
                .option("checkpointLocation", ctx.path("ckpt", c))
                .start()
            )
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)


def _sleep_to_mid_trigger() -> None:
    """Sleep until the next wall-clock point half-way between two
    triggers that is at least a tenth of an interval away."""
    now = time.time()
    mid = (math.floor(now / TRIGGER_S) + 0.5) * TRIGGER_S
    while mid < now + 0.1 * TRIGGER_S:
        mid += TRIGGER_S
    time.sleep(mid - now)


def _drain(ctx, state) -> dict:
    """Drop one copy of the backlog into the topic and wait until every
    consumer has committed its share of it."""
    state["drains"] += 1
    d = state["drains"]
    queries = state["queries"]
    hidden = ctx.path("topic", f".d{d}")
    os.makedirs(hidden)
    for part, name in state["staged"]:
        shutil.copyfile(os.path.join(state["stage"], part, name),
                        os.path.join(hidden, f"{part}-{name}"))
    # Modification times keep the arrival order: the file source takes
    # oldest first.
    base = time.time()
    for i, (part, name) in enumerate(state["staged"]):
        os.utime(os.path.join(hidden, f"{part}-{name}"), (base + i * 1e-3, base + i * 1e-3))
    _sleep_to_mid_trigger()
    t_drop = time.perf_counter()
    for part, name in state["staged"]:
        dst = os.path.join(state["topic"], part, f"d{d:03d}-{name}")
        os.rename(os.path.join(hidden, f"{part}-{name}"), dst)
    os.rmdir(hidden)

    want = {c: d * len(state["expected"][c]) for c in queries}
    first_batch = {c: (max(state["commits"][c]) + 1 if state["commits"][c] else 0)
                   for c in queries}
    # Progress is fetched from the JVM only after a consumer's sink has
    # committed a batch not yet counted: polling every query's whole
    # progress history would load the driver the consumers run on.
    pending = set(queries)
    counted: dict[str, int | None] = {c: None for c in queries}
    deadline = t_drop + DRAIN_TIMEOUT_S
    while pending:
        for c in list(pending):
            with state["commits_lock"]:
                last = max(state["commits"][c], default=None)
            if last == counted[c]:
                continue
            prog = queries[c].recentProgress
            if sum(p["numInputRows"] for p in prog) >= want[c]:
                pending.discard(c)
            elif any(p["batchId"] == last for p in prog):
                counted[c] = last
        if time.perf_counter() > deadline:
            for c in pending:
                if queries[c].exception() is not None:
                    raise RuntimeError(f"consumer {c} failed: {queries[c].exception()}")
            raise TimeoutError(f"drain {d} did not finish: {sorted(pending)}")
        time.sleep(0.01)
    # A consumer's drain ends at the sink commit that completed its share.
    finished, progress = {}, {}
    for c, q in queries.items():
        prog = q.recentProgress
        progress[c] = [p for p in prog if p["batchId"] >= first_batch[c]]
        total = 0
        for p in prog:
            total += p["numInputRows"]
            if total >= want[c]:
                finished[c] = state["commits"][c][p["batchId"]][1] - t_drop
                break
    return {"d": d, "finished": finished, "progress": progress, "end": time.perf_counter()}


def measure(ctx, state) -> dict:
    drains = []
    t_start = time.perf_counter()
    last_end = t_start
    lates = []
    while len(drains) < MIN_DRAINS or time.perf_counter() - t_start < ctx.seconds:
        lates.append(time.perf_counter() - last_end)
        drains.append(_drain(ctx, state))
        last_end = drains[-1]["end"]

    bucket_of = {c: b for c, b, _s in state["consumers"]}
    per_bucket = {b: [] for b in ("Platinum", "Gold", "Standard")}
    all_done = []
    for d in drains:
        for b in per_bucket:
            per_bucket[b].append(max(t for c, t in d["finished"].items() if bucket_of[c] == b))
        all_done.append(max(d["finished"].values()))
    platinum = common.median(per_bucket["Platinum"])
    drain_all = common.median(all_done)
    rows = sum(len(v) for v in state["expected"].values())

    commits = state["commits"]
    busy = [(c, p) for d in drains for c, prog in d["progress"].items()
            for p in prog if p["numInputRows"] > 0]
    trig = sum(p["durationMs"].get("triggerExecution", 0) for _c, p in busy) or 1

    def share(key):
        return sum(p["durationMs"].get(key, 0) for _c, p in busy) / trig

    layers = {
        "unit.count": len(busy),
        "unit.rows_p50": common.median([p["numInputRows"] for _c, p in busy]),
        "unit.plan_s_p50": common.median(state["plan_s"]),
        "unit.exec_s_p50": common.median(
            [commits[c][p["batchId"]][1] - commits[c][p["batchId"]][0] for c, p in busy]),
        "unit.overhead_s_p50": common.median(
            [(p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)) / 1000.0
             for _c, p in busy]),
        "latency.tail_s": drain_all,
        "latency.tail_pct": 100.0,
        "load.late_s_max": max(lates),
        "streaming.batches": len(busy),
        "streaming.rows_per_batch_p50": common.median([p["numInputRows"] for _c, p in busy]),
        "streaming.add_batch_share": share("addBatch"),
        "streaming.get_batch_share": share("getBatch"),
        "streaming.query_planning_share": share("queryPlanning"),
        "streaming.latest_offset_share": share("latestOffset"),
        "streaming.wal_commit_share": share("walCommit"),
        "streaming.commit_offsets_share": share("commitOffsets"),
    }
    for b in per_bucket:
        cs = [c for c, bb in bucket_of.items() if bb == b]
        layers[f"consume.{b}.rows"] = sum(len(state["expected"][c]) for c in cs)
        layers[f"consume.{b}.batches"] = sum(1 for c, _p in busy if c in cs) / len(drains)
        layers[f"consume.{b}.done_share"] = common.median(per_bucket[b]) / drain_all
    for c, p in busy:
        end = commits[c][p["batchId"]][1]
        ctx.tracer.add("micro_batch", "streaming",
                       end - p["durationMs"]["triggerExecution"] / 1000.0, end,
                       group=f"{c}-mb-{p['batchId']}")
    return {
        "e2e": {"events_per_s": rows / drain_all, "latency_s": platinum},
        "layers": layers,
        "attempted": len(drains) * len(state["consumers"]),
        "failed": 0,
        "report": [
            f"backlog {rows} routed rows over {gen.NUM_PARTITIONS} partitions, "
            f"{len(state['consumers'])} consumers, {len(drains)} drains",
        ] + [
            f"{b}: drained p50 {common.median(v):.4f} s" for b, v in per_bucket.items()
        ] + [f"all buckets drained p50 {drain_all:.4f} s"],
    }


def verify(ctx, state, measured) -> dict:
    """Each consumer's output is exactly the events of its partitions,
    once per drain; the staged topic holds the round-robin closed form."""
    spark = ctx.spark
    ok, foreign = True, 0
    for c, _b, spec in state["consumers"]:
        out = spark.read.parquet(ctx.path("out", c))
        foreign += out.where(~F.col("partition").isin(list(spec.partitions))).count()
        ids = out.select(F.substring("value", 1, 12).cast("long").alias("id"))
        ok = ok and common.id_digest(ids, "id") == common.expected_digest(
            state["expected"][c], state["drains"])
    measured["layers"]["consume.foreign_rows"] = foreign

    got = {r["partition"]: r["count"] for r in
           spark.read.parquet(state["stage"]).groupBy("partition").count().collect()}
    parts = state["parts"]
    want_parts = dict(zip(*np.unique(parts[parts >= 0], return_counts=True)))
    closed_form = all(got.get(int(p), 0) == int(n) for p, n in want_parts.items())
    measured["layers"]["routing.partition_skew"] = max(
        max(got.get(p, 0) for p in r.partitions)
        / (sum(got.get(p, 0) for p in r.partitions) / r.size)
        for r in state["layout"] if r.size
    )
    return {"consumer_outputs_exact": bool(ok), "no_foreign_rows": foreign == 0,
            "topic_closed_form": closed_form}
