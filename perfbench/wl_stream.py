"""``route_stream_open``: open loop, fixed offered rate, then bursts.

A generator thread drops small parquet files of keyed events into the
watched directory on a fixed schedule that does not slow when the query
slows. One streaming query routes them with
``route_stream(mode="spread", seq_col="event_id")``, shapes them with
``kafka_sink_frame`` and commits through ``idempotent_parquet_sink``.
Routing is a zero-shuffle projection here, so latency is set by the
per-micro-batch overhead (listing, planning, WAL, sink commit). After
the fixed-rate phase, catch-up bursts expose the per-row cost; each
burst waits for the previous one to be committed.

The offered rate stays well below capacity. Each file adds a few
milliseconds to the micro-batch that reads it, and a micro-batch reads
every file that arrived while the previous one ran; near capacity a
slower batch gathers more files and so runs slower still, which turns a
small drift of machine speed into a large one of latency. At 10 files/s
a batch carries about 8 files and that feedback stays small.

An event's latency runs from its file's scheduled drop time to the
return of the sink write of the micro-batch that carried it. Commit
times come from a wrapper around the sink; the join to the events
happens after the run, outside the measured path.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa

import common
import gen
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.functions.keys import extract_bucket
from prioritizing_event_processing_with_apache_kafka_spark.operators.routing import layout_table
from prioritizing_event_processing_with_apache_kafka_spark.plans.layout import compute_layout
from prioritizing_event_processing_with_apache_kafka_spark.sources.kafka import kafka_sink_frame
from prioritizing_event_processing_with_apache_kafka_spark.streaming.route_stream import (
    route_stream,
)
from prioritizing_event_processing_with_apache_kafka_spark.streaming.sinks import (
    idempotent_parquet_sink,
)

RATE_FILES_PER_S = 10
EVENTS_PER_FILE = 300
BURSTS = 4
BURST_FILES = 8
BURST_EVENTS_PER_FILE = 15000
BURST_EVENTS = BURST_FILES * BURST_EVENTS_PER_FILE
WARM_FILES = 30
WARM_BURSTS = 2
# Warm-up: fixed-rate files plus bursts, so both paths are compiled.
WARM_EVENTS = WARM_FILES * EVENTS_PER_FILE + WARM_BURSTS * BURST_EVENTS
FIXED_SHARE = 0.7  # of --seconds; the bursts and their drains get the rest
SOURCE_DDL = gen.KEYED_DDL + ", gen_ts double"
DRAIN_TIMEOUT_S = 60.0
MAX_LATE_S = 0.5


def session_conf(ctx) -> dict:
    return {"spark.sql.streaming.numRecentProgressUpdates": "2000"}


class Window:
    """The events of one measured window: fixed-rate files, then bursts."""

    def __init__(self, seed: int, first_id: int, seconds: float):
        self.fixed_files = max(20, int(round(seconds * FIXED_SHARE * RATE_FILES_PER_S)))
        self.first_id = first_id
        n_fixed = self.fixed_files * EVENTS_PER_FILE
        self.burst_events = BURST_EVENTS
        self.fixed, self.fixed_cats = gen.keyed_events(seed, n_fixed, first_id)
        self.bursts = [
            gen.keyed_events(seed, self.burst_events, first_id + n_fixed + i * self.burst_events)
            for i in range(BURSTS)
        ]
        self.end_id = first_id + n_fixed + BURSTS * self.burst_events


def _stage_files(table: pa.Table, per_file: int, stage: str, tag: str, offsets) -> list[str]:
    """Pre-write ``table`` as files of ``per_file`` rows into ``stage``;
    ``offsets[k]`` is file k's scheduled offset, stamped as ``gen_ts``."""
    import pyarrow.parquet as pq

    paths = []
    for k in range(-(-table.num_rows // per_file)):
        part = table.slice(k * per_file, per_file)
        part = part.append_column("gen_ts", pa.array(np.full(part.num_rows, offsets[k])))
        path = os.path.join(stage, f"{tag}-{k:05d}.parquet")
        pq.write_table(part, path)
        paths.append(path)
    return paths


def setup(ctx):
    spark, cfg = ctx.spark, gen.bench_config()
    t = time.perf_counter()
    stage = common.fresh_dir(ctx.path("stage"))
    warm, _ = gen.keyed_events(ctx.seed, WARM_EVENTS, first_id=0)
    warm_paths = _stage_files(warm.slice(0, WARM_FILES * EVENTS_PER_FILE), EVENTS_PER_FILE,
                              stage, "warm", [0.0] * WARM_FILES)
    warm_bursts = [
        _stage_files(warm.slice(WARM_FILES * EVENTS_PER_FILE + j * BURST_EVENTS, BURST_EVENTS),
                     BURST_EVENTS_PER_FILE, stage, f"warm-burst{j}", [0.0] * BURST_FILES)
        for j in range(WARM_BURSTS)
    ]
    first = WARM_EVENTS
    windows = []
    for i in range(2 if ctx.trace else 1):
        w = Window(ctx.seed, first, ctx.seconds)
        offsets = [k / RATE_FILES_PER_S for k in range(w.fixed_files)]
        w.fixed_paths = _stage_files(w.fixed, EVENTS_PER_FILE, stage, f"w{i}-fixed", offsets)
        w.burst_paths = [
            _stage_files(t, BURST_EVENTS_PER_FILE, stage, f"w{i}-burst{j}", [0.0] * BURST_FILES)
            for j, (t, _c) in enumerate(w.bursts)
        ]
        windows.append(w)
        first = w.end_id
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    with ctx.tracer.span("layout", "plans", "setup"):
        layout = compute_layout(gen.NUM_PARTITIONS, cfg.buckets_with_allocation(), topic=cfg.topic)
        layout_table(spark, cfg, gen.NUM_PARTITIONS)
    layout_s = time.perf_counter() - t

    source = common.fresh_dir(ctx.path("source"))
    out = ctx.path("sink")
    commits: dict[int, tuple[float, float]] = {}
    inner = idempotent_parquet_sink(out)
    state = {
        "cfg": cfg, "layout": layout, "source": source, "out": out, "commits": commits,
        "windows": windows,
    }

    def sink(batch_df, batch_id):
        t0 = time.perf_counter()
        with ctx.tracer.span("sink_write", "sinks", f"mb-{batch_id}"):
            inner(batch_df, batch_id)
        commits[int(batch_id)] = (t0, time.perf_counter())

    t = time.perf_counter()
    tr = ctx.tracer
    stream = spark.readStream.schema(SOURCE_DDL).parquet(source)
    with tr.span("route_stream", "streaming", "setup"):
        routed = route_stream(stream, cfg, gen.NUM_PARTITIONS, topic_col="topic",
                              seq_col="event_id", mode="spread")
    with tr.span("kafka_sink_frame", "sources", "setup"):
        frame = kafka_sink_frame(routed, cfg)
    with tr.span("start", "streaming", "setup"):
        state["query"] = (
            frame.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ctx.path("checkpoint"))
            .start()
        )
    # Warm-up: a few files at once, then a few one by one.
    _drop(warm_paths[:4], source)
    _await_rows(state, 4 * EVENTS_PER_FILE)
    for p in warm_paths[4:]:
        _drop([p], source)
        time.sleep(1.0 / RATE_FILES_PER_S)
    _await_rows(state, WARM_FILES * EVENTS_PER_FILE)
    rows = WARM_FILES * EVENTS_PER_FILE
    for paths in warm_bursts:
        _drop(paths, source)
        rows += BURST_EVENTS
        _await_rows(state, rows)
    warmup_s = time.perf_counter() - t
    state["rows_done"] = WARM_EVENTS
    state["window_index"] = 0
    return state, {"sources.gen_s": gen_s, "plans.layout_s": layout_s, "setup.warmup_s": warmup_s}


def _drop(paths, source: str) -> None:
    for p in paths:
        os.rename(p, os.path.join(source, os.path.basename(p)))


def _rows_committed(query) -> int:
    return sum(p["numInputRows"] for p in query.recentProgress)


def _await_rows(state, rows: int) -> None:
    q = state["query"]
    deadline = time.perf_counter() + DRAIN_TIMEOUT_S
    while _rows_committed(q) < rows:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if time.perf_counter() > deadline:
            raise TimeoutError(f"stream did not commit {rows} rows")
        time.sleep(0.05)


def measure(ctx, state) -> dict:
    w = state["windows"][state["window_index"]]
    state["window_index"] += 1
    q = state["query"]
    first_batch = max(state["commits"]) + 1 if state["commits"] else 0
    offsets = [k / RATE_FILES_PER_S for k in range(len(w.fixed_paths))]
    schedule: dict = {}

    def generator():
        schedule["due"], schedule["sent"] = common.open_loop(
            offsets, lambda k: _drop([w.fixed_paths[k]], state["source"]),
            time.perf_counter() + 0.05,
        )

    th = threading.Thread(target=generator, daemon=True)
    th.start()
    th.join()
    due, dropped = schedule["due"], schedule["sent"]
    fixed_rows = w.fixed.num_rows
    _await_rows(state, state["rows_done"] + fixed_rows)
    rows = state["rows_done"] + fixed_rows
    t_bursts = []
    for paths in w.burst_paths:
        t_bursts.append(time.perf_counter())
        _drop(paths, state["source"])
        rows += w.burst_events
        _await_rows(state, rows)
    state["rows_done"] = rows

    # Everything below runs after the window: join commit times to events.
    progress = [p for p in q.recentProgress if p["batchId"] >= first_batch]
    commits = state["commits"]
    sink = (
        ctx.spark.read.parquet(state["out"])
        .where(F.col("__batch_id") >= first_batch)
        .select("__batch_id", F.substring("value", 1, 12).cast("long").alias("id"))
    )
    # One latency per fixed-rate file: a file lands in one micro-batch.
    fixed_end = w.first_id + fixed_rows
    file_batch = {
        r["k"]: r["b"] for r in sink.where(F.col("id") < fixed_end)
        .groupBy(((F.col("id") - w.first_id) / EVENTS_PER_FILE).cast("long").alias("k"))
        .agg(F.max("__batch_id").alias("b")).collect()
    }
    lat = [commits[file_batch[k]][1] - due[k] for k in sorted(file_batch)]
    files_per_batch: dict[int, int] = {}
    for b in file_batch.values():
        files_per_batch[b] = files_per_batch.get(b, 0) + 1
    # A burst is caught up at the sink commit that carried its last event.
    burst_batch = {
        r["j"]: r["b"] for r in sink.where(F.col("id") >= fixed_end)
        .groupBy(((F.col("id") - fixed_end) / w.burst_events).cast("long").alias("j"))
        .agg(F.max("__batch_id").alias("b")).collect()
    }
    burst_s = [commits[burst_batch[j]][1] - t_b for j, t_b in enumerate(t_bursts)]
    catchup = w.burst_events / common.median(burst_s)

    # Backlog seen by each drop: files dropped earlier and not yet committed.
    backlog = common.backlog_at(dropped, [commits[file_batch[k]][1] for k in range(len(due))])
    lates = common.lateness(due, dropped)

    busy = [p for p in progress if p["numInputRows"] > 0]
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in busy) or 1

    def share(key):
        return sum(p["durationMs"].get(key, 0) for p in busy) / trig

    exec_s = [commits[p["batchId"]][1] - commits[p["batchId"]][0] for p in busy]
    overhead = [
        (p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)) / 1000.0
        for p in busy
    ]
    for p in busy:
        end = commits.get(p["batchId"])
        if end is not None:
            ctx.tracer.add("micro_batch", "streaming",
                           end[1] - p["durationMs"]["triggerExecution"] / 1000.0, end[1],
                           group=f"mb-{p['batchId']}")
    p50 = common.percentile(lat, 50)
    tail_q, tail = common.tail_percentile(lat)
    files, mb = common.dir_stats(state["out"])
    layers = {
        "unit.count": len(busy),
        "unit.rows_p50": common.median([p["numInputRows"] for p in busy]),
        "unit.plan_s_p50": common.median(
            [p["durationMs"].get("queryPlanning", 0) / 1000.0 for p in busy]),
        "unit.exec_s_p50": common.median(exec_s),
        "unit.overhead_s_p50": common.median(overhead),
        "latency.tail_s": tail,
        "latency.tail_pct": tail_q,
        "load.late_s_max": max(lates),
        "sources.topic_files": files,
        "sources.topic_mb": mb,
        "streaming.batches": len(busy),
        "streaming.rows_per_batch_p50": common.median([p["numInputRows"] for p in busy]),
        "streaming.backlog_files_max": max(backlog),
        "streaming.add_batch_share": share("addBatch"),
        "streaming.get_batch_share": share("getBatch"),
        "streaming.query_planning_share": share("queryPlanning"),
        "streaming.latest_offset_share": share("latestOffset"),
        "streaming.wal_commit_share": share("walCommit"),
        "streaming.commit_offsets_share": share("commitOffsets"),
    }
    return {
        "e2e": {"events_per_s": catchup, "latency_s": p50},
        "layers": layers,
        "attempted": len(due) + len(t_bursts),
        # A generator that fell behind its schedule voids the latencies.
        "failed": int(max(lates) > MAX_LATE_S),
        "report": [
            f"offered {RATE_FILES_PER_S} files/s x {EVENTS_PER_FILE} events for "
            f"{len(due)} files; latency p50={p50:.4f} s p{tail_q:g}={tail:.4f} s "
            f"over {len(lat)} file samples; generator late max={max(lates):.4f} s",
            f"fixed-rate micro-batches={len(files_per_batch)}, files per batch "
            f"p50={common.median(list(files_per_batch.values())):g} "
            f"max={max(files_per_batch.values())}",
            f"{BURSTS} bursts of {w.burst_events} events caught up in "
            f"{', '.join(f'{b:.4f}' for b in burst_s)} s; p50 {catchup:.0f} events/s; "
            f"busy micro-batches={len(busy)}",
        ],
    }


def verify(ctx, state, measured) -> dict:
    """Every generated, non-starved event appears exactly once in the
    sink; the sink's routing outcomes equal the planted status counts;
    every routed partition lies in its bucket's range."""
    spark, cfg = ctx.spark, state["cfg"]
    out = spark.read.parquet(state["out"]).select(
        F.substring("value", 1, 12).cast("long").alias("event_id"), "partition", "key"
    )
    starved = gen.CATEGORIES.index("starved")
    _, warm_cats = gen.keyed_events(ctx.seed, WARM_EVENTS, first_id=0)
    cats = np.concatenate(
        [warm_cats]
        + [np.concatenate([w.fixed_cats] + [c for _t, c in w.bursts]) for w in state["windows"]]
    )
    checks = {"sink_exactly_once": common.id_digest(out, "event_id")
              == common.expected_digest(np.flatnonzero(cats != starved))}

    # Outcomes at the sink: a partition means routed; a NULL partition
    # with a valid bucket key means bypassed (foreign topic), otherwise
    # unroutable; starved records are dropped by kafka_sink_frame.
    rows = (
        out.withColumn("b", extract_bucket(F.col("key"), cfg.delimiter))
        .groupBy("b", "partition").count().collect()
    )
    ranges = {r.bucket: r for r in state["layout"]}
    got = {"routed": 0, "starved": 0, "unroutable": 0, "bypassed": 0}
    bad = 0
    per_bucket: dict = {}
    for r in rows:
        rng = ranges.get(r["b"])
        if r["partition"] is None:
            got["bypassed" if rng is not None and rng.size else "unroutable"] += r["count"]
            continue
        got["routed"] += r["count"]
        if rng is None or not (rng.partition_lo <= r["partition"] <= rng.partition_hi):
            bad += r["count"]
        else:
            per_bucket.setdefault(r["b"], []).append(r["count"])
    got["starved"] = len(cats) - sum(got.values())
    want = {k: 0 for k in got}
    for c, n in enumerate(np.bincount(cats, minlength=len(gen.CATEGORIES))):
        want[gen.STATUS_OF[gen.CATEGORIES[c]]] += int(n)
    checks["status_counts"] = got == want
    checks["partitions_in_bucket_range"] = bad == 0
    measured["layers"].update(
        {
            "routing.rows_routed": got["routed"],
            "routing.rows_unroutable": got["unroutable"],
            "routing.rows_starved": got["starved"],
            "routing.rows_bypassed": got["bypassed"],
            "routing.routed_ratio": got["routed"] / len(cats),
            "routing.partition_skew": max(max(v) / (sum(v) / len(v)) for v in per_bucket.values()),
        }
    )
    return checks
