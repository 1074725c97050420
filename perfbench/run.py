"""Bucket-priority benchmark: one command, four workloads, checked outputs.

Usage (from the repository root)::

    python3 perfbench/run.py --workload route_stream_open --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for loop type, sizes and metric map):
``route_batch_exact``, ``route_stream_open``, ``consume_priority_drain``,
``analytics_mix``.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs the measured window once untraced and once with spans
recorded, reports the per-layer metrics from the traced window, writes
the spans to ``.bench_work/traces/`` and prints each layer's self time.
The exit code is non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

WORKLOADS = {
    "route_batch_exact": "wl_batch",
    "route_stream_open": "wl_stream",
    "consume_priority_drain": "wl_drain",
    "analytics_mix": "wl_analytics",
}

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "events_per_s": "1/s",
    "latency_s": "s",
}


class Ctx:
    def __init__(self, args, work: str, n_cores: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = n_cores
        self.spark = None
        self.tracer = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


BUCKETS = ("Platinum", "Gold", "Standard")

# Every per-layer metric, printed by every traced run. Times are measured
# on every workload; counts and ratios of a layer a workload does not
# exercise read 0.
PER_LAYER = {
    "session.start_s": "s",
    "sources.gen_s": "s",
    "plans.layout_s": "s",
    "setup.warmup_s": "s",
    "verify_s": "s",
    "unit.plan_s_p50": "s",
    "unit.exec_s_p50": "s",
    "unit.overhead_s_p50": "s",
    "latency.tail_s": "s",
    "load.late_s_max": "s",
    "unit.count": "count",
    "unit.rows_p50": "count",
    "latency.tail_pct": "count",
    "routing.rows_routed": "count",
    "routing.rows_unroutable": "count",
    "routing.rows_starved": "count",
    "routing.rows_bypassed": "count",
    "routing.routed_ratio": "ratio",
    "routing.partition_skew": "ratio",
    "routing.cache_mb": "MB",
    "sources.topic_files": "count",
    "sources.topic_mb": "MB",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.backlog_files_max": "count",
    "streaming.add_batch_share": "ratio",
    "streaming.get_batch_share": "ratio",
    "streaming.query_planning_share": "ratio",
    "streaming.latest_offset_share": "ratio",
    "streaming.wal_commit_share": "ratio",
    "streaming.commit_offsets_share": "ratio",
    "consume.foreign_rows": "count",
    **{f"consume.{b}.{m}": u for b in BUCKETS
       for m, u in (("rows", "count"), ("batches", "count"), ("done_share", "ratio"))},
    "analytics.queries": "count",
    "analytics.oracle_mismatch": "count",
    "trace.overhead_share": "ratio",
    "trace.spans": "count",
}


def run(args) -> int:
    import common

    try:
        importlib.import_module("prioritizing_event_processing_with_apache_kafka_spark")
    except ImportError as exc:
        print(f"perfbench: package under test not importable: {exc}", file=sys.stderr)
        return 2
    wl = importlib.import_module(WORKLOADS[args.workload])
    n_cores = args.cores or common.cores()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    common.fresh_dir(work)
    ctx = Ctx(args, work, n_cores)
    spark = None
    try:
        t0 = time.perf_counter()
        spark, effective = common.build_spark(work, n_cores, wl.session_conf(ctx))
        start_s = time.perf_counter() - t0
        ctx.spark = spark
        ctx.tracer = common.Tracer(ctx.trace)
        state, setup_parts = wl.setup(ctx)
        setup_s = start_s + sum(setup_parts.values())

        if ctx.trace:
            # The same window untraced, then traced; the difference is
            # the tracing overhead (it also holds any warm-up still left).
            ctx.tracer.enabled = False
            untraced = wl.measure(ctx, state)
            ctx.tracer.enabled = True
        measured = wl.measure(ctx, state)

        t_v = time.perf_counter()
        checks = wl.verify(ctx, state, measured)
        verify_s = time.perf_counter() - t_v
        rss = common.peak_rss_mb(spark)
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_checks = [c for c, ok in checks.items() if not ok]
    attempted = measured["attempted"] + len(checks)
    failed = measured["failed"] + len(failed_checks)
    correct = failed == 0

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"cores={n_cores} trace={int(ctx.trace)}")
    print("# session: " + json.dumps(effective, sort_keys=True))
    for line in measured.get("report", []):
        print(f"# {line}")
    for name in failed_checks:
        print(f"# CHECK FAILED: {name}")

    if ctx.trace:
        layers = dict(measured["layers"])
        layers.update(
            {
                "session.start_s": start_s,
                "verify_s": verify_s,
                **setup_parts,
            }
        )
        base = untraced["e2e"]["latency_s"]
        layers["trace.overhead_share"] = (measured["e2e"]["latency_s"] - base) / base
        layers["trace.spans"] = len(ctx.tracer.spans)
        trace_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        span_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        ctx.tracer.write(span_path)
        print(f"# spans: {len(ctx.tracer.spans)} written to {os.path.relpath(span_path, ROOT)}")
        for layer, secs in sorted(ctx.tracer.self_times().items(), key=lambda kv: -kv[1]):
            print(f"# self time {layer:<12} {secs:9.4f} s")
        print(f"# tracing overhead on latency_s: untraced {base:.4f} s, traced "
              f"{measured['e2e']['latency_s']:.4f} s")
        missing = [k for k, u in PER_LAYER.items() if u == "s" and k not in layers]
        if missing:
            raise RuntimeError(f"workload did not measure {missing}")
        metrics = {k: {"value": float(layers.get(k, 0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "peak_rss_mb": rss, **measured["e2e"]}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in E2E_UNITS.items()}

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=0,
                   help="Spark local[N] threads (default: all usable cores); "
                        "1 gives the single-threaded baseline")
    return run(p.parse_args(argv))


if __name__ == "__main__":
    raise SystemExit(main())
