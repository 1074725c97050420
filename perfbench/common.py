"""Shared benchmark plumbing: session sizing, spans, percentiles, memory.

Nothing here runs inside the measured path except ``Tracer.span``, which
records only when tracing is on.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def driver_memory_mb() -> int:
    """Driver heap sized to the machine: a quarter of RAM, at most 1 GiB."""
    return max(512, min(1024, mem_total_mb() // 4))


# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default), ``q`` in 0..100."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(values, beyond: int = 10) -> tuple[float, float]:
    """The highest of ``TAIL_CANDIDATES`` with at least ``beyond``
    samples above it, as ``(q, value)``. With fewer than ``2 * beyond``
    samples no percentile qualifies and the maximum is returned as
    ``(100.0, max)``."""
    n = len(values)
    for q in TAIL_CANDIDATES:
        if math.floor(n * (1 - q / 100.0) + 1e-9) >= beyond:
            return q, percentile(values, q)
    return 100.0, max(values)


def median(values) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# Open-loop load
# ---------------------------------------------------------------------------


def open_loop(offsets, send, t0: float) -> tuple[list[float], list[float]]:
    """Call ``send(k)`` for each ``k`` at ``t0 + offsets[k]`` on a schedule
    that does not slow when ``send`` does. Returns ``(due, sent)``: when
    each send was due and when it finished. A late send is never skipped;
    later sends keep their own due times, so a stall shows as lateness
    on every send it delayed."""
    due, sent = [], []
    for k, off in enumerate(offsets):
        at = t0 + off
        delay = at - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        send(k)
        due.append(at)
        sent.append(time.perf_counter())
    return due, sent


def lateness(due, sent) -> list[float]:
    """How late each send finished relative to when it was due."""
    return [s - d for d, s in zip(due, sent)]


def backlog_at(sent, committed) -> list[int]:
    """For each send, how many earlier sends were still uncommitted."""
    return [
        sum(1 for j in range(k) if committed[j] > sent[k])
        for k in range(len(sent))
    ]


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, layer, start, end, parent and a group id
    shared by the spans of one batch, drain or query."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "id": sid,
                        "name": name,
                        "layer": layer,
                        "start": start,
                        "end": end,
                        "parent": parent,
                        "group": group,
                    }
                )

    def add(self, name: str, layer: str, start: float, end: float, group=None):
        """Record a span measured elsewhere (a streaming micro-batch)."""
        if not self.enabled:
            return
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans.append(
                {"id": sid, "name": name, "layer": layer, "start": start,
                 "end": end, "parent": None, "group": group}
            )

    def _parents(self) -> dict[int, int | None]:
        """Parent of each span: the recorded one, else the tightest span
        of the same group that contains it (spans recorded on another
        thread, such as a sink write inside a micro-batch)."""
        by_group: dict = {}
        for s in self.spans:
            by_group.setdefault(s["group"], []).append(s)
        parents = {}
        for s in self.spans:
            parent = s["parent"]
            if parent is None and s["group"] is not None:
                around = [o for o in by_group[s["group"]] if o["id"] != s["id"]
                          and o["start"] <= s["start"] and s["end"] <= o["end"]
                          and (o["end"] - o["start"]) > (s["end"] - s["start"])]
                if around:
                    parent = min(around, key=lambda o: o["end"] - o["start"])["id"]
            parents[s["id"]] = parent
        return parents

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the time its
        direct children cover."""
        child_time: dict[int, float] = {}
        parents = self._parents()
        for s in self.spans:
            parent = parents[s["id"]]
            if parent is not None:
                child_time[parent] = child_time.get(parent, 0.0) + (s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(own, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def build_spark(work: str, n_cores: int, extra: dict[str, str] | None = None):
    """A ``local[n_cores]`` session whose scratch space, temp files and
    warehouse all live under ``work``."""
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.master": f"local[{n_cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{driver_memory_mb()}m",
        # The heap is committed and touched up front, so peak RSS measures
        # the fixed heap plus what the JVM and Python use beyond it.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{driver_memory_mb()}m -XX:+AlwaysPreTouch"
        ),
        "spark.sql.shuffle.partitions": str(n_cores),
        "spark.default.parallelism": str(n_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": local,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra or {})
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    effective = {k: spark.conf.get(k, None) or spark.sparkContext.getConf().get(k) for k in conf}
    return spark, effective


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    total = _vm_hwm_mb("self")
    pid = jvm_pid(spark)
    if pid is not None:
        total += _vm_hwm_mb(pid)
    return total


def stop_spark(spark) -> None:
    """Stop every query, the context, the JVM gateway; wait for the JVM."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:  # noqa: BLE001 - best-effort teardown
            pass
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def storage_mb(spark) -> float:
    """MiB held by cached (persisted) data, from the storage-info API."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)


def dir_stats(path: str) -> tuple[int, float]:
    """(files, MiB) of parquet files under ``path``."""
    files, size = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size / (1024 * 1024)


def id_digest(df, col: str) -> tuple[int, int, int, int]:
    """(rows, distinct ids, sum, sum of squares) of an integer id column,
    computed by Spark without collecting the ids."""
    from pyspark.sql import functions as F

    c = F.col(col).cast("long")
    r = df.agg(F.count(c), F.countDistinct(c), F.sum(c), F.sum(c * c)).first()
    return tuple(int(v or 0) for v in r)


def expected_digest(ids, times: int = 1) -> tuple[int, int, int, int]:
    """The ``id_digest`` of ``ids`` each appearing ``times`` times."""
    import numpy as np

    xs = np.asarray(ids, dtype=np.int64)
    return (times * len(xs), len(xs), times * int(xs.sum()), times * int((xs * xs).sum()))


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
