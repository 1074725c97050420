"""Per-stage wall-clock profile of one or more inventory queries.

Usage: python tools/profile_query.py [sf_dir] name [name ...]

Runs each query twice (cold, then warm after clearCache) on a
``local[SPARK_GRAFT_CPUS]`` session and prints both timings (total,
then build and execute) plus the number of Spark jobs/stages the run
scheduled, which is the first thing to look at when a small-input
query is slow: at fixture scale, scheduling latency × stage count can
dominate actual compute, and every avoidable shuffle costs a stage at
100 TB too. ``py_rels`` counts the Python-built relations
(``LogicalRDD`` leaves) in the built DataFrame's optimized plan; each
one costs a Python-worker job wherever it is scanned or broadcast.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    argv = sys.argv[1:]
    if argv and os.path.isdir(argv[0]):
        sf_dir, names = argv[0], argv[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", argv

    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("peps-profile")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from prioritizing_event_processing_with_apache_kafka_spark.plans.fingerprint import (
        python_relation_count,
    )

    queries = entrymod.queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warm the session so the first profiled query doesn't absorb
    # executor/codegen startup.
    materialize(spark.range(1_000_000).selectExpr("sum(id) AS s"))

    jvm = sc._jvm
    mgmt = jvm.java.lang.management.ManagementFactory

    def gc_millis() -> int:
        total = 0
        it = mgmt.getGarbageCollectorMXBeans().iterator()
        while it.hasNext():
            total += it.next().getCollectionTime()
        return total

    heap = mgmt.getMemoryMXBean()

    for name in names:
        fn = queries[name]
        for run in ("cold", "warm"):
            jobs_before = set(tracker.getJobIdsForGroup(None) or [])
            gc0 = gc_millis()
            t0 = time.time()
            df = fn(spark, sf_dir)
            build_dt = time.time() - t0
            py_rels = python_relation_count(df)
            t1 = time.time()
            materialize(df)
            exec_dt = time.time() - t1
            dt = build_dt + exec_dt
            gc_dt = gc_millis() - gc0
            used_mb = heap.getHeapMemoryUsage().getUsed() // (1 << 20)
            jobs_after = set(tracker.getJobIdsForGroup(None) or [])
            new_jobs = sorted(jobs_after - jobs_before)
            n_stages = 0
            for j in new_jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    n_stages += len(info.stageIds)
            print(
                f"{name:28s} {run}: {dt:6.2f}s (build {build_dt:5.2f}s, "
                f"exec {exec_dt:5.2f}s)  gc={gc_dt/1000:5.2f}s "
                f"heap={used_mb}M jobs={len(new_jobs)} stages={n_stages} "
                f"py_rels={py_rels}",
                flush=True,
            )
            spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
