#!/usr/bin/env python3
"""Profile one registry query: plan-build time vs execution time, plus
the Spark counters of each rep's jobs (where does the time actually
go). Usage:

    python tools/profile_query.py <query> [reps] [sf_dir]

Each rep runs under its own job group. Per rep it prints build_s
(spec.fn call = driver-side plan construction, including any
control-plane collects the query performs while building), exec_s
(noop sink), and the counters the in-process status store holds for
that group (perfbench/probes.py:SparkCounters, works with the UI off):
jobs, stages, tasks, executor run/CPU seconds, shuffle read/write
bytes, spill bytes and summed job wall time.
"""

from __future__ import annotations

import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_DIR)


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )

    from bigdatanycdiseasesurveillance_spark.registry import all_specs
    from bigdatanycdiseasesurveillance_spark.session import get_spark
    from perfbench.probes import SparkCounters

    spark = get_spark("bdnds-profile")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spec = all_specs()[name]
    counters = SparkCounters(spark)

    # Warm-up: JVM/codegen + python worker pool
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(sc.defaultParallelism).repartition(sc.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    for rep in range(reps):
        group = f"profile-{name}-{rep}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        c = counters.read([group])
        print(
            f"rep {rep}: build_s={t1 - t0:.3f} exec_s={t2 - t1:.3f} "
            f"jobs={c['jobs']} stages={c['stages']} tasks={c['tasks']} "
            f"executor_run_s={c['executor_run_s']:.3f} "
            f"executor_cpu_s={c['executor_cpu_s']:.3f} "
            f"shuffle_read_bytes={c['shuffle_read_bytes']} "
            f"shuffle_write_bytes={c['shuffle_write_bytes']} "
            f"spill_bytes={c['spill_bytes']} job_wall_s={c['job_wall_s']:.3f}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
