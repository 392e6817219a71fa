"""Profile one registered query: run it through the noop sink with
Spark's event log on, then print per-stage metrics (tasks, executor
run/CPU/GC time, input and shuffle bytes) for the last iteration —
the guide's §7.1 empirical loop, scripted. The event log is folded by
``perfbench/tracing.read_event_logs``, the benchmark's own reader.

Usage: python tools/profile_query.py [--sf-dir DIR] [--iters N] name
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_spark.plans.transient import release_transient
from map_reduce_spark.registry import load_all
from map_reduce_spark.session import get_spark
from perfbench.tracing import read_event_logs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("name")
    args = ap.parse_args()

    specs = load_all()
    with tempfile.TemporaryDirectory(prefix="profile_query_") as log_dir:
        spark = get_spark("profile", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
        cores = spark.sparkContext.defaultParallelism

        def execute(df) -> None:
            df.write.format("noop").mode("overwrite").save()
            release_transient()

        execute(specs["q6_forecast_revenue"].builder(spark, args.sf_dir))

        # run the target; first run warms, the last run is profiled
        times = []
        for i in range(args.iters):
            t0 = time.perf_counter()
            spark.sparkContext.setJobGroup(f"iter{i}", args.name)
            execute(specs[args.name].builder(spark, args.sf_dir))
            times.append(round(time.perf_counter() - t0, 3))
        spark.stop()  # flushes the event log
        fold = read_event_logs(log_dir)

    jobs = sorted(
        (j for j in fold.jobs.values() if j.group == f"iter{args.iters - 1}"),
        key=lambda j: j.job_id,
    )
    stages = sorted(
        (st for j in jobs for st in fold.job_stages(j)),
        key=lambda st: -st.executor_run_ms,
    )
    print(f"query={args.name} iters={times}")
    print(f"jobs in last iter: {len(jobs)}")
    print(
        f"{'stage':>7} {'tasks':>5} {'wall_s':>7} {'run_s':>7} {'cpu_s':>7} {'gc_s':>5} "
        f"{'in_KB':>8} {'shR_KB':>8} {'shW_KB':>8}  python"
    )
    for st in stages[:25]:
        print(
            f"{st.stage_id:>5}.{st.attempt:<1} {st.n_tasks:>5} {st.duration_s:>7.2f} "
            f"{st.executor_run_ms / 1e3:>7.2f} {st.executor_cpu_ns / 1e9:>7.2f} "
            f"{st.gc_ms / 1e3:>5.2f} {st.input_bytes // 1024:>8.0f} "
            f"{st.shuffle_read_bytes // 1024:>8.0f} {st.shuffle_write_bytes // 1024:>8.0f}  {st.python}"
        )
    total_run = sum(st.executor_run_ms for st in stages) / 1e3
    print(f"sum executorRunTime over stages: {total_run:.2f} s "
          f"(wall {times[-1]} s x {cores} cores = {times[-1] * cores:.1f} core-s)")
    # job-level wall timeline to expose driver-side gaps
    print("\njob timeline (last iter, ms from first submit):")
    base = jobs[0].submit_ms if jobs else 0
    for j in jobs:
        end = "-" if j.complete_ms is None else f"{j.complete_ms - base:.0f}"
        status = "ok" if j.succeeded else "FAILED"
        print(f"  job {j.job_id:>4} {status:<6} {j.submit_ms - base:>7.0f} -> {end:>7} stages={j.stage_ids}")


if __name__ == "__main__":
    main()
