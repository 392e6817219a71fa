"""Per-layer metrics of the traced run.

Counts, sizes and times are per warm pass (the median over warm passes)
unless the name says otherwise; ``cache.builds``, ``cache.evictions`` and
``cache.build_extra_s`` cover the whole run, cold pass included.
"""

from __future__ import annotations

import statistics

import metrics as M
import tracing

MB = float(1 << 20)

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "build.total_s": "s",
    "build.op_p50_ms": "ms",
    "action.total_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.one_task_stages": "count",
    "spark.sql_executions": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_util": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.output_mb": "MB",
    "spark.tasks_failed": "count",
    "spark.stages_retried": "count",
    "scan.input_mb": "MB",
    "scan.input_rows": "count",
    "cache.builds": "count",
    "cache.builds_warm": "count",
    "cache.evictions": "count",
    "cache.resident_mb": "MB",
    "cache.build_extra_s": "s",
    "transient.release_s": "s",
    "transient.released": "count",
    "python.stages": "count",
    "python.run_s": "s",
    "python.share": "ratio",
    "streaming.queries": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "compat.run_s": "s",
    "compat.map_tasks": "count",
    "compat.reduce_tasks": "count",
    "compat.map_stage_s": "s",
    "compat.reduce_stage_s": "s",
    "compat.shuffle_records": "count",
    "compat.shuffle_write_mb": "MB",
    "compat.sequential_s": "s",
    "compat.speedup_vs_sequential": "ratio",
    "compat.job_overhead_s": "s",
    "process.peak_pss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.spans": "count",
}

# What each workload's traced run must show.
ISOLATION = {
    "sql_relational": [("python.run_s", "==", 0), ("cache.builds", "==", 0)],
    "llm_pipeline": [("cache.builds_warm", "==", 0), ("cache.builds", ">", 0)],
    "mr_compat": [("spark.sql_executions", "==", 0), ("python.stages", ">", 0)],
}


def _holds(value: float, op: str, bound: float) -> bool:
    return value == bound if op == "==" else value > bound


def _pass_of(group: str | None) -> int | None:
    if not group or not group.startswith("p") or ":" not in group:
        return None
    try:
        return int(group[1 : group.index(":")])
    except ValueError:
        return None


def _spark_totals(stages: list[tuple[tracing.StageRecord, bool]]) -> dict:
    """Sum stage records; ``stages`` pairs each stage attempt with whether
    it belongs to a compat op."""
    t = dict.fromkeys(
        ("stages", "tasks", "one_task", "run_ms", "cpu_ns", "gc_ms", "sw", "sr", "spill", "out", "in_b", "in_r",
         "tfail", "retried", "py_stages", "py_run_ms", "c_map_tasks", "c_red_tasks", "c_map_s", "c_red_s",
         "c_records", "c_sw"),
        0.0,
    )
    for st, compat in stages:
        t["stages"] += 1
        t["tasks"] += st.n_tasks
        t["one_task"] += st.n_tasks == 1
        t["run_ms"] += st.executor_run_ms
        t["cpu_ns"] += st.executor_cpu_ns
        t["gc_ms"] += st.gc_ms
        t["sw"] += st.shuffle_write_bytes
        t["sr"] += st.shuffle_read_bytes
        t["spill"] += st.spill_bytes
        t["out"] += st.output_bytes
        t["in_b"] += st.input_bytes
        t["in_r"] += st.input_records
        t["tfail"] += st.tasks_failed
        t["retried"] += st.attempt > 0
        if st.python:
            t["py_stages"] += 1
            t["py_run_ms"] += st.executor_run_ms
        if compat:
            if st.shuffle_write_bytes > 0:
                t["c_map_tasks"] += st.n_tasks
                t["c_map_s"] += st.duration_s
                t["c_records"] += st.shuffle_write_records
                t["c_sw"] += st.shuffle_write_bytes
            elif st.shuffle_read_bytes > 0:
                t["c_red_tasks"] += st.n_tasks
                t["c_red_s"] += st.duration_s
    return t


def _record_at(records, wall: float):
    """The op record whose window holds ``wall`` (listener events arrive
    asynchronously, so allow a second of lag past the op's end)."""
    for r in records:
        if r["wall0"] <= wall <= r["wall1"] + 1.0:
            return r
    return None


def _median_over(passes: list[int], fn) -> float:
    vals = [fn(p) for p in passes]
    return statistics.median(vals) if vals else 0.0


def build_spans(passes, records, stream_events, fold, t_proc, t_end) -> tracing.Span:
    run = tracing.Span("run", "run", t_proc, t_end)
    op_spans: dict[str, tracing.Span] = {}
    by_pass: dict[int, tracing.Span] = {}
    for p in passes:
        ps = tracing.Span(f"pass {p['pass']}", "pass", p["wall0"], p["wall1"])
        by_pass[p["pass"]] = ps
        run.children.append(ps)
    for r in records:
        os_ = tracing.Span(r["op"], "op", r["wall0"], r["wall1"], {"pass": r["pass"]})
        t = r["wall0"]
        for phase in ("build", "action", "release"):
            d = r.get(f"{phase}_s") or 0.0
            if d > 0:
                os_.children.append(tracing.Span(phase, phase, t, t + d))
            t += d
        op_spans[r.get("group", "")] = os_
        by_pass[r["pass"]].children.append(os_)
    tracing.attach_spark_spans(op_spans, fold)
    for ev in stream_events:
        if ev["type"] != "progress":
            continue
        r = _record_at(records, ev["wall"])
        if r is not None:
            trig = ev["duration_ms"].get("triggerExecution", 0) / 1000.0
            op_spans[r.get("group", "")].children.append(
                tracing.Span(f"batch {ev['batch']}", "streaming_batch", ev["wall"] - trig, ev["wall"],
                             {"input_rows": ev["input_rows"]})
            )
    return run


def per_layer_metrics(*, workload, passes, records, fold_dir, stream_events, sequential_s, cpus, untraced,
                      setup_split, peak_pss_mb, t_proc):
    fold = tracing.read_event_logs(fold_dir)
    # Micro-batch jobs run under their query's runId as job group; hand
    # them to the op that started the query.
    alias = {}
    for ev in stream_events:
        if ev["type"] == "start":
            r = _record_at(records, ev["wall"])
            if r is not None:
                alias[ev["run_id"]] = r.get("group")
    for job in fold.jobs.values():
        job.group = alias.get(job.group, job.group)
    warm = [p["pass"] for p in passes[1:]]
    compat = workload.name == "mr_compat"

    stages_by_pass: dict[int, list] = {p["pass"]: [] for p in passes}
    jobs_by_pass: dict[int, int] = {p["pass"]: 0 for p in passes}
    sql_by_pass: dict[int, int] = {p["pass"]: 0 for p in passes}
    for job in fold.jobs.values():
        i = _pass_of(job.group)
        if i is None:
            continue
        jobs_by_pass[i] += 1
        sql_by_pass[i] += job.sql
        for st in fold.job_stages(job):
            stages_by_pass[i].append((st, compat))
    totals = {i: _spark_totals(s) for i, s in stages_by_pass.items()}
    recs_by_pass: dict[int, list] = {p["pass"]: [] for p in passes}
    for r in records:
        recs_by_pass[r["pass"]].append(r)

    def tot(key):
        return _median_over(warm, lambda i: totals[i][key])

    def rsum(key):
        return _median_over(warm, lambda i: sum(r.get(key) or 0.0 for r in recs_by_pass[i]))

    op_s_total = rsum("op_s")
    executor_run_s = tot("run_ms") / 1000.0
    v: dict[str, float] = {
        "session.get_spark_s": setup_split.get("get_spark_s", 0.0),
        "registry.load_all_s": setup_split.get("load_all_s", 0.0),
        "build.total_s": rsum("build_s"),
        "build.op_p50_ms": 1000.0 * M.median([r["build_s"] for r in records if r["pass"] > 0 and "build_s" in r]),
        "action.total_s": rsum("action_s"),
        "spark.jobs": _median_over(warm, lambda i: jobs_by_pass[i]),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.one_task_stages": tot("one_task"),
        "spark.sql_executions": float(sum(sql_by_pass.values())),
        "spark.executor_run_s": executor_run_s,
        "spark.executor_cpu_s": tot("cpu_ns") / 1e9,
        "spark.gc_s": tot("gc_ms") / 1000.0,
        "spark.slot_util": executor_run_s / (op_s_total * cpus) if op_s_total else 0.0,
        "spark.shuffle_write_mb": tot("sw") / MB,
        "spark.shuffle_read_mb": tot("sr") / MB,
        "spark.spill_mb": tot("spill") / MB,
        "spark.output_mb": tot("out") / MB,
        "spark.tasks_failed": float(sum(t["tfail"] for t in totals.values())),
        "spark.stages_retried": float(sum(t["retried"] for t in totals.values())),
        "scan.input_mb": tot("in_b") / MB,
        "scan.input_rows": tot("in_r"),
        "cache.builds": float(sum(r.get("cache_added", 0) for r in records)),
        "cache.builds_warm": float(sum(r.get("cache_added", 0) for r in records if r["pass"] > 0)),
        "cache.evictions": float(sum(r.get("cache_dropped", 0) for r in records)),
        "cache.resident_mb": (records[-1].get("resident_after", 0) / MB) if records else 0.0,
        "transient.release_s": rsum("release_s"),
        "transient.released": rsum("released"),
        "python.stages": tot("py_stages"),
        "python.run_s": tot("py_run_ms") / 1000.0,
    }
    v["python.share"] = v["python.run_s"] / executor_run_s if executor_run_s else 0.0

    # Cold minus warm op time, for the ops that added cache entries.
    warm_op = {}
    for r in records:
        if r["pass"] > 0:
            warm_op.setdefault(r["op"], []).append(r["op_s"])
    v["cache.build_extra_s"] = sum(
        r["op_s"] - M.median(warm_op.get(r["op"], [r["op_s"]]))
        for r in records
        if r["pass"] == 0 and r.get("cache_added", 0) > 0
    )

    # Streaming progress, attributed to the op whose window holds it.
    s_tot = {i: dict.fromkeys(("q", "b", "rows", "trig", "add", "commit"), 0.0) for i in stages_by_pass}
    last_state: dict[tuple[int, str], tuple[float, float]] = {}
    for ev in stream_events:
        r = _record_at(records, ev["wall"])
        if r is None:
            continue
        i = r["pass"]
        if ev["type"] == "start":
            s_tot[i]["q"] += 1
            continue
        d = ev["duration_ms"]
        s_tot[i]["b"] += 1
        s_tot[i]["rows"] += ev["input_rows"]
        s_tot[i]["trig"] += d.get("triggerExecution", 0) / 1000.0
        s_tot[i]["add"] += d.get("addBatch", 0) / 1000.0
        s_tot[i]["commit"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
        last_state[(i, ev["id"])] = (ev["state_rows"], ev["state_bytes"])

    def stot(key):
        return _median_over(warm, lambda i: s_tot[i][key])

    def state(i, k):
        return sum(val[k] for (p, _), val in last_state.items() if p == i)

    v.update({
        "streaming.queries": stot("q"),
        "streaming.batches": stot("b"),
        "streaming.input_rows": stot("rows"),
        "streaming.trigger_s": stot("trig"),
        "streaming.add_batch_s": stot("add"),
        "streaming.commit_s": stot("commit"),
        "streaming.state_rows": _median_over(warm, lambda i: state(i, 0)),
        "streaming.state_mb": _median_over(warm, lambda i: state(i, 1)) / MB,
    })

    compat_run = op_s_total if compat else 0.0
    v.update({
        "compat.run_s": compat_run,
        "compat.map_tasks": tot("c_map_tasks"),
        "compat.reduce_tasks": tot("c_red_tasks"),
        "compat.map_stage_s": tot("c_map_s"),
        "compat.reduce_stage_s": tot("c_red_s"),
        "compat.shuffle_records": tot("c_records"),
        "compat.shuffle_write_mb": tot("c_sw") / MB,
        "compat.sequential_s": sequential_s or 0.0,
        "compat.speedup_vs_sequential": (sequential_s / compat_run) if compat and compat_run else 0.0,
        # filecount does no real map or reduce work: its time is the
        # per-job overhead that every compat job pays
        "compat.job_overhead_s": M.median(warm_op["filecount"]) if compat and "filecount" in warm_op else 0.0,
    })

    v["process.peak_pss_mb"] = peak_pss_mb
    warm_pass_s = M.median([p["wall_s"] for p in passes[1:]])
    base, base_src = untraced
    v["trace.overhead_frac"] = warm_pass_s / base - 1.0 if base else 0.0
    root = build_spans(passes, records, stream_events, fold, t_proc, passes[-1]["wall1"])
    v["trace.spans"] = float(sum(1 for _ in root.walk()))

    isolation = {
        "checks": [
            {"metric": m, "op": op, "bound": b, "value": v[m], "holds": _holds(v[m], op, b)}
            for m, op, b in ISOLATION.get(workload.name, [])
        ],
        "overhead_base": {"warm_pass_s": base, "source": base_src},
    }
    return v, root.to_json(), isolation
