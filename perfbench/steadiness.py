#!/usr/bin/env python3
"""Measure the benchmark's run-to-run spread and write STEADINESS.json.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1] [--second-set] [workload ...]

Runs ``run.py`` once per seed and workload with tracing off (seeds
first-seed .. first-seed+runs-1), then once more with tracing on, all in
sequence; with ``--second-set``, then every workload again on other seeds.
For each end-to-end metric it records the median, quartiles and spread
(inter-quartile range over median, ``statistics.quantiles(n=4)``), and
whether that spread stays within a tenth and within a third of the metric's
bound in BENCHMARK.json. The traced run adds its isolation checks
and ``trace.overhead_frac``; the second set adds how far each median moved.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


# Workloads of the original plan left out of BENCHMARK.json by the time
# budget of a full evaluation (3420 s for 4 + 22 x W runs); see README.md.
NOT_IN_BENCHMARK = {
    "sql_relational": "runnable by hand (run.py --workload sql_relational); a third workload in "
    "BENCHMARK.json leaves 49 s per run, less than set-up, a cold pass and 20 warm ops take",
    "stream_ingest": "not built: a pass on a fresh snapshot costs 35-75 s on 4 cores and 20 warm ops "
    "need two; the streaming layer is measured by hand on sql_relational",
}


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    wall = time.time() - t0
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = next((ln.split(": ", 1)[1] for ln in lines if ln.startswith("detail: ")), None)
    if detail:
        with open(os.path.join(ROOT, detail)) as f:
            result["detail"] = json.load(f)
    return result, wall


def summarize(values: list[float], bound: float | None) -> dict:
    q1, q2, q3 = M.quartiles(values)
    spread = (q3 - q1) / q2 if q2 else 0.0
    out = {"values": values, "median": q2, "q1": q1, "q3": q3, "spread": spread, "within_tenth": spread <= 0.1}
    if bound is not None:
        out.update({"bound": bound, "within_third_of_bound": spread <= bound / 3})
    return out


def measure_set(workload: str, seeds: range, seconds: int, bounds: dict) -> dict:
    per_metric: dict[str, list[float]] = {}
    walls, failed, steal = [], 0, []
    for seed in seeds:
        res, wall = run_once(workload, seed, seconds, 0)
        walls.append(wall)
        failed += res["failed"]
        steal.append(res.get("detail", {}).get("steal_s"))
        for name, m in res["metrics"].items():
            per_metric.setdefault(name, []).append(m["value"])
        print(workload, seed, f"{wall:.1f}s", {k: round(v[-1], 4) for k, v in per_metric.items()}, flush=True)
    entry = {name: summarize(vals, bounds[name]) for name, vals in per_metric.items()}
    entry["seeds"] = [seeds.start, seeds.stop - 1]
    entry["run_wall_s"] = {"median": M.median(walls), "max": max(walls)}
    # CPU time the hypervisor took from this VM during each run, in seed
    # order: a run slowed by other tenants shows it here.
    entry["steal_s"] = steal
    entry["failed_ops"] = failed
    return entry


def drift(first: dict, second: dict, spec: dict) -> dict:
    """How much worse each median of ``second`` is than ``first``'s, as a
    share of the first (negative: better), against the metric's bound."""
    out = {}
    for m in spec["end_to_end"]:
        a, b = first[m["name"]]["median"], second[m["name"]]["median"]
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        out[m["name"]] = {"worse_by": worse, "bound": m["bound"], "within_bound": worse <= m["bound"]}
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--second-set", action="store_true",
                    help="then measure every workload again on seeds first-seed+100..., as a full "
                    "evaluation does, and record how far each median moved")
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]

    record = {
        "host": M.host(),
        "run_seconds": seconds,
        "runs_per_workload": args.runs,
        "workloads": {},
        "not_in_benchmark": NOT_IN_BENCHMARK,
    }
    for w in args.workloads:
        seeds = range(args.first_seed, args.first_seed + args.runs)
        entry = measure_set(w, seeds, seconds, bounds)
        traced, wall = run_once(w, args.first_seed, seconds, 1)
        detail = traced.get("detail", {})
        entry["traced"] = {
            "wall_s": wall,
            "correct": traced["correct"],
            "isolation": detail.get("isolation"),
            "trace.overhead_frac": traced["metrics"]["trace.overhead_frac"]["value"],
            "trace.spans": traced["metrics"]["trace.spans"]["value"],
            # Reported, not bounded: see README.md, "End-to-end metrics".
            "peak_pss_mb": detail.get("peak_pss_mb"),
        }
        print(w, "traced", json.dumps(entry["traced"]), flush=True)
        record["workloads"][w] = entry
    if args.second_set:
        record["second_set"] = {}
        for w in args.workloads:
            seeds = range(args.first_seed + 100, args.first_seed + 100 + args.runs)
            entry = measure_set(w, seeds, seconds, bounds)
            entry["drift_from_first"] = drift(record["workloads"][w], entry, spec)
            record["second_set"][w] = entry
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
