#!/usr/bin/env python3
"""The engine's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is one fresh process, closed
loop, one client: it generates its inputs from the seed (untimed), sets up
one ``session.get_spark`` session at ``local[nproc]``, runs one cold pass
and a fixed number of warm passes, checks every op's output (untimed) and
prints one JSON line last: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of the traced run. Details (per-op timings, the
op_tail percentile, failures, spans) go to ``.perfbench/results/``.

See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import time

_T_MAIN = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
from workloads import BASE_SEED, COMPAT_FILE_BYTES, COMPAT_FILES, COMPAT_N_REDUCE, SF, WORKLOADS  # noqa: E402

DATA_VERSION = "v1"

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ok_rate": "ratio",
}


def process_start_epoch() -> float:
    """Wall-clock time this process was started (10 ms resolution)."""
    try:
        with open("/proc/self/stat") as f:
            stat = f.read()
        start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
        age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
        if 0.0 <= age < 60.0:
            return time.time() - age
    except (OSError, ValueError, IndexError):
        pass
    return _T_MAIN


def steal_seconds() -> float:
    """Host CPU time stolen from this VM so far (the eighth field of the
    ``cpu`` line of /proc/stat): a run that saw a lot of it ran on a busy
    host."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


# --- processes ---------------------------------------------------------------


def reap_descendants(timeout: float = 30.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if not M.descendants(os.getpid()):
            return
        time.sleep(0.1)
    for pid in M.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for _ in range(50):
        if not M.descendants(os.getpid()):
            return
        time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        # The gateway server exits on EOF of its stdin.
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- setup -------------------------------------------------------------------


def setup_session(extra_conf: dict | None = None):
    """Import the engine, build the session and load the registry: the
    work that ``setup_s`` times. Returns the session, the registry and the
    time of its two steps."""
    import pyspark  # noqa: F401

    from map_reduce_spark import registry
    from map_reduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    specs = registry.load_all()
    return spark, specs, {"get_spark_s": t1 - t0, "load_all_s": time.perf_counter() - t1}


# --- inputs ------------------------------------------------------------------


def ensure_base_tables() -> str:
    """The seed-independent registry inputs, generated once per checkout."""
    out = os.path.join(WORK, "data", f"sf{SF}-seed{BASE_SEED}-{DATA_VERSION}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        import datagen

        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(tmp, SF, BASE_SEED)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def generate_inputs(workload: str, seed: int, run_dir: str) -> dict:
    """Child-process mode body: write this run's inputs; returns paths."""
    import datagen

    paths = {"sf_dir": ensure_base_tables()}
    if workload == "mr_compat":
        paths["corpus"] = datagen.write_corpus(
            os.path.join(run_dir, "corpus"), seed, COMPAT_FILES, COMPAT_FILE_BYTES
        )
    return paths


def pass_orders(names: tuple[str, ...], seed: int, n_passes: int) -> list[list[str]]:
    """Seeded per-pass permutations, without numpy (the measuring process
    keeps its imports to what setup_s measures)."""
    import random

    rng = random.Random(seed)
    out = []
    for _ in range(n_passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


# --- the measured loop ---------------------------------------------------------


class Runner:
    def __init__(self, spark, specs, workload, paths, run_dir, trace: bool):
        self.spark = spark
        self.specs = specs
        self.workload = workload
        self.paths = paths
        self.run_dir = run_dir
        self.trace = trace
        self.records: list[dict] = []
        self.compat_lines: dict[int, list[str]] = {}
        if workload.name == "mr_compat":
            from map_reduce_spark.compat.apps import APPS
            from map_reduce_spark.compat.job import MapReduceJob

            self.jobs = {
                app: MapReduceJob(self.paths["corpus"], *APPS[app], n_reduce=COMPAT_N_REDUCE)
                for app in workload.ops
            }

    def _cache_keys(self) -> set:
        from map_reduce_spark.sources import cache

        return set(cache._LRU)

    def _resident_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def run_op(self, pass_idx: int, op: str) -> dict:
        from map_reduce_spark.plans.transient import release_transient

        sc = self.spark.sparkContext
        rec = {"pass": pass_idx, "op": op, "error": None}
        if self.trace:
            rec["group"] = f"p{pass_idx}:{op}"
            keys0 = self._cache_keys()
            rec["resident_before"] = self._resident_bytes()
            sc.setJobGroup(rec["group"], op)
        t0 = time.perf_counter()
        rec["wall0"] = time.time()
        try:
            if self.workload.name == "mr_compat":
                out_dir = os.path.join(self.run_dir, "mr-out", f"p{pass_idx}-{op}")
                lines = self.jobs[op].run(self.spark, out_dir)
                t1 = time.perf_counter()
                rec["build_s"], rec["action_s"] = 0.0, t1 - t0
                rec["release_s"], rec["released"] = 0.0, 0
                self.compat_lines[len(self.records)] = lines
            else:
                df = self.specs[op].builder(self.spark, self.paths["sf_dir"])
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rec["released"] = release_transient()
                t3 = time.perf_counter()
                rec["build_s"], rec["action_s"], rec["release_s"] = t1 - t0, t2 - t1, t3 - t2
        except Exception as exc:  # an op that raises is a failed op
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        rec["op_s"] = time.perf_counter() - t0
        rec["wall1"] = time.time()
        if self.trace:
            sc.setJobGroup("perfbench:idle", "between ops")
            keys1 = self._cache_keys()
            rec["cache_added"] = len(keys1 - keys0)
            rec["cache_dropped"] = len(keys0 - keys1)
            rec["resident_after"] = self._resident_bytes()
        self.records.append(rec)
        return rec

    def run_passes(self, orders: list[list[str]]) -> list[dict]:
        passes = []
        for i, order in enumerate(orders):
            t0 = time.perf_counter()
            w0 = time.time()
            for op in order:
                self.run_op(i, op)
            passes.append({"pass": i, "wall_s": time.perf_counter() - t0, "wall0": w0, "wall1": time.time()})
        return passes


# --- checks ------------------------------------------------------------------


def check_compat(runner: Runner) -> tuple[dict[str, str], float]:
    """Sorted distributed output must equal the sequential oracle's, the
    reference's test-mr.sh check. Returns failures per record index and
    the sequential oracle's time for one pass (all apps)."""
    from map_reduce_spark.compat.job import sorted_output

    expected, seq_s = {}, 0.0
    for app, job in runner.jobs.items():
        t0 = time.perf_counter()
        lines = job.run_sequential()
        seq_s += time.perf_counter() - t0
        expected[app] = hashlib.sha1("\n".join(sorted_output(lines)).encode()).hexdigest()
    bad = {}
    for idx, lines in runner.compat_lines.items():
        app = runner.records[idx]["op"]
        got = hashlib.sha1("\n".join(sorted_output(lines)).encode()).hexdigest()
        if got != expected[app]:
            bad[idx] = f"{app}: sorted output differs from run_sequential()"
    return bad, seq_s


def _schema_sig(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def check_registry(spark, specs, ops, sf_dir: str, expected_rows: dict) -> dict[str, str]:
    """Oracle ops: strict equality with DuckDB over the same directory,
    through tools/check_oracle.compare. No-oracle ops: materialized schema
    equals the declared one and the row count equals expected.json's."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import compare

    from map_reduce_spark.plans.deferred import DeferredDataFrame
    from map_reduce_spark.plans.transient import release_transient
    from map_reduce_spark.sources import TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(os.environ['TMPDIR'], 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = {}
    for op in ops:
        spec = specs[op]
        try:
            df = spec.builder(spark, sf_dir)
            declared = _schema_sig(df.schema)
            pdf = df.toPandas()
            real = df._d_df if isinstance(df, DeferredDataFrame) else df
            materialized = _schema_sig(real.schema)
        except Exception as exc:
            bad[op] = f"spark error: {type(exc).__name__}: {str(exc)[:300]}"
            continue
        finally:
            release_transient()
        if spec.oracle_sql is not None:
            try:
                problems = compare(op, pdf, con.execute(spec.oracle_sql).df())
            except duckdb.Error as exc:
                problems = [f"duckdb error: {exc}"]
        else:
            problems = []
            if declared != materialized or list(pdf.columns) != [c for c, _ in declared]:
                problems.append(f"schema: declared {declared} != materialized {materialized}")
            want = expected_rows.get(op)
            if want is None:
                problems.append("no recorded row count in expected.json")
            elif len(pdf) != want:
                problems.append(f"row count {len(pdf)} != recorded {want}")
        if problems:
            bad[op] = "; ".join(problems)[:600]
    con.close()
    return bad


# --- metrics -----------------------------------------------------------------


def end_to_end_metrics(passes, records, setup_s) -> tuple[dict, dict]:
    warm = [p["wall_s"] for p in passes[1:]]
    warm_ops = [r["op_s"] for r in records if r["pass"] > 0]
    tail = M.tail_percentile(warm_ops)
    attempted = len(records)
    failed = sum(1 for r in records if r["error"])
    values = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": M.median(warm),
        "op_p50_s": M.median(warm_ops),
        "op_tail_s": tail[1] if tail else None,
        "ok_rate": 1.0 - failed / attempted,
    }
    detail = {
        "op_tail": {"percentile": tail[0], "samples_beyond": tail[2], "warm_ops": len(warm_ops)} if tail else None,
        "error_rate": failed / attempted,
    }
    return values, detail


def emit(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> None:
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units if values.get(k) is not None}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


def source_hash() -> str:
    """Digest of the engine's and the benchmark's Python sources, so that
    results of other code left in ``.perfbench/results`` are told apart
    (a checkout need not be a git repository)."""
    h = hashlib.sha1()
    for top in ("map_reduce_spark", "perfbench", "tools"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            for name in sorted(filenames):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def previous_warm_median(workload: str, source: str) -> tuple[float | None, str]:
    """Median untraced warm_pass_s for ``workload``: from untraced runs of
    the same sources in this checkout if there are any, else from the
    committed steadiness record."""
    vals = []
    res_dir = os.path.join(WORK, "results")
    if os.path.isdir(res_dir):
        for name in os.listdir(res_dir):
            if name.startswith(f"{workload}-") and name.endswith("-t0.json"):
                try:
                    with open(os.path.join(res_dir, name)) as f:
                        rec = json.load(f)
                    if rec.get("source") == source:
                        vals.append(rec["metrics"]["warm_pass_s"])
                except (OSError, KeyError, ValueError):
                    pass
    if vals:
        return M.median(vals), f"{len(vals)} untraced runs of the same sources in this checkout"
    try:
        with open(os.path.join(HERE, "STEADINESS.json")) as f:
            rec = json.load(f)
        return rec["workloads"][workload]["warm_pass_s"]["median"], "STEADINESS.json"
    except (OSError, KeyError, ValueError):
        return None, "none"


# --- main --------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30,
                    help="nominal run length; the work of a run is fixed by warm_passes in workloads.py")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate", metavar="RUN_DIR", help=argparse.SUPPRESS)
    ap.add_argument(
        "--record-expected",
        action="store_true",
        help="run every registry op once and rewrite perfbench/expected.json",
    )
    args = ap.parse_args(argv)
    if not (args.record_expected or args.workload):
        ap.error("--workload is required")
    return args


def prepare_env(run_dir: str) -> None:
    """Scratch, warehouse and checkpoint directories live in the run's own
    directory; the only engine setting made is the core count."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(M.host()["cpus"])
    # Keep the JVM's own temp files in the run directory too.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers start in the run directory; let them import the engine.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(run_dir)


def main(argv=None) -> int:
    args = parse_args(argv)
    # The benchmark measures the engine of the checkout it sits in, never
    # an installed copy.
    if not os.path.isdir(os.path.join(ROOT, "map_reduce_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_oracle.py")
    ):
        print(f"perfbench: {ROOT} is not a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.generate:
        print(json.dumps(generate_inputs(args.workload, args.seed, args.generate)))
        return 0
    if args.record_expected:
        return record_expected()
    return run(args)


def run(args) -> int:
    t_proc = process_start_epoch()
    workload = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, "runs", f"{workload.name}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    prepare_env(run_dir)
    try:
        return _run(args, workload, run_dir, t_proc)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        reap_descendants()


def _run(args, workload, run_dir: str, t_proc: float) -> int:
    # 1. inputs, untimed, in a child process so this process's imports
    # stay those of the set-up it times.
    g0 = time.time()
    gen = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload.name,
         "--seed", str(args.seed), "--generate", run_dir],
        capture_output=True, text=True, check=True,
    )
    paths = json.loads(gen.stdout.strip().splitlines()[-1])
    gen_s = time.time() - g0

    orders = pass_orders(workload.ops, args.seed, 1 + workload.warm_passes)
    log_dir = os.path.join(run_dir, "eventlog")
    extra_conf = None
    if args.trace:
        os.makedirs(log_dir)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }

    steal0 = steal_seconds()
    # Memory is sampled in traced runs only, so that the sampler thread
    # stays out of the region the end-to-end metrics time.
    with M.MemSampler() if args.trace else contextlib.nullcontext() as mem:
        # 2. set up
        spark, specs, setup_split = setup_session(extra_conf)
        setup_main = time.time() - t_proc - gen_s
        stream_events: list[dict] = []
        if args.trace:
            import tracing

            spark.streams.addListener(tracing.make_streaming_listener(stream_events))
        runner = Runner(spark, specs, workload, paths, run_dir, bool(args.trace))
        # 3-4. cold pass, then the warm passes
        passes = runner.run_passes(orders)
    steal_s = steal_seconds() - steal0
    # 5. checks, untimed
    c0 = time.time()
    records = runner.records
    seq_s = None
    if workload.name == "mr_compat":
        bad_idx, seq_s = check_compat(runner)
        for idx, why in bad_idx.items():
            records[idx]["error"] = records[idx]["error"] or why
    else:
        with open(os.path.join(HERE, "expected.json")) as f:
            expected_rows = json.load(f)["rows"]
        bad_ops = check_registry(spark, specs, workload.ops, paths["sf_dir"], expected_rows)
        for r in records:
            if r["op"] in bad_ops and not r["error"]:
                r["error"] = "check: " + bad_ops[r["op"]]
    check_s = time.time() - c0
    stop_spark(spark)

    values, detail = end_to_end_metrics(passes, records, setup_main)
    attempted = len(records)
    failed = sum(1 for r in records if r["error"])
    result = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "source": source_hash(),
        "host": M.host(),
        "warm_passes": len(passes) - 1,
        "gen_s": gen_s,
        "check_s": check_s,
        "steal_s": steal_s,
        "metrics": values,
        **detail,
        "passes": [p["wall_s"] for p in passes],
        "failures": sorted({f"{r['op']}: {r['error']}" for r in records if r["error"]}),
        "ops": [{k: r[k] for k in ("pass", "op", "op_s", "build_s", "action_s") if k in r} for r in records],
    }
    isolation_ok = True
    if args.trace:
        import layers

        result["peak_pss_mb"] = mem.peak / float(1 << 20)
        per_layer, spans, isolation = layers.per_layer_metrics(
            workload=workload,
            passes=passes,
            records=records,
            fold_dir=log_dir,
            stream_events=stream_events,
            sequential_s=seq_s,
            cpus=M.host()["cpus"],
            untraced=previous_warm_median(workload.name, result["source"]),
            setup_split=setup_split,
            peak_pss_mb=result["peak_pss_mb"],
            t_proc=t_proc,
        )
        result["per_layer"] = per_layer
        result["stream_events"] = stream_events
        result["isolation"] = isolation
        isolation_ok = all(c["holds"] for c in isolation["checks"])
        span_path = os.path.join(WORK, "results", f"{workload.name}-s{args.seed}-{os.getpid()}-spans.json")
        os.makedirs(os.path.dirname(span_path), exist_ok=True)
        with open(span_path, "w") as f:
            json.dump(spans, f)
        result["spans_file"] = os.path.relpath(span_path, ROOT)
        units = layers.PER_LAYER_UNITS
        out_values = per_layer
    else:
        units = END_TO_END
        out_values = values
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    res_path = os.path.join(WORK, "results", f"{workload.name}-s{args.seed}-{os.getpid()}-t{args.trace}.json")
    with open(res_path, "w") as f:
        json.dump(result, f, indent=1, default=str)
    for line in result["failures"]:
        print("FAILED", line)
    for c in result.get("isolation", {}).get("checks", []):
        if not c["holds"]:
            print(f"ISOLATION FAILED {workload.name}: {c['metric']} = {c['value']}, want {c['op']} {c['bound']}")
    if result.get("op_tail"):
        t = result["op_tail"]
        print(f"op_tail_s is p{t['percentile']:.1f} of {t['warm_ops']} warm ops ({t['samples_beyond']} beyond)")
    print("detail:", os.path.relpath(res_path, ROOT))
    emit(failed == 0 and isolation_ok, attempted, failed, out_values, units)
    return 0


def record_expected() -> int:
    """Record the row count of every no-oracle registry op the workloads
    run, over the seed-independent base tables."""
    run_dir = os.path.join(WORK, "runs", f"record-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    sf_dir = ensure_base_tables()
    prepare_env(run_dir)
    try:
        spark, specs, _ = setup_session()
        from map_reduce_spark.plans.transient import release_transient

        rows = {}
        for w in WORKLOADS.values():
            for op in w.ops:
                if op in specs and specs[op].oracle_sql is None:
                    rows[op] = len(specs[op].builder(spark, sf_dir).toPandas())
                    release_transient()
        stop_spark(spark)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        reap_descendants()
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"sf": SF, "base_seed": BASE_SEED, "data_version": DATA_VERSION, "rows": rows}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
