"""The op_tail_s percentile rule and the metric-name grammar."""

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


def test_tail_needs_twenty_samples():
    assert M.tail_percentile([1.0] * 19) is None
    p, value, beyond = M.tail_percentile([float(i) for i in range(1, 21)])
    assert (p, value, beyond) == (50.0, 10.0, 10)


@pytest.mark.parametrize("n", [20, 24, 40, 66, 99, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    xs = [float(i) for i in range(1, n + 1)]
    p, value, beyond = M.tail_percentile(list(reversed(xs)))  # order must not matter
    assert beyond == M.TAIL_BEYOND == 10
    assert p == pytest.approx(100.0 * (n - 10) / n)
    # exactly ten samples lie beyond the value ...
    assert sum(x > value for x in xs) == 10
    # ... it is the nearest-rank value at p ...
    assert value == xs[math.ceil(p / 100.0 * n - 1e-9) - 1]
    # ... and the next rank up would leave only nine
    assert sum(x > xs[n - 10] for x in xs) == 9


@pytest.mark.parametrize("name", ["setup_s", "spark.shuffle_write_mb", "trace.overhead_frac", "a", "9lives", "x-y.z_1"])
def test_valid_names(name):
    assert M.valid_name(name)


@pytest.mark.parametrize("name", ["", "_lead", ".lead", "-lead", "has space", "tab\t", "é", "a/b", "x" * 65, "a:b"])
def test_invalid_names(name):
    assert not M.valid_name(name)


def test_units():
    for unit in ("s", "ms", "MB", "count", "ratio", "1/s", "%"):
        assert M.valid_unit(unit)
    assert not M.valid_unit("")
    assert not M.valid_unit("x" * 17)
    assert not M.valid_unit("m s")


def test_declared_metrics_follow_the_grammar_and_match_the_runner():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert per_layer == layers.PER_LAYER_UNITS
    names = list(e2e) + list(per_layer) + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert M.valid_name(name), name
    for unit in list(e2e.values()) + list(per_layer.values()):
        assert M.valid_unit(unit), unit
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_spread_is_iqr_over_median():
    assert M.spread([1.0] * 10) == 0.0
    q1, q2, q3 = M.quartiles([float(i) for i in range(1, 11)])
    assert M.spread([float(i) for i in range(1, 11)]) == pytest.approx((q3 - q1) / q2)


def test_overhead_base_uses_only_untraced_runs_of_the_same_sources(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    res = tmp_path / "results"
    res.mkdir()
    runs = [
        ("mr_compat-s1-1-t0.json", "abc", 4.0),
        ("mr_compat-s2-2-t0.json", "abc", 6.0),
        ("mr_compat-s3-3-t0.json", "old", 100.0),  # other sources
        ("mr_compat-s4-4-t1.json", "abc", 100.0),  # traced
        ("llm_pipeline-s1-5-t0.json", "abc", 100.0),  # other workload
    ]
    for name, source, warm in runs:
        (res / name).write_text(json.dumps({"source": source, "metrics": {"warm_pass_s": warm}}))
    value, how = run.previous_warm_median("mr_compat", "abc")
    assert value == 5.0 and how.startswith("2 untraced runs")
    value, how = run.previous_warm_median("mr_compat", "new")
    assert how == "STEADINESS.json"


def test_tree_memory_counts_this_process():
    assert M.tree_pss_bytes(os.getpid()) > 1 << 20
