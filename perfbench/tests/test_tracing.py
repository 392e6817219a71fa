"""Span self time and the Spark event-log fold."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402

EVENT_LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


def test_self_time_leaf_is_duration():
    assert Span("op", "op", 1.0, 3.5).self_time() == pytest.approx(2.5)


def test_self_time_subtracts_children():
    op = Span("op", "op", 0.0, 10.0)
    op.children = [Span("build", "build", 0.0, 1.0), Span("action", "action", 1.0, 7.0)]
    assert op.self_time() == pytest.approx(3.0)


def test_self_time_counts_overlapping_children_once():
    op = Span("op", "op", 0.0, 10.0)
    # two concurrent jobs overlapping on [3, 4], and a nested span inside one
    op.children = [Span("job 1", "spark_job", 2.0, 4.0), Span("job 2", "spark_job", 3.0, 6.0)]
    op.children[0].children = [Span("stage", "spark_stage", 2.5, 3.5)]
    assert op.self_time() == pytest.approx(6.0)
    assert op.children[0].self_time() == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    op = Span("op", "op", 5.0, 8.0)
    # a streaming batch that started before the op span and one that ends after
    op.children = [Span("b0", "streaming_batch", 4.0, 6.0), Span("b1", "streaming_batch", 7.5, 9.0)]
    assert op.self_time() == pytest.approx(1.5)


def test_self_times_sum_to_root_duration():
    root = Span("run", "run", 0.0, 20.0)
    p = Span("pass 0", "pass", 1.0, 19.0)
    op = Span("q", "op", 2.0, 12.0, children=[Span("build", "build", 2.0, 3.0), Span("action", "action", 3.0, 11.0)])
    p.children = [op]
    root.children = [p]
    assert sum(s.self_time() for s in root.walk()) == pytest.approx(root.duration)
    assert root.to_json()["children"][0]["children"][0]["self_s"] == pytest.approx(1.0)


def _fold():
    with open(EVENT_LOG) as f:
        return tracing.fold_event_log(f)


def test_fold_jobs_and_groups():
    fold = _fold()
    assert sorted(fold.jobs) == [0, 1, 2, 3]
    groups = {j.job_id: j.group for j in fold.jobs.values()}
    assert groups == {0: "p0:rdd", 1: "p0:sql", 2: "p0:sql", 3: "p1:pandas"}
    assert [j.sql for j in fold.jobs.values()] == [False, True, True, True]
    assert all(j.succeeded and j.complete_ms >= j.submit_ms for j in fold.jobs.values())
    assert fold.sql_executions == 2


def test_fold_stage_metrics():
    fold = _fold()
    rdd_map, rdd_reduce = fold.job_stages(fold.jobs[0])
    assert (rdd_map.n_tasks, rdd_map.tasks_ended) == (2, 2)
    assert rdd_map.python and rdd_reduce.python
    assert rdd_map.shuffle_write_bytes == 292 and rdd_map.shuffle_write_records == 4
    assert rdd_reduce.shuffle_read_bytes == 292
    assert rdd_map.executor_run_ms == 2671 and rdd_map.executor_cpu_ns > 0
    # the SQL aggregate's second job re-reads the shuffle in one task; its
    # skipped map stage never ran and is not listed
    (agg,) = fold.job_stages(fold.jobs[2])
    assert (agg.stage_id, agg.n_tasks, agg.python) == (4, 1, False)
    assert agg.shuffle_read_bytes == 364
    (pandas,) = fold.job_stages(fold.jobs[3])
    assert pandas.python and pandas.input_records == 100
    assert not fold.job_stages(fold.jobs[1])[0].python
    assert all(s.duration_s >= 0 for s in fold.stages.values())


def test_fold_ignores_blank_lines_and_unknown_events():
    fold = tracing.fold_event_log(['', '{"Event": "SparkListenerLogStart"}', '  '])
    assert not fold.jobs and not fold.stages


def test_spark_spans_hang_under_their_op():
    fold = _fold()
    ops = {"p0:rdd": Span("rdd", "op", 0, 2e9), "p0:sql": Span("sql", "op", 0, 2e9)}
    tracing.attach_spark_spans(ops, fold)
    assert [c.name for c in ops["p0:rdd"].children] == ["job 0"]
    assert [c.name for c in ops["p0:rdd"].children[0].children] == ["stage 0.0", "stage 1.0"]
    assert [c.name for c in ops["p0:sql"].children] == ["job 1", "job 2"]


def test_per_pass_totals_from_the_fold():
    fold = _fold()
    stages = [(s, True) for j in fold.jobs.values() if j.group.startswith("p0:") for s in fold.job_stages(j)]
    t = layers._spark_totals(stages)
    assert t["stages"] == 4 and t["tasks"] == 7 and t["one_task"] == 1
    assert t["py_stages"] == 2
    # compat attribution: map stages write the shuffle, reduce stages read it
    assert t["c_map_tasks"] == 4 and t["c_red_tasks"] == 3
    assert layers._pass_of("p12:wc") == 12 and layers._pass_of("perfbench:idle") is None
