"""MapReduceJob — the reference engine's job API on Spark.

Semantics reproduced (SURVEY.md §2.1 operator table):

- E1 whole-file scan: one record ``(filename, contents)`` per input
  file (worker.go:78-86). The driver expands the inputs exactly as
  ``run_sequential`` does; each map task reads its files whole and
  decodes them as UTF-8 with no newline translation, the semantics of
  ``sc.wholeTextFiles``.
- E2 map: ``map_fn(filename, contents) -> [(key, value)]``
  (worker.go:87) -> ``flatMap``, split ``min(#files,
  defaultParallelism)`` ways.
- E3 hash partition: FNV-32a & 0x7fffffff mod n_reduce
  (worker.go:32-44). The map computes each key's reference bucket
  (memoized per task, ``fnv.make_partitioner``) and the shuffle packs
  bucket ``r`` into Spark partition ``r % min(n_reduce,
  defaultParallelism)``, so one reduce task owns several buckets.
- E6 per-bucket ascending byte-wise key sort (worker.go:117).
- E7 sort-based group + ``reduce_fn(key, [values]) -> value`` called
  once per distinct key with ALL values (worker.go:121-137).
- E8 text sink ``"<key> <value>\\n"`` per line, one file
  ``mr-out-<r>`` per bucket (worker.go:118-138). A reduce task writes
  each bucket it owns to a temp file named by its task attempt; after
  the job the driver renames only the successful attempts' files.

Why packed buckets: a Python task costs ~0.2 s before the user function
starts (the worker waits for the JVM's task header), and a wave of up
to ``defaultParallelism`` tasks costs about the same as one task. One
map wave plus one reduce wave is the floor; ``n_reduce`` reduce tasks
would be ``ceil(n_reduce / cores)`` waves. On a 4-core host the
``filecount`` job, whose map and reduce do almost nothing, takes about
0.6 s in 2 waves against about 1.2 s in 4.

Everything else the reference implements as control-plane machinery —
scheduling, phase barrier, 10s straggler re-execution (coordinator.go:
52-158) — is inherited from Spark's DAG scheduler and task retry. The
output commit (worker.go:47-70) is the temp-file-plus-rename trick
above, done by the driver.

Scale note: ``reduce_fn`` receives the *complete* value list for a
key, exactly like the reference — which makes the compat path a
``groupByKey`` with unbounded per-key state. That is faithful but
anti-scale; the native engine (operators/, functions/) uses
decomposable aggregates instead. The compat layer is for running
existing reference workloads unchanged.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

from pyspark import TaskContext
from pyspark.sql import SparkSession

from map_reduce_spark.compat.fnv import make_partitioner

MapFn = Callable[[str, str], list[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]


def _sort_group_reduce(reduce_fn: ReduceFn):
    """Per-partition: sort by key, group contiguous runs, reduce once
    per distinct key — the exact loop of worker.go:117-137."""

    def run(records: Iterable[tuple[str, str]]) -> Iterable[str]:
        kva = sorted(records, key=lambda kv: kv[0])
        i = 0
        while i < len(kva):
            j = i + 1
            while j < len(kva) and kva[j][0] == kva[i][0]:
                j += 1
            values = [kv[1] for kv in kva[i:j]]
            yield f"{kva[i][0]} {reduce_fn(kva[i][0], values)}"
            i = j

    return run


def _map_files(map_fn: MapFn):
    """Map task body: read one input file whole and map it (E1+E2)."""

    def run(path: str) -> list[tuple[str, str]]:
        with open(path, "rb") as f:
            contents = f.read().decode("utf-8")
        return map_fn(os.path.basename(path), contents)

    return run


def _reduce_buckets(reduce_fn: ReduceFn, n_reduce: int, n_tasks: int, tmp_dir: str):
    """Reduce task body: split the task's records by reference bucket,
    sort-group-reduce each bucket it owns (E6+E7), and write each to a
    temp file unique to this task attempt (E8). Yields ``(bucket,
    temp_path, lines)``; every owned bucket gets a file, empty or not."""
    sort_group_reduce = _sort_group_reduce(reduce_fn)

    def run(task: int, records: Iterable[tuple[str, str]]) -> Iterator[tuple[int, str, list[str]]]:
        bucket_of = make_partitioner(n_reduce)
        buckets: dict[int, list[tuple[str, str]]] = {r: [] for r in range(task, n_reduce, n_tasks)}
        for kv in records:
            buckets[bucket_of(kv[0])].append(kv)
        attempt = TaskContext.get().taskAttemptId()
        for r, kvs in buckets.items():
            lines = list(sort_group_reduce(kvs))
            tmp_path = os.path.join(tmp_dir, f"mr-out-{r}.attempt-{attempt}")
            with open(tmp_path, "w", encoding="utf-8") as f:
                f.writelines(line + "\n" for line in lines)
            yield r, tmp_path, lines

    return run


@dataclass
class MapReduceJob:
    """``MapReduceJob(inputs, map_fn, reduce_fn).run(spark, out_dir)``.

    ``inputs``: list of file paths or glob (one map record per file).
    ``n_reduce``: number of reduce partitions / output files
    (reference default 10, /root/reference/src/main/mrcoordinator.go:23).
    """

    inputs: list[str] | str
    map_fn: MapFn
    reduce_fn: ReduceFn
    n_reduce: int = 10

    def _input_paths(self) -> list[str]:
        if isinstance(self.inputs, str):
            paths: list[str] = []
            for part in self.inputs.split(","):
                paths.extend(sorted(glob.glob(part)))
            return paths
        return list(self.inputs)

    def run(self, spark: SparkSession, out_dir: str) -> list[str]:
        """Distributed run; writes ``mr-out-<r>`` files, returns all
        output lines (buckets in order, keys ascending within each).

        One wave of Python tasks per stage: ``min(#files,
        defaultParallelism)`` map tasks and ``min(n_reduce,
        defaultParallelism)`` reduce tasks. Reduce tasks write
        attempt-unique temp files under ``out_dir/_mr_tmp``; once the
        job has succeeded the driver renames the files of the attempts
        Spark kept to ``mr-out-<r>`` (the idempotence trick of
        worker.go:66-69), so no output file is visible before the job
        commits and each appears complete. ``out_dir`` must therefore be
        on a filesystem both the driver and the executors see.
        """
        sc = spark.sparkContext
        n_reduce = self.n_reduce
        paths = self._input_paths()
        width = sc.defaultParallelism
        n_tasks = min(n_reduce, width)
        tmp_dir = os.path.join(os.path.abspath(out_dir), "_mr_tmp")
        shutil.rmtree(tmp_dir, ignore_errors=True)
        os.makedirs(tmp_dir)
        try:
            committed = (
                sc.parallelize(paths, max(1, min(len(paths), width)))
                .flatMap(_map_files(self.map_fn))
                .partitionBy(n_tasks, make_partitioner(n_reduce))
                .mapPartitionsWithIndex(_reduce_buckets(self.reduce_fn, n_reduce, n_tasks, tmp_dir))
                .collect()
            )
            all_lines: list[str] = []
            for r, tmp_path, lines in sorted(committed, key=lambda c: c[0]):
                os.replace(tmp_path, os.path.join(out_dir, f"mr-out-{r}"))
                all_lines.extend(lines)
        finally:
            shutil.rmtree(tmp_dir, ignore_errors=True)
        return all_lines

    def run_sequential(self) -> list[str]:
        """Pure-Python sequential oracle — the mrsequential twin
        (/root/reference/src/main/mrsequential.go:28-90): one global
        sort, one output stream. Used as ground truth by the tests,
        exactly as test-mr.sh:80-83 uses mrsequential."""
        intermediate: list[tuple[str, str]] = []
        for path in self._input_paths():
            with open(path, encoding="utf-8") as f:
                contents = f.read()
            intermediate.extend(self.map_fn(os.path.basename(path), contents))
        return list(_sort_group_reduce(self.reduce_fn)(intermediate))


def sorted_output(lines: list[str]) -> list[str]:
    """The reference's correctness observable: the sorted multiset of
    output lines across all partitions (test-mr.sh:103-104)."""
    return sorted(line for line in lines if line)
