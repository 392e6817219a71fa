"""MapReduceJob — the reference engine's job API on Spark.

Semantics reproduced (SURVEY.md §2.1 operator table):

- E1 whole-file scan: one record ``(filename, contents)`` per input
  file (worker.go:78-86) -> ``sc.wholeTextFiles``.
- E2 map: ``map_fn(filename, contents) -> [(key, value)]``
  (worker.go:87) -> ``flatMap``.
- E3 hash partition: FNV-32a & 0x7fffffff mod n_reduce
  (worker.go:32-44) -> RDD ``partitionBy`` with the exact hash.
- E6 per-partition ascending byte-wise key sort (worker.go:117).
- E7 sort-based group + ``reduce_fn(key, [values]) -> value`` called
  once per distinct key with ALL values (worker.go:121-137).
- E8 text sink ``"<key> <value>\\n"`` per line, one file
  ``mr-out-<r>`` per reduce partition (worker.go:118-138).

Everything the reference implements as control-plane machinery —
scheduling, phase barrier, 10s straggler re-execution, atomic output
commit (coordinator.go:52-158, worker.go:47-70) — is inherited from
Spark's DAG scheduler, task retry, and output committer; nothing to
build (SURVEY.md §4.1).

Scale note: ``reduce_fn`` receives the *complete* value list for a
key, exactly like the reference — which makes the compat path a
``groupByKey`` with unbounded per-key state. That is faithful but
anti-scale; the native engine (operators/, functions/) uses
decomposable aggregates instead. The compat layer is for running
existing reference workloads unchanged.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterable
from dataclasses import dataclass

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

    def _input_glob(self) -> str:
        if isinstance(self.inputs, str):
            return self.inputs
        return ",".join(self.inputs)

    def run(self, spark: SparkSession, out_dir: str) -> list[str]:
        """Distributed run; writes ``mr-out-<r>`` files, returns all
        output lines (unsorted across partitions, sorted within).

        The write is a distributed text sink (saveAsTextFile — task
        outputs commit atomically via the rename-based committer, the
        same idempotence trick as worker.go:66-69); the part files are
        then renamed to the reference's ``mr-out-<r>`` layout, a pure
        metadata operation.
        """
        map_fn, reduce_fn, n_reduce = self.map_fn, self.reduce_fn, self.n_reduce
        tmp_dir = os.path.join(out_dir, "_mr_tmp")
        shutil.rmtree(tmp_dir, ignore_errors=True)
        os.makedirs(out_dir, exist_ok=True)
        (
            spark.sparkContext.wholeTextFiles(self._input_glob())
            .flatMap(lambda fc: map_fn(os.path.basename(fc[0]), fc[1]))
            .partitionBy(n_reduce, make_partitioner(n_reduce))
            .mapPartitions(_sort_group_reduce(reduce_fn))
            .saveAsTextFile(tmp_dir)
        )
        all_lines: list[str] = []
        for r in range(n_reduce):
            part = os.path.join(tmp_dir, f"part-{r:05d}")
            dest = os.path.join(out_dir, f"mr-out-{r}")
            if os.path.exists(part):
                os.replace(part, dest)
            else:  # empty partition still gets an (empty) output file
                open(dest, "w").close()
            with open(dest, encoding="utf-8") as f:
                all_lines.extend(line.rstrip("\n") for line in f if line.strip())
        shutil.rmtree(tmp_dir, ignore_errors=True)
        return all_lines

    def run_sequential(self) -> list[str]:
        """Pure-Python sequential oracle — the mrsequential twin
        (/root/reference/src/main/mrsequential.go:28-90): one global
        sort, one output stream. Used as ground truth by the tests,
        exactly as test-mr.sh:80-83 uses mrsequential."""
        import glob as globmod

        paths: list[str] = []
        if isinstance(self.inputs, str):
            for part in self.inputs.split(","):
                paths.extend(sorted(globmod.glob(part)))
        else:
            paths = list(self.inputs)
        intermediate: list[tuple[str, str]] = []
        for path in paths:
            with open(path, encoding="utf-8") as f:
                contents = f.read()
            intermediate.extend(self.map_fn(os.path.basename(path), contents))
        return list(_sort_group_reduce(self.reduce_fn)(intermediate))


def sorted_output(lines: list[str]) -> list[str]:
    """The reference's correctness observable: the sorted multiset of
    output lines across all partitions (test-mr.sh:103-104)."""
    return sorted(line for line in lines if line)
