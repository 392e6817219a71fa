"""Metric helpers: the tail-percentile rule, the metric-name grammar,
summary statistics and the process-tree memory sampler."""

from __future__ import annotations

import math
import os
import re
import statistics
import threading

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

TAIL_BEYOND = 10


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def tail_percentile(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile that leaves ``TAIL_BEYOND`` samples beyond
    it: the (n - 10)-th smallest of n samples, at percentile 100 (n - 10) / n,
    as (percentile, value, samples beyond). ``None`` below 20 samples,
    where that percentile would fall under the median."""
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return None
    k = n - TAIL_BEYOND
    return 100.0 * k / n, sorted(values)[k - 1], TAIL_BEYOND


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def host() -> dict:
    """The width (usable cores) and memory of the host a run measured on."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"cpus": len(os.sched_getaffinity(0)), "mem_gb": round(mem / 2**30, 1)}


# --- process-tree memory ---------------------------------------------------

def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read().decode(errors="replace")
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and all its descendants.
    Unlike summed RSS it counts a page shared by forked Python workers
    once, so it is the memory the tree really holds."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class MemSampler:
    """Samples the process tree's summed PSS on a daemon thread and keeps
    the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
