"""Transient-persist registry: scoped cleanup for plan-internal caches.

Several builders persist an intermediate frame that is consumed ONLY
within the single lazy plan they return (e.g. basket.py's basket
arrays feed the item counts, the pair stream, and the order total).
The persist is load-bearing — without it the diamond re-runs the
upstream subplan per arm — but the builder cannot unpersist it
itself: the cache must survive until the CALLER materializes the
plan. Across a 162-query bench session those caches would otherwise
accumulate until LRU eviction (ADVICE r7).

``transient_persist`` is the house spelling for that pattern: it
persists the frame AND enrolls it for release. Harness loops
(bench.py, tools/check_oracle.py) call ``release_transient()`` after
materializing each query, so every transient cache lives exactly one
query. Deliberately session-scoped caches (the retrieval index
builders' memoized frames, similarity.py's trained codebooks) do NOT
enroll — cross-query reuse is their point. A full drain is also the
one point where that session cache is trimmed to its byte budget
(``sources.cache.query_boundary``).

Consumers OUTSIDE the harness loops (pytest sessions, notebooks,
library use) should wrap build+materialize in ``transient_scope()``
(ADVICE r8: without a drain point, enrollments accumulate
unboundedly and pin caches for the life of the session). The scope
releases exactly the frames enrolled inside it — enrollments made
before the scope opened are left alone, so a scope issued between an
outer caller's build and materialize cannot drop that caller's
load-bearing caches. The test suite drains via an autouse
per-test fixture (tests/conftest.py). Weak references are NOT the
answer here: a persist lives JVM-side keyed by the plan, so losing
the Python handle without calling unpersist() would leak the
executor-memory cache — the opposite of the goal.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: list[DataFrame] = []


def transient_persist(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df`` and enroll it for the next ``release_transient``."""
    df = df.persist(level)
    _LIVE.append(df)
    return df


def ordered_result(df: DataFrame, *cols) -> DataFrame:
    """Output-order sort of a report-sized result frame, with the
    frame transient-persisted FIRST.

    A global ``orderBy`` is a range exchange, and a range exchange
    derives its partition bounds by running a SAMPLING pass over its
    child RDD — so the entire subtree between the previous exchange
    and the sort executes TWICE (once to sample bounds, once for the
    real shuffle; guide §2.4's "orderBy used only to make output
    deterministic" tax, measured at ~2x on every finisher whose
    pre-sort subtree is expensive: rank windows, exact-verify joins,
    Python decode chains). Persisting the pre-sort frame makes the
    sampling pass a cache read. The frame is the query's own
    report-sized OUTPUT (top-k lists, per-group reports), so the
    cache is small and is released by the harness's per-query
    ``release_transient`` drain like every other transient.

    Usage (fluent): ``.transform(ordered_result, "k1", "k2")``.

    Plan-pin tests that need the raw compute subtree (a persist hides
    it behind an InMemoryTableScan, and the cache manager substitutes
    the cache into ANY frame with the same logical plan) monkeypatch
    ``transient_persist`` to identity for the build under inspection.
    """
    return transient_persist(df).orderBy(*cols)


def release_transient(mark: int = 0) -> int:
    """Unpersist (non-blocking) every frame enrolled at or after list
    position ``mark`` (default: all); returns the count released.

    A FULL drain (``mark == 0``) is a query boundary: after the
    transients are released it trims the session cache to its byte
    budget (``sources.cache.query_boundary``). A partial release from a
    nested ``transient_scope`` (``mark > 0``) may run between an outer
    caller's build and materialize, so it trims nothing. Harness loops
    call with the default ``mark=0`` between queries."""
    n = max(0, len(_LIVE) - mark)
    while len(_LIVE) > mark:
        df = _LIVE.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    if mark == 0:
        from map_reduce_spark.sources import cache as _session_cache

        _session_cache.query_boundary()
    return n


@contextmanager
def transient_scope():
    """Release-on-exit scope for non-harness consumers: frames
    enrolled INSIDE the ``with`` block are unpersisted on exit;
    enrollments from before the block are untouched (so a nested
    scope cannot drop an outer plan's load-bearing caches). Exiting an
    outermost scope is a full drain, so it also trims the session
    cache."""
    mark = len(_LIVE)
    try:
        yield
    finally:
        release_transient(mark)
