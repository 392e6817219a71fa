"""Session-scoped index caching for derived tables, under a byte budget.

Several operator families build a derived "index" table from the raw
corpus — the shingle inverted-index feed, the verified near-dup pair
set, SimHash fingerprints, ANN sign-sketches. Each is built once and
consumed by multiple queries (and multiple times inside one query's
plan), so the session-lifetime discipline is: build on first request,
persist, reuse thereafter. That is the in-session analogue of a
pipeline writing its index table to storage once per corpus snapshot,
which is what a 100 TB deployment does (the persisted frames here are
all small relative to the corpus: ids + fingerprints, never payloads).

Keyed by (applicationId, sf_dir) so a fresh session or a different
corpus dir rebuilds, and repeated calls in one session do not.

BYTE BUDGET. "Small relative to the corpus" is still tens of GB once
the corpus is sf10 and every index family is resident at once. Two
defenses:

1. Every frame persists at ``MEMORY_AND_DISK`` (explicitly, not the
   default), so a block that doesn't fit the storage pool spills to
   local disk instead of pressuring the heap.
2. The cache is trimmed at ONE point, the per-query boundary:
   ``plans.transient.release_transient()`` on a full drain calls
   ``query_boundary()`` after releasing the query's transients, which
   unpersists least-recently-used entries, coldest first, until the
   total persisted bytes (memory + disk, ``getRDDStorageInfo``) fit
   the budget, min(8 GiB, 0.45 x JVM max heap). There the query's
   action has run, so the lazily persisted bytes have landed, and no
   index chain is half-built, so nothing is evicted mid-query and a
   hit is a dict lookup. Eviction is always safe for correctness:
   builders are pure functions of (spark, sf_dir), so a later request
   rebuilds (it costs the one index build the cache was amortizing).

The bound: resident bytes are at most the budget, plus the running
query's own new entries, plus its transients. A consumer that never
calls ``release_transient`` is never trimmed — that includes calling
builders directly (an external driver, a notebook); such callers wrap
each query's build + materialize in ``plans.transient.transient_scope()``.
"""

from __future__ import annotations

import functools
from collections import OrderedDict
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# (applicationId, sf_dir, builder qualname) -> persisted frame, in
# least-recently-used order (first = coldest).
_LRU: OrderedDict[tuple[str, str, str], DataFrame] = OrderedDict()

_DEFAULT_BUDGET_CAP = 8 << 30  # 8 GiB
# Fraction of the JVM max heap the budget may claim. Spark's unified
# pool is spark.memory.fraction (0.6) of (heap - 300 MB); MEMORY_AND_DISK
# blocks past the storage share spill rather than OOM, so the budget's
# job is bounding rebuild/spill churn, not heap safety. Measured at sf10
# (16 GB heap): the first embedding-pair-index consumer built in 90 s
# under a ~7 GiB budget vs 155 s under 4.8 GiB (solo 47.6 s), so a
# tighter budget just converts cache residency into rebuilds.
_DEFAULT_BUDGET_HEAP_FRACTION = 0.45


@functools.cache
def _app_id(sc: SparkContext) -> str:
    # Read once per context: it is a py4j round trip, which a cache hit
    # should not pay.
    return sc.applicationId


@functools.cache
def _budget_bytes(spark: SparkSession) -> int:
    # Read once per session: the heap lookup is a py4j reflection chain
    # (~2.5 ms on a 4-core host), too dear for every query boundary.
    heap = int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
    return min(_DEFAULT_BUDGET_CAP, int(heap * _DEFAULT_BUDGET_HEAP_FRACTION))


def _persisted_bytes(spark: SparkSession) -> int:
    """Total bytes (memory + disk) of every persisted RDD in the app —
    driver-local status calls, no job: one for the list, then three py4j
    round trips per persisted RDD (~0.4 ms each on a 4-core host)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def query_boundary() -> None:
    """Unpersist least-recently-used entries, coldest first, until the
    persisted bytes fit the budget — called by
    ``plans.transient.release_transient`` on a full drain, the only
    point the cache is trimmed (see module docstring)."""
    if not _LRU:
        return
    spark = next(reversed(_LRU.values())).sparkSession
    if spark.sparkContext._jsc is None:
        return  # session already stopped — nothing left to free
    budget = _budget_bytes(spark)
    while _LRU and _persisted_bytes(spark) > budget:
        _, victim = _LRU.popitem(last=False)
        try:
            # blocking: the loop re-measures, so the release must have
            # landed before the next comparison.
            victim.unpersist(blocking=True)
        except Exception:
            pass  # entry of a stopped session — nothing left to free


def session_cached(
    fn: Callable[[SparkSession, str], DataFrame] | None = None,
    *,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> Callable[[SparkSession, str], DataFrame]:
    """Memoize-and-persist a ``(spark, sf_dir) -> DataFrame`` builder
    per (applicationId, sf_dir), subject to the module's LRU byte
    budget, trimmed at query boundaries (see module docstring).

    ``level`` selects the storage level: dense vector-payload frames
    that are CONSUMED SEVERAL TIMES INSIDE ONE EXPENSIVE BUILD (the
    embedding pair index's augmented corpus) persist ``DISK_ONLY`` —
    their bytes then live in the OS page cache instead of the JVM
    storage pool, so the build's sort-heavy execution memory does not
    compete with its own input's cache residency and the build cost
    stops depending on how full the heap already is (the sf10
    in-session 2x build-payer premium,
    SF10_SINGLE_SESSION_r11.json residual_decomposition)."""
    if fn is None:
        return lambda f: session_cached(f, level=level)
    qual = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (_app_id(spark.sparkContext), sf_dir, qual)
        if key in _LRU:
            _LRU.move_to_end(key)
        else:
            _LRU[key] = fn(spark, sf_dir).persist(level)
        return _LRU[key]

    return wrapper
