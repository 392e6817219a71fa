"""Session-cache byte budget: the cache is trimmed at one point, the
per-query boundary (a full ``release_transient`` drain), where the
least-recently-used entries are unpersisted until the persisted bytes
fit the budget. Between boundaries nothing is evicted, so an index
chain under construction keeps its parents, and a hit is a dict
lookup with no JVM call. An evicted entry transparently rebuilds on
the next request."""

from __future__ import annotations

import pytest

from map_reduce_spark.sources import cache


def _make_builders(spark, n, calls):
    builders = []
    for i in range(n):
        def mk(i=i):
            def build(spark, sf_dir, _i=i):
                calls[_i] = calls.get(_i, 0) + 1
                return spark.range(1000).selectExpr("id", f"id * {_i + 2} AS x")

            # distinct qualname BEFORE decoration — it is the cache key
            build.__qualname__ = f"budget_probe_{i}"
            return cache.session_cached(build)

        builders.append(mk())
    return builders


def _live(prefix):
    return [k for k in cache._LRU if k[1] == prefix]


def _drop_probes(prefix):
    for key in _live(prefix):
        cache._LRU.pop(key).unpersist()


@pytest.fixture
def tiny_budget(monkeypatch):
    monkeypatch.setattr(cache, "_budget_bytes", lambda spark: 1)


def test_no_trim_mid_query(spark, tiny_budget):
    """A 6-deep chain with no boundary between its builds stays
    resident even 1 byte over budget, and each link builds once."""
    calls: dict[int, int] = {}
    builders = _make_builders(spark, 6, calls)
    try:
        for b in builders:
            assert b(spark, "/bud1").count() == 1000
        for b in builders:
            assert b(spark, "/bud1").count() == 1000
        assert len(_live("/bud1")) == 6
        assert calls == {i: 1 for i in range(6)}
    finally:
        _drop_probes("/bud1")


def test_boundary_trims_to_budget_and_rebuilds(spark, tiny_budget):
    from map_reduce_spark.plans.transient import release_transient

    calls: dict[int, int] = {}
    builders = _make_builders(spark, 6, calls)
    try:
        for b in builders:
            b(spark, "/bud2").count()
        release_transient()  # query boundary: trim to the 1-byte budget
        assert _live("/bud2") == []
        # an evicted entry rebuilds on demand — correctness unaffected
        assert builders[0](spark, "/bud2").count() == 1000
        assert calls[0] == 2
    finally:
        _drop_probes("/bud2")


def test_partial_drain_does_not_trim(spark, tiny_budget):
    """A nested ``transient_scope`` exit (mark > 0) can sit between an
    outer caller's build and materialize, so it is not a boundary."""
    from map_reduce_spark.plans.transient import transient_persist, transient_scope

    calls: dict[int, int] = {}
    builders = _make_builders(spark, 3, calls)
    try:
        transient_persist(spark.range(10))  # the outer caller's enrollment
        with transient_scope():
            for b in builders:
                b(spark, "/bud3").count()
        assert len(_live("/bud3")) == 3
    finally:
        _drop_probes("/bud3")


def test_hits_make_no_storage_or_jvm_call(spark, tiny_budget, monkeypatch):
    calls: dict[int, int] = {}
    (build,) = _make_builders(spark, 1, calls)
    try:
        first = build(spark, "/bud4")
        storage_calls = []
        real_persisted = cache._persisted_bytes
        monkeypatch.setattr(
            cache, "_persisted_bytes", lambda s: storage_calls.append(1) or real_persisted(s)
        )
        client = spark.sparkContext._gateway._gateway_client
        jvm_calls = []
        real_send = client.send_command
        monkeypatch.setattr(
            client, "send_command", lambda *a, **k: jvm_calls.append(a) or real_send(*a, **k)
        )
        for _ in range(10):
            assert build(spark, "/bud4") is first
        assert storage_calls == [] and jvm_calls == []
        assert calls[0] == 1
    finally:
        _drop_probes("/bud4")


def test_generous_budget_keeps_entries_resident(spark, monkeypatch):
    from map_reduce_spark.plans.transient import release_transient

    monkeypatch.setattr(cache, "_budget_bytes", lambda spark: 8 << 30)
    calls: dict[int, int] = {}
    (build,) = _make_builders(spark, 1, calls)
    try:
        build(spark, "/bud5").count()
        release_transient()
        build(spark, "/bud5").count()
        assert calls[0] == 1  # memoized, no rebuild under budget
    finally:
        _drop_probes("/bud5")
