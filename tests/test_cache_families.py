"""Each queries() key declares, in its plan module's CACHE_FAMILIES,
exactly the result-cache families its build touches, so bench.py's
release schedule (derived from the declarations) frees every family
after its last consumer and never before."""

import pytest

from tests.conftest import SF_SMOKE


@pytest.mark.slow
def test_every_key_declares_exactly_the_families_it_touches(spark, monkeypatch):
    """Build every key at sf0.001 with the cache observer on. A family
    a key touched but did not declare fails (bench.py would release it
    too early or never), and so does a declared family that the key's
    build did not touch (the list cannot rot in either direction).
    Keys build one at a time, each from an empty session memo: a key
    that found a memoized value another key built would skip the
    families that build registered, so its touches would depend on
    the order the keys ran in."""
    import __spark_entry__ as entry
    from abr_etl_spark.functions import cache

    touched: dict[str, set[str]] = {}
    current = [None]

    def observe(family, already_cached, eager):
        touched.setdefault(current[0], set()).add(family)

    cache.set_cache_observer(observe)
    try:
        for key, fn in entry.queries().items():
            current[0] = key
            monkeypatch.setattr(cache, "_SESSION_MEMO", {})
            fn(spark, SF_SMOKE)
    finally:
        cache.set_cache_observer(None)
        cache.release_result_caches()
    declared = {k: set(f) for k, f in entry.cache_families().items()}
    undeclared = {
        k: sorted(f - declared.get(k, set()))
        for k, f in touched.items()
        if f - declared.get(k, set())
    }
    stale = {
        k: sorted(f - touched.get(k, set()))
        for k, f in declared.items()
        if f - touched.get(k, set())
    }
    assert not undeclared, f"families touched but not in CACHE_FAMILIES: {undeclared}"
    assert not stale, f"CACHE_FAMILIES entries no build touched: {stale}"
