"""Property-based tests of the CDC delta engine (hypothesis): the
algebraic laws that must hold for ANY pair of snapshots."""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from abr_etl_spark import pipeline
from abr_etl_spark.operators import delta

KEYS = st.integers(min_value=0, max_value=15)
VALS = st.one_of(st.none(), st.text(alphabet="abcxyz ", max_size=6))
SNAPSHOT = st.dictionaries(KEYS, VALS, max_size=12)

_set = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _df(spark, snap: dict, date: str):
    rows = [(str(k), v, date) for k, v in snap.items()]
    return spark.createDataFrame(
        rows or [("__none__", None, date)],
        "pid string, v string, importdate string",
    ).where(F.col("pid") != "__none__")


@pytest.mark.slow
@_set
@given(new=SNAPSHOT, old=SNAPSHOT)
def test_classify_partitions_key_space(spark, new, old):
    """added/removed/updated/unchanged partition exactly the key union."""
    n, o = _df(spark, new, "d2"), _df(spark, old, "d1")
    got = {
        r["pid"]: r["change"] for r in delta.delta_classify(n, o, "pid").collect()
    }
    assert set(got) == {str(k) for k in set(new) | set(old)}
    for k in set(new) | set(old):
        want = (
            "added"
            if k not in old
            else "removed"
            if k not in new
            else "unchanged"
            if new[k] == old[k]
            else "updated"
        )
        assert got[str(k)] == want, (k, new.get(k), old.get(k))


@pytest.mark.slow
@_set
@given(snap=SNAPSHOT)
def test_self_delta_is_all_unchanged(spark, snap):
    n = _df(spark, snap, "d2")
    o = _df(spark, snap, "d1")
    classified = delta.delta_classify(n, o, "pid")
    assert (
        classified.where(F.col("change") != "unchanged").count() == 0
    )
    assert delta.delta_updated(n, o, "pid").count() == 0


@pytest.mark.slow
@_set
@given(new=SNAPSHOT, old=SNAPSHOT)
def test_added_removed_are_symmetric(spark, new, old):
    n, o = _df(spark, new, "d2"), _df(spark, old, "d1")
    added = {r["pid"] for r in delta.delta_added(n, o, "pid").collect()}
    removed_rev = {r["pid"] for r in delta.delta_removed(o, n, "pid").collect()}
    assert added == removed_rev


@pytest.mark.slow
@_set
@given(new=SNAPSHOT, old=SNAPSHOT)
def test_weekly_cdc_matches_separate_deltas(spark, new, old):
    """run_weekly's one-join CDC (pipeline._weekly_cdc) derives
    row-identical updated / added / upsert / removed-key sets to the
    separate delta_* join formulations."""
    n, o = _df(spark, new, "d2"), _df(spark, old, "d1")
    updated, added, ups, removed = pipeline._weekly_cdc(n, o, "pid")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(updated) == rows(delta.delta_updated(n, o, "pid"))
    assert rows(added) == rows(delta.delta_added(n, o, "pid"))
    assert rows(ups) == rows(
        delta.delta_updated(n, o, "pid")
        .unionByName(delta.delta_added(n, o, "pid"))
        .select("pid", "v")
    )
    assert rows(removed) == rows(delta.delta_removed(n, o, "pid").select("pid"))
