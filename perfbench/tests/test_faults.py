"""Self-tests on a real session: a fault injected into the program's
outputs must be counted as a failed operation."""

from __future__ import annotations

import os

import pytest

from perfbench import run
from perfbench.catalog import CatalogWorkload
from perfbench.weekly import WeeklySpec, WeeklyWorkload

TINY = WeeklySpec(rows=300, changes=(15, 3, 3))


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from abr_etl_spark.session import get_spark

    s = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


def _measure(spark, workload, tmp_path):
    ctx = run.Ctx(spark, str(tmp_path), seed=5, seconds=0, trace=False, kind=workload.kind)
    return run.measure(workload, ctx, session_s=0.0)


def test_weekly_round_is_correct(spark, tmp_path):
    out = _measure(spark, WeeklyWorkload(TINY), tmp_path)
    assert out["attempted"] == 2 and out["failed"] == 0, out["problems"]


def test_row_missing_from_an_export_is_a_failure(spark, tmp_path, monkeypatch):
    from abr_etl_spark.sources import lake

    orig = lake.export_stable_csv

    def lossy(df, directory, filename):
        path = orig(df, directory, filename)
        with open(path) as fh:
            lines = fh.readlines()
        with open(path, "w") as fh:
            fh.writelines(lines[:-1])
        return path

    monkeypatch.setattr(lake, "export_stable_csv", lossy)
    out = _measure(spark, WeeklyWorkload(TINY), tmp_path)
    # the new week fails; the replay's export repeats every row (the
    # replay lands the week twice), so one lost line loses no pid there
    assert (out["attempted"], out["failed"]) == (2, 1)
    assert all("exported" in p for p in out["problems"])


def test_perturbed_catalog_digest_is_a_failure(spark, tmp_path, monkeypatch):
    import __spark_entry__ as entry

    keys = ("q3_shipping_priority", "sessionize")
    good = _measure(spark, CatalogWorkload(keys, scale=0.05), tmp_path / "good")
    assert good["failed"] == 0, good["problems"]

    qs = entry.queries()
    q3 = qs["q3_shipping_priority"]
    qs["q3_shipping_priority"] = lambda s, d: q3(s, d).limit(1)
    monkeypatch.setattr(entry, "queries", lambda: qs)
    bad = _measure(spark, CatalogWorkload(keys, scale=0.05), tmp_path / "bad")
    assert bad["failed"] == 1
    assert "q3_shipping_priority: digest differs" in bad["problems"][0]


def test_digest_tolerates_only_cent_rounding_of_double_sums():
    from perfbench.catalog import MOD, _same

    want = {"d_count": 10, "d_rev_summod": 0, "d_qty_summod": 7}
    inexact = {"d_rev_summod"}
    assert _same({**want, "d_rev_summod": MOD - 1}, want, inexact)  # one cent, wrapped
    assert not _same({**want, "d_rev_summod": 2}, want, inexact)
    assert not _same({**want, "d_qty_summod": 8}, want, inexact)
