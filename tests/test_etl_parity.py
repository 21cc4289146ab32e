"""A-block ETL-parity queries vs the DuckDB oracle, plus direct unit tests
of the delta engine on hand-built snapshots (the reference's
agency-delta_test.go analogue, but self-checking)."""

import pytest
from pyspark.sql import functions as F

from abr_etl_spark.operators import delta
from abr_etl_spark.plans import etl_parity
from abr_etl_spark.sources import lake, routed_ingest
from tests.conftest import SF_ORACLE, assert_matches_oracle


@pytest.mark.parametrize("key", sorted(etl_parity.QUERIES))
def test_etl_parity_vs_oracle(spark, ddb, key):
    df = etl_parity.QUERIES[key](spark, SF_ORACLE)
    assert_matches_oracle(df, ddb, etl_parity.ORACLES[key], key)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "pid string, a string, b int, importdate string")


def test_delta_classify_known_sets(spark):
    old = _mk(spark, [("k1", "x", 1, "d1"), ("k2", "y", 2, "d1"), ("k3", "z", 3, "d1")])
    new = _mk(
        spark,
        [("k1", "x", 1, "d2"), ("k2", "CHANGED", 2, "d2"), ("k4", "new", 4, "d2")],
    )
    got = {
        r["pid"]: r["change"]
        for r in delta.delta_classify(new, old, "pid").collect()
    }
    assert got == {"k1": "unchanged", "k2": "updated", "k3": "removed", "k4": "added"}


def test_delta_null_transition_detected(spark):
    """NULL -> value is a change for the hash engine (the reference's !=
    chain misses it -- null_unsafe reproduces that for parity)."""
    old = _mk(spark, [("k1", None, 1, "d1")])
    new = _mk(spark, [("k1", "now-set", 1, "d2")])
    assert delta.delta_updated(new, old, "pid").count() == 1
    assert delta.delta_updated(new, old, "pid", null_unsafe=True).count() == 0


def test_null_vs_empty_string_distinct(spark):
    old = _mk(spark, [("k1", None, 1, "d1")])
    new = _mk(spark, [("k1", "", 1, "d2")])
    assert delta.delta_updated(new, old, "pid").count() == 1


def test_scd2_versions(spark):
    rows = [
        ("k1", "v1", 1, "2024-01-01"),
        ("k1", "v1", 1, "2024-01-08"),
        ("k1", "v2", 1, "2024-01-15"),
        ("k2", "w", 9, "2024-01-08"),
    ]
    hist = delta.scd2(_mk(spark, rows), "pid", snapshot_col="importdate")
    k1 = sorted(
        [(r["valid_from"], r["valid_to"], r["is_current"]) for r in hist.where(F.col("pid") == "k1").collect()]
    )
    assert k1 == [("2024-01-01", "2024-01-15", False), ("2024-01-15", None, True)]
    k2 = hist.where(F.col("pid") == "k2").collect()
    assert len(k2) == 1 and k2[0]["is_current"]


def test_routing_single_file():
    assert routed_ingest.match_dataset("VIC190429_ABR_Agency_Data.txt") == (
        "Agency_Data",
        "190429",
    )
    assert routed_ingest.match_dataset("nope.txt") is None


def test_lake_roundtrip_and_partition_discovery(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id").alias("pid"),
        (F.col("id") % 3).alias("payload"),
        F.when(F.col("id") % 2 == 0, F.lit("2024-01-01"))
        .otherwise(F.lit("2024-01-08"))
        .alias("importdate"),
    )
    path = str(tmp_path / "lake")
    lake.write_partitioned(df, path)
    back = lake.read_lake(spark, path)
    assert back.count() == 100
    assert lake.discover_partitions_listing(path) == ["2024-01-01", "2024-01-08"]
    assert lake.newest_previous(path) == ("2024-01-08", "2024-01-01")


def test_newest_previous_requires_two(tmp_path):
    (tmp_path / "importdate=2024-01-01").mkdir()
    with pytest.raises(ValueError, match="Not enough partitions"):
        lake.newest_previous(str(tmp_path))


def test_export_stable_csv(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    out = lake.export_stable_csv(df, str(tmp_path), "Agency_Data_updated.csv")
    text = open(out).read().strip().splitlines()
    assert text[0] == "k,v" and len(text) == 3


def test_ingest_delimited_routes_and_dates(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "VIC190429_ABR_Agency_Data.txt").write_text("pid|abn\np1|123\np2|456\n")
    (drop / "VIC190506_ABR_Agency_Data.txt").write_text("pid|abn\np1|123\n")
    (drop / "VIC190429_ABR_Funds.txt").write_text("pid|x\nzz|1\n")
    df = routed_ingest.ingest_delimited(spark, str(drop), "Agency_Data")
    rows = df.select("pid", "abn", F.col("importdate").cast("string")).collect()
    assert len(rows) == 3
    dates = {str(r["importdate"]) for r in rows}
    assert dates == {"2019-04-29", "2019-05-06"}


def test_ingest_malformed_row_policies(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    drop = tmp_path / "dirty"
    drop.mkdir()
    (drop / "VIC190429_ABR_Funds.txt").write_text(
        "pid|amount\np1|10\np2|not_a_number\np3|30\n"
    )
    schema = StructType(
        [StructField("pid", StringType()), StructField("amount", IntegerType())]
    )
    # PERMISSIVE: bad field nulled, raw line captured
    df = routed_ingest.ingest_delimited(
        spark, str(drop), "Funds", schema=schema, corrupt_col="_corrupt"
    )
    rows = {r["pid"]: (r["amount"], r["_corrupt"]) for r in df.collect()}
    assert rows["p1"] == (10, None)
    assert rows["p2"][0] is None and "not_a_number" in rows["p2"][1]
    # DROPMALFORMED: bad row gone
    df2 = routed_ingest.ingest_delimited(
        spark, str(drop), "Funds", schema=schema, mode="DROPMALFORMED"
    )
    assert {r["pid"] for r in df2.collect()} == {"p1", "p3"}


def test_scd2_pit_equals_latest_snapshot_at_date(spark):
    """The PIT lookup must equal the latest snapshot at-or-before the
    probe date per key, derived WITHOUT SCD2 -- the identity that makes
    type-2 history trustworthy."""
    from pyspark.sql import functions as F

    from abr_etl_spark.plans.etl_parity import (
        PIT_DATE,
        _snapshot_series,
        q_scd2_point_in_time,
    )
    from tests.conftest import SF_ORACLE

    got = {
        (r["o_orderkey"], r["totalprice"])
        for r in q_scd2_point_in_time(spark, SF_ORACLE).collect()
    }
    series = _snapshot_series(spark, SF_ORACLE)
    latest = (
        series.where(F.col("importdate") <= PIT_DATE)
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("o_orderkey")
                .orderBy(F.col("importdate").desc())
            ),
        )
        .where(F.col("rn") == 1)
    )
    want = {
        (r["o_orderkey"], r["totalprice"]) for r in latest.collect()
    }
    assert got == want


def test_delta_changed_columns_only_totalprice_moves(spark):
    """The synthetic drift touches ONLY o_totalprice (keys % 3 == 0);
    every other column census must be zero and n_changed_rows must
    equal the %3 count of the common keys."""
    from abr_etl_spark.plans import etl_parity as ep
    from tests.conftest import SF_SMOKE

    r = ep.q_delta_changed_columns(spark, SF_SMOKE).collect()[0]
    assert r.chg_custkey == r.chg_orderstatus == 0
    assert r.chg_orderdate == r.chg_orderpriority == 0
    assert r.chg_totalprice == r.n_changed_rows > 0
    new, old = ep._snapshots(spark, SF_SMOKE)
    common_pct3 = (
        new.join(old.select("o_orderkey"), "o_orderkey")
        .where(F.col("o_orderkey") % 3 == 0)
        .count()
    )
    assert r.n_changed_rows == common_pct3
