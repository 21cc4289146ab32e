"""End-to-end reference workflow on a real partitioned lake:
ingest routed drops -> partitioned write -> partition discovery ->
single-scan delta -> stable CSV export. This is the full abr-etl.go main()
data path (minus SFTP/S3 transport) on Spark.

Also asserts the scale contracts: partition pruning reaches the scan and
the single-scan delta plans exactly one shuffle."""

import pytest
from pyspark.sql import functions as F

from abr_etl_spark.operators import delta
from abr_etl_spark.sources import lake, routed_ingest


@pytest.fixture(scope="module")
def lake_path(spark, tmp_path_factory):
    """Two weekly Agency_Data drops written as importdate partitions."""
    tmp = tmp_path_factory.mktemp("abr")
    drop = tmp / "drop"
    drop.mkdir()
    week1 = ["pid|abn|org_nm"] + [
        f"p{i}|{1000 + i}|Org {i}" for i in range(100)
    ]
    # week2: p0..p89 kept (p10..p19 changed), p90+ removed, q* added
    week2 = ["pid|abn|org_nm"]
    for i in range(90):
        abn = 1000 + i if i >= 20 or i < 10 else 9999
        week2.append(f"p{i}|{abn}|Org {i}")
    week2 += [f"q{i}|{2000 + i}|New {i}" for i in range(5)]
    (drop / "VIC190422_ABR_Agency_Data.txt").write_text("\n".join(week1) + "\n")
    (drop / "VIC190429_ABR_Agency_Data.txt").write_text("\n".join(week2) + "\n")

    df = routed_ingest.ingest_delimited(spark, str(drop), "Agency_Data")
    path = str(tmp / "lake" / "Agency_Data")
    lake.write_partitioned(df, path)
    return path


def test_partition_discovery(lake_path):
    assert lake.newest_previous(lake_path) == ("2019-04-29", "2019-04-22")


def test_partition_pruning_reaches_scan(spark, lake_path):
    table = lake.read_lake(spark, lake_path)
    new_df, _ = delta.snapshot_pair(
        table, "pid", newest="2019-04-29", previous="2019-04-22"
    )
    plan = new_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "importdate" in plan


def test_single_scan_delta_counts(spark, lake_path):
    table = lake.read_lake(spark, lake_path)
    newest, previous = lake.newest_previous(lake_path)
    classified = delta.delta_from_lake(
        table, "pid", newest=newest, previous=previous
    )
    by = classified.groupBy("change").count().collect()
    got = {r["change"]: r["count"] for r in by}
    assert got == {"added": 5, "removed": 10, "updated": 10, "unchanged": 80}


def test_single_scan_delta_one_shuffle(spark, lake_path):
    table = lake.read_lake(spark, lake_path)
    classified = delta.delta_from_lake(
        table, "pid", newest="2019-04-29", previous="2019-04-22"
    )
    plan = classified._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_two_scan_delta_agrees_with_single_scan(spark, lake_path):
    table = lake.read_lake(spark, lake_path)
    new_df, old_df = delta.snapshot_pair(
        table, "pid", newest="2019-04-29", previous="2019-04-22"
    )
    two = {
        (r["pid"], r["change"])
        for r in delta.delta_classify(
            new_df, old_df, "pid", exclude=("importdate",)
        ).collect()
    }
    one = {
        (r["pid"], r["change"])
        for r in delta.delta_from_lake(
            table, "pid", newest="2019-04-29", previous="2019-04-22"
        ).collect()
    }
    assert one == two


def test_full_reference_flow_export(spark, lake_path, tmp_path):
    """updated + added rows exported under the reference's stable names
    (DELTA/{UPDATED,ADDED}/... , agency-delta.go:35-41)."""
    table = lake.read_lake(spark, lake_path)
    newest, previous = lake.newest_previous(lake_path)
    new_df, old_df = delta.snapshot_pair(
        table, "pid", newest=newest, previous=previous
    )
    updated = delta.delta_updated(new_df, old_df, "pid")
    added = delta.delta_added(new_df, old_df, "pid")
    out_u = lake.export_stable_csv(
        updated, str(tmp_path), "Agency_Data_updated.csv"
    )
    out_a = lake.export_stable_csv(added, str(tmp_path), "Agency_Data_added.csv")
    n_updated = len(open(out_u).read().strip().splitlines()) - 1
    n_added = len(open(out_a).read().strip().splitlines()) - 1
    assert (n_updated, n_added) == (10, 5)


def test_schema_evolution_mergeschema(spark, tmp_path):
    """A lake partition written BEFORE a column existed must read back
    null-filled under the merged schema -- the schema-evolution
    contract every long-lived lake needs (lake.read_parquet merges the
    footers' schemas on the driver)."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.parquet(f"{path}/batch=1")
    spark.createDataFrame(
        [(3, "c", 9.5)], "id long, name string, score double"
    ).write.parquet(f"{path}/batch=2")
    back = lake.read_parquet(spark, path)
    assert set(back.columns) == {"id", "name", "score", "batch"}
    assert back.count() == 3
    assert back.where(F.col("score").isNull()).count() == 2
    assert back.where((F.col("id") == 3) & (F.col("score") == 9.5)).count() == 1


def test_discover_partitions_listing_matches_scan(spark, lake_path):
    """Directory-listing discovery must agree with the partition values
    a scan of the lake reads, and run zero Spark jobs."""
    from abr_etl_spark.sources import lake as lk

    rows = lk.read_lake(spark, lake_path).select("importdate").distinct()
    via_scan = sorted(str(r[0]) for r in rows.collect())
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    via_listing = lk.discover_partitions_listing(lake_path)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert via_listing == via_scan and len(via_listing) >= 2
    assert list(before) == list(after), "listing ran a Spark job"
    assert lk.newest_previous(lake_path) == tuple(via_scan[::-1][:2])


def test_discover_partitions_listing_percent_decoding(tmp_path):
    from abr_etl_spark.sources import lake as lk

    (tmp_path / "importdate=2019-04-22").mkdir()
    (tmp_path / "importdate=a%20b").mkdir()
    (tmp_path / "_SUCCESS").write_text("")
    (tmp_path / "other=1").mkdir()
    assert lk.discover_partitions_listing(str(tmp_path)) == [
        "2019-04-22",
        "a b",
    ]


def test_partition_ddl_statements(lake_path):
    """The DDL emitter produces one resumable statement per discovered
    partition, escaped and optionally location-pinned."""
    parts = lake.discover_partitions_listing(lake_path)
    stmts = lake.partition_ddl("abr.agency_data", parts)
    assert stmts == [
        "ALTER TABLE abr.agency_data ADD IF NOT EXISTS "
        "PARTITION (importdate='2019-04-22')",
        "ALTER TABLE abr.agency_data ADD IF NOT EXISTS "
        "PARTITION (importdate='2019-04-29')",
    ]
    with_loc = lake.partition_ddl(
        "t", ["it's"], table_root="s3://b/root/"
    )
    assert with_loc == [
        "ALTER TABLE t ADD IF NOT EXISTS PARTITION "
        "(importdate='it''s') LOCATION 's3://b/root/importdate=it%27s'"
    ]


def test_register_partitions_in_session_catalog(spark, lake_path):
    """register_partitions is the engine-side MSCK REPAIR: an external
    partitioned table starts with an empty partition list, the emitter
    registers every on-disk partition, SHOW PARTITIONS sees them, and
    the registered table scans the data. Idempotent on re-run."""
    spark.sql("DROP TABLE IF EXISTS agency_ext")
    spark.sql(
        "CREATE TABLE agency_ext (pid STRING, abn STRING, org_nm STRING)"
        " USING parquet PARTITIONED BY (importdate STRING)"
        f" LOCATION '{lake_path}'"
    )
    try:
        assert spark.sql("SHOW PARTITIONS agency_ext").count() == 0
        n = lake.register_partitions(spark, "agency_ext", lake_path)
        assert n == 2
        got = sorted(
            r[0] for r in spark.sql("SHOW PARTITIONS agency_ext").collect()
        )
        assert got == [
            "importdate=2019-04-22",
            "importdate=2019-04-29",
        ]
        assert spark.table("agency_ext").count() > 0
        # idempotent: IF NOT EXISTS makes the re-run a no-op
        assert lake.register_partitions(spark, "agency_ext", lake_path) == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS agency_ext")
