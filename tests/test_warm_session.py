"""A warm session redoes no work: a repeated catalog pass compiles no
generated class again (the codegen cache holds the working set), and
reading a parquet table learns its schema from the footers on the
driver instead of in a Spark job."""

import uuid

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from abr_etl_spark.functions.cache import release_result_caches
from abr_etl_spark.sources import lake
from tests.conftest import SF_SMOKE, group_jobs, job_group

#: the catalog keys perfbench's catalog_mix workload times
CATALOG_MIX = (
    "q3_shipping_priority",
    "association_rules",
    "rule_conviction",
    "doc_idf_profile",
    "doc_boilerplate_simpson",
)


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one per generated class the
    codegen cache did not hold)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_catalog_pass_compiles_no_new_class(spark):
    """A second pass of the catalog_mix keys, from released result
    caches, finds every generated class in the codegen cache. With
    Spark's default of 100 entries the pass evicts its own classes and
    recompiles some of them."""
    qs = entry.queries()

    def catalog_pass():
        release_result_caches()
        for key in CATALOG_MIX:
            qs[key](spark, SF_SMOKE).count()

    catalog_pass()
    before = _compiles(spark)
    catalog_pass()
    assert _compiles(spark) - before == 0


def _jobs_of(spark, fn):
    group = f"warm-{uuid.uuid4().hex}"
    with job_group(spark, group):
        out = fn()
    return out, group_jobs(spark, group)


def test_load_table_launches_no_job(spark):
    frames, jobs = _jobs_of(
        spark, lambda: [lake.load_table(spark, SF_SMOKE, t) for t in lake.TPCH_TABLES]
    )
    assert jobs == 0
    assert all(df.columns for df in frames)


def test_parquet_schema_equals_sparks_inference(spark):
    """Nanosecond timestamps (events, read as longs under nanosAsLong)
    and decimals and dates (lineitem) convert exactly as Spark's own
    inference converts them."""
    lake.load_table(spark, SF_SMOKE, "events")  # sets nanosAsLong
    for t in ("events", "lineitem"):
        f = f"{SF_SMOKE}/{t}.parquet"
        assert lake.parquet_schema(spark, [f]) == spark.read.parquet(f).schema


def _evolving_lake(spark, table):
    """Three snapshots; the last one adds a column."""
    for cols, rows in (
        ("pid string, abn string", [("p1", "a", "2019-04-22"), ("p2", "b", "2019-04-29")]),
        ("pid string, abn string, acn string", [("p1", "a", "x", "2019-05-06")]),
    ):
        df = spark.createDataFrame(rows, f"{cols}, importdate string")
        lake.write_partitioned(df.withColumn("importdate", F.to_date("importdate")), table)


def test_read_lake_launches_no_job_and_merges_like_spark(spark, tmp_path):
    table = str(tmp_path / "lake")
    _evolving_lake(spark, table)
    df, jobs = _jobs_of(spark, lambda: lake.read_lake(spark, table))
    assert jobs == 0
    assert df.schema == spark.read.option("mergeSchema", "true").parquet(table).schema
    assert df.where(F.col("importdate") == "2019-04-22").first()["acn"] is None
    two, jobs = _jobs_of(
        spark, lambda: lake.read_lake(spark, table, ["2019-05-06", "2019-04-29"])
    )
    assert jobs == 0
    assert sorted(str(r[0]) for r in two.select("importdate").collect()) == [
        "2019-04-29",
        "2019-05-06",
    ]
    # a URI is not walked on the driver; Spark's mergeSchema read still
    # surfaces the column only the newest partition holds
    assert lake.read_lake(spark, f"file://{table}").schema == df.schema


def test_parquet_schema_refuses_a_type_conflict(spark, tmp_path):
    table = str(tmp_path / "lake")
    spark.createDataFrame([(1, "2019-04-22")], "pid int, importdate string").write.partitionBy(
        "importdate"
    ).parquet(table)
    spark.createDataFrame([("a", "2019-04-29")], "pid string, importdate string").write.mode(
        "append"
    ).partitionBy("importdate").parquet(table)
    with pytest.raises(ValueError, match="importdate=2019-04-29.*INCOMPATIBLE"):
        lake.read_lake(spark, table)


def test_bucketed_reregister_and_stream_open_launch_no_schema_job(spark, tmp_path):
    """Re-registering a bucketed table over its files and opening the
    event stream learn the schema from the footers: no Spark job, and
    the schema Spark's inference gives, the nanosecond ``ts`` included."""
    import shutil

    from abr_etl_spark.functions.event_time import normalize_event_time
    from abr_etl_spark.operators import joins
    from abr_etl_spark.streaming import stream_ops

    lake.load_table(spark, SF_SMOKE, "events")  # sets nanosAsLong
    events = f"{SF_SMOKE}/events.parquet"

    path, table = str(tmp_path / "bkt"), f"bkt_warm_{uuid.uuid4().hex[:8]}"

    def register():
        joins.ensure_bucketed_table(
            spark, lambda: spark.read.parquet(events), table, "event_id", path,
            buckets=2,
        )

    register()
    spark.sql(f"DROP TABLE {table}")
    _, jobs = _jobs_of(spark, register)
    assert jobs == 0
    assert spark.table(table).schema == spark.read.parquet(path).schema
    spark.sql(f"DROP TABLE {table}")

    drops = tmp_path / "drops"
    drops.mkdir()
    for i in range(2):
        shutil.copy(events, drops / f"part-{i}.parquet")
    stream, jobs = _jobs_of(spark, lambda: stream_ops.read_event_stream(spark, str(drops)))
    assert jobs == 0
    inferred = spark.read.parquet(str(drops)).schema
    assert lake.parquet_schema(spark, [str(drops)]) == inferred
    assert stream.schema == normalize_event_time(spark.read.parquet(str(drops)), "ts").schema
