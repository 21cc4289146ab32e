"""Skew/bucketing utilities: correctness vs plain operators and the
no-exchange guarantee for bucketed joins."""

from pyspark.sql import functions as F

from abr_etl_spark.operators import joins
from abr_etl_spark.sources.lake import load_table
from tests.conftest import SF_ORACLE


def test_salted_join_matches_plain(spark):
    o = load_table(spark, SF_ORACLE, "orders")
    n = load_table(spark, SF_ORACLE, "customer").select("c_custkey", "c_mktsegment")
    plain = (
        o.join(n, o.o_custkey == n.c_custkey)
        .groupBy("c_mktsegment")
        .count()
    )
    salted = (
        joins.salted_join(
            o.withColumnRenamed("o_custkey", "c_custkey"), n, "c_custkey"
        )
        .groupBy("c_mktsegment")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    spark.catalog.setCurrentDatabase("bktest")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    import shutil

    shutil.rmtree("spark-warehouse/bktest.db", ignore_errors=True)
    o = load_table(spark, SF_ORACLE, "orders").limit(2000)
    l = load_table(spark, SF_ORACLE, "lineitem").limit(5000).withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    joins.write_bucketed(o, "orders_b", "o_orderkey", buckets=4)
    joins.write_bucketed(l, "lineitem_b", "o_orderkey", buckets=4)
    # disable broadcast so the planner exercises the bucketed path (at
    # real scale both sides exceed the broadcast threshold anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = joins.bucketed_join(
            spark, "orders_b", "lineitem_b", "o_orderkey"
        )
        joined.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.catalog.setCurrentDatabase("default")


def test_aqe_splits_skewed_join(spark):
    """One pathological hot key: AQE's skew-join split must kick in at
    runtime (OptimizeSkewedJoin rewrites the sort-merge join) and the
    result must equal the unskewed ground truth."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        left = spark.range(200_000).select(
            # 95% of rows share key 0; the rest spread over 1k keys
            F.when(F.col("id") % 20 != 0, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        joined = left.join(right, "k")
        q = joined.agg(
            F.count("*").alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
        )
        # collect() (not first(): that executes a separate limit plan)
        # so q's OWN query execution finalizes under AQE
        got = q.collect()[0]
        # every k in [0, 1000) exists on the right -> all rows join
        assert got["n"] == 200_000
        # the FINAL adaptive plan (after execution) must show the skew split
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        spark.conf.unset(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        )
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_ensure_bucketed_table_lifecycle(spark, tmp_path):
    """ensure_bucketed_table: builds once, reuses the catalog entry, and
    re-registers over existing bucketed files with one DDL after the
    (in-memory) catalog forgets them -- never rewrites the data."""
    import os

    calls = []

    def build():
        calls.append(1)
        return load_table(spark, SF_ORACLE, "orders").select(
            "o_orderkey", "o_orderpriority"
        ).limit(100)

    path = str(tmp_path / "bkt_t")
    spark.sql("DROP TABLE IF EXISTS bkt_lifecycle_t")
    joins.ensure_bucketed_table(
        spark, build, "bkt_lifecycle_t", "o_orderkey", path, buckets=4
    )
    assert calls == [1] and os.path.exists(f"{path}/_SUCCESS")
    mtimes = sorted(
        os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    )
    # second call: catalog hit, no rebuild
    joins.ensure_bucketed_table(
        spark, build, "bkt_lifecycle_t", "o_orderkey", path, buckets=4
    )
    assert calls == [1]
    # simulate a fresh session: drop the catalog entry, keep the files
    spark.sql("DROP TABLE bkt_lifecycle_t")
    joins.ensure_bucketed_table(
        spark, build, "bkt_lifecycle_t", "o_orderkey", path, buckets=4
    )
    assert calls == [1], "re-register must not rebuild the DataFrame"
    assert sorted(
        os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    ) == mtimes, "files must be untouched"
    # and the re-registered table still scans bucketed: an agg on the
    # bucket key needs no exchange (bare scans don't engage bucketing)
    agg = spark.table("bkt_lifecycle_t").groupBy("o_orderkey").count()
    agg.count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    spark.sql("DROP TABLE bkt_lifecycle_t")


def test_ensure_bucketed_table_validates_spec(spark, tmp_path):
    """The re-register path must refuse to declare a bucket spec that
    disagrees with the on-disk _BUCKET_SPEC marker (silently wrong joins
    otherwise), and must rebuild -- not trust -- a legacy directory that
    has data but no marker."""
    import json
    import os

    import pytest as _pytest

    calls = []

    def build():
        calls.append(1)
        return load_table(spark, SF_ORACLE, "orders").select(
            "o_orderkey", "o_orderpriority"
        ).limit(50)

    path = str(tmp_path / "bkt_v")
    spark.sql("DROP TABLE IF EXISTS bkt_spec_t")
    joins.ensure_bucketed_table(
        spark, build, "bkt_spec_t", "o_orderkey", path, buckets=4
    )
    assert json.load(open(f"{path}/_BUCKET_SPEC.json")) == {
        "buckets": 4,
        "key": "o_orderkey",
        "sorted": True,
    }
    spark.sql("DROP TABLE bkt_spec_t")
    # wrong bucket count -> refuse
    with _pytest.raises(ValueError, match="bucket spec mismatch"):
        joins.ensure_bucketed_table(
            spark, build, "bkt_spec_t", "o_orderkey", path, buckets=8
        )
    # wrong key -> refuse
    with _pytest.raises(ValueError, match="bucket spec mismatch"):
        joins.ensure_bucketed_table(
            spark, build, "bkt_spec_t", "o_orderpriority", path, buckets=4
        )
    assert calls == [1] and not spark.catalog.tableExists("bkt_spec_t")
    # matching spec still re-registers without a rebuild
    joins.ensure_bucketed_table(
        spark, build, "bkt_spec_t", "o_orderkey", path, buckets=4
    )
    assert calls == [1]
    spark.sql("DROP TABLE bkt_spec_t")
    # legacy dir (no marker): rebuilt once, acquiring the marker
    os.remove(f"{path}/_BUCKET_SPEC.json")
    joins.ensure_bucketed_table(
        spark, build, "bkt_spec_t", "o_orderkey", path, buckets=4
    )
    assert calls == [1, 1], "unverifiable legacy layout must rebuild"
    assert os.path.exists(f"{path}/_BUCKET_SPEC.json")
    spark.sql("DROP TABLE bkt_spec_t")


def test_aqe_skew_join_engages_and_is_value_neutral(spark):
    """The third leg of the skew story (beside hot_keys_report
    diagnosis and salted_join): prove Spark's AQE skew-join actually
    splits a skewed partition -- SortMergeJoin(skew=true) in the final
    adaptive plan -- and that results equal the plain join. Uses a
    derived session so the aggressive thresholds never leak into the
    shared fixture."""
    from pyspark.sql import functions as F

    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
    s.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
    )
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    left = s.range(300_000).select(
        F.when(F.col("id") < 200_000, 0)
        .otherwise((F.col("id") % 500) + 1)
        .alias("k"),
        F.col("id").alias("v"),
        F.lpad(F.lit("x"), 40, "x").alias("pad"),
    )
    right = s.range(501).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    j = left.join(right, "k").groupBy().agg(
        F.count("*").alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
    )
    got = j.collect()[0]
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan
    # value-neutral vs the shared session's plain join
    want = (
        left.join(right, "k")
        .groupBy()
        .agg(F.count("*").alias("n"), F.sum(F.col("v") + F.col("w")).alias("s"))
        .collect()[0]
    )
    assert (got.n, got.s) == (want.n, want.s)
