"""SparkSession factory tuned for the engine.

Defaults match a local[N] dev box but every knob scales: AQE owns runtime
re-planning (coalesce, skew-join) so the same plans survive a 1000-executor
cluster; shuffle partitions come from the environment so a cluster deploy
sets them to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "abr-etl-spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local parallelism) and
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                str(os.cpu_count() or 8),
            )
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching -- the scale path for skewed keys.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas interchange (multimodal mapInPandas path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Timestamps in parquet are instants; keep session TZ fixed so
        # results are reproducible against the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) isn't a Spark type; read as long and
        # convert at the source (sources/lake.py) -- truncation to micros
        # matches what micro-precision engines (DuckDB, Trino) do.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate synthesizes `size(arr)>0 AND
        # isnotnull(arr)` below every explode; PushDownPredicate then
        # drives that filter through the projections to the scan, where
        # it RE-EVALUATES the array-producing expression (tokenize +
        # shingle-hash here) once in the filter and again in the
        # project -- the guide's duplicated-expensive-expression
        # pathology (opt guide 4.4), measured 4x on the shingle-census
        # shape at sf0.1 (`tools/plan_dump.py doc_idf_profile` without
        # this exclusion: Filter(2) carries the full xxhash64 shingle
        # expression). Generate drops empty arrays at runtime
        # regardless, so excluding the rule is result-neutral; arrays
        # in this engine are computed per row, so the inferred filter
        # never prunes anything an upstream filter didn't already. CAVEAT (r16 ADVICE): the argument covers
        # COMPUTED arrays only -- if a future plan explodes a STORED
        # array column, the lost inferred isnotnull/size filter can no
        # longer prune that scan or its join inputs; re-evaluate the
        # exclusion for such a key.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Tungsten page size. Spark sizes it from the heap (64 MB at an
        # 8g driver), and a broadcast hash relation on a string key
        # holds at least one page however few rows it has, on the heap
        # until the context cleaner drops the broadcast after a GC.
        # run_weekly's persisted delta frames keep their broadcasts
        # alive long enough to reach the old generation, so at 64 MB
        # pages ~330 MB of dead relations outlived a run; 1 MB (Spark's
        # own floor) bounds that at a few MB.
        .config("spark.buffer.pageSize", "1m")
        # Codegen cache (JVM-wide, fixed when the first class compiles).
        # Spark keeps 100 generated classes; one bench.py headliner pass
        # at sf0.1 generates 2754 distinct ones, so at 100 it compiled
        # 4412 times (each new class is also compiled again by the JIT),
        # and even the 5-key perfbench catalog pass recompiled a third
        # of its ~100 classes on every repeat. 4096 holds the whole
        # pass with ~50% headroom. Measured cost of holding that pass:
        # +59 MB live heap and +20 MB metaspace (2754 vs 100 entries,
        # ~22 KB heap each); the cap bounds it at ~90 MB of heap.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
