"""Data-lake readers/writers.

Re-expresses the reference's lake layout (load.go:19-21 ``DataKey``:
``DATA/<Dataset>/importdate=<date>/...``) as Spark-native partitioned
tables, and its Athena ``MSCK REPAIR`` + partition listing
(agency-delta.go:20,97-124) as a listing of the partition directories.

Scale notes: partitioned parquet + ``importdate`` partition column means
Catalyst prunes snapshots at the metadata level -- a two-snapshot delta on a
100 TB lake touches exactly two partitions, never the full table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from abr_etl_spark.functions.event_time import normalize_event_time
from abr_etl_spark.functions.type_contract import normalize_table_types

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (columnar parquet scan; pruning/pushdown
    verified in tests/test_plans.py).

    events.ts is parquet TIMESTAMP(NANOS, isAdjustedToUTC=false); depending
    on the runtime Spark reads it as bigint nanos (legacy nanosAsLong),
    TIMESTAMP_NTZ (Spark 4.x), or TIMESTAMP. normalize_event_time
    (functions/event_time.py) is the single type contract turning any of
    those into an LTZ timestamp whose epoch treats the naive wall-clock as
    UTC -- identical to DuckDB's epoch(ts) on the same file. Confs are set
    at runtime so the engine also works under a CALLER-OWNED SparkSession
    (e.g. the verification driver) that didn't set them at build time,
    and before the footer is read (``read_parquet``), whose schema
    converter takes them from the session.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp rendering (date_format etc.) must match the TZ-naive
        # oracle regardless of the caller session's zone
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # locked static conf: session.py already set it
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        # runtime-proof type contract: bigint nanos / TIMESTAMP_NTZ /
        # TIMESTAMP all leave here as an LTZ timestamp with UTC epoch
        # semantics (see functions/event_time.py).
        df = normalize_event_time(df, "ts")
    # date/money contract (functions/type_contract.py): DATE-like columns
    # leave as timestamp_ntz, MONEY-like as double, whatever the runtime
    # inferred -- a no-op projection when nothing drifted.
    return normalize_table_types(df, name)


def _visible(name: str) -> bool:
    """False for a file or directory name that Spark's file index
    skips: one that starts with ``.``, or with ``_`` unless it holds
    ``=`` (``__bucket=3`` is a partition, ``_SUCCESS`` and
    ``_epoch_marks`` are not), and a ``._COPYING_`` leftover."""
    return not (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _parquet_files(paths) -> list[str]:
    """The data files under ``paths`` (files, or directories walked
    recursively) that Spark's file index lists (``_visible``). Sorted
    by path, the order in which Spark's schema inference visits
    files."""
    import os

    out = []
    for p in paths:
        if os.path.isfile(p):
            out.append(p)
            continue
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if _visible(x)]
            out += [os.path.join(d, f) for f in files if _visible(f)]
    return sorted(out)


def parquet_schema(spark: SparkSession, paths) -> StructType | None:
    """The schema ``spark.read.option("mergeSchema", "true")`` would
    give the data files under ``paths``, learnt on the driver with no
    Spark job; None when no local data file is found (none there, or a
    path that is a URI or a glob, which ``os.walk`` does not see).

    Spark's own inference reads footers inside a Spark job, also for a
    single file. Here each footer is read on the driver and converted
    by Spark's converter (``ParquetFileFormat.readSchemaFromFooter``
    with a ``ParquetToSparkSchemaConverter`` built from the session's
    SQLConf, so ``nanosAsLong`` and the binary/INT96 settings apply),
    and the results are merged in file order with
    ``StructType.merge``, mergeSchema's own rules: new columns are
    appended, and a type conflict raises ValueError naming the file.
    Partition columns come from the directory names at read time, as
    without a schema. A weekly table holds one footer per partition or
    bucket, each a small ranged read.
    """
    import json

    from py4j.java_gateway import JavaClass
    from py4j.protocol import Py4JJavaError

    files = _parquet_files(paths)
    if not files:
        return None
    # Classes by name: a dotted lookup through spark._jvm costs one
    # gateway round trip per package segment, per file.
    client = spark.sparkContext._gateway._gateway_client

    def jclass(name: str) -> JavaClass:
        return JavaClass(name, client)

    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    conf = spark._jsparkSession.sessionState().conf()
    converter = jclass(parquet + "ParquetToSparkSchemaConverter")(conf)
    to_spark = jclass(parquet + "ParquetFileFormat").readSchemaFromFooter
    read_footer = jclass("org.apache.parquet.hadoop.ParquetFileReader").readFooter
    skip_row_groups = jclass(
        "org.apache.parquet.format.converter.ParquetMetadataConverter"
    ).SKIP_ROW_GROUPS
    Path = jclass("org.apache.hadoop.fs.Path")
    Footer = jclass("org.apache.parquet.hadoop.Footer")
    hadoop_conf = spark._jsc.hadoopConfiguration()
    case_sensitive = conf.caseSensitiveAnalysis()
    merged = None
    for f in files:
        path = Path(f)
        footer = Footer(path, read_footer(hadoop_conf, path, skip_row_groups))
        schema = to_spark(footer, converter)
        if merged is None:
            merged = schema
            continue
        try:
            merged = merged.merge(schema, case_sensitive)
        except Py4JJavaError as exc:
            raise ValueError(
                f"{f}: schema {schema.simpleString()} does not merge with "
                f"{merged.simpleString()}, that of the files before it: "
                f"{exc.java_exception.getMessage()}"
            ) from None
    return StructType.fromJson(json.loads(merged.json()))


def read_parquet(spark: SparkSession, *paths: str, **options) -> DataFrame:
    """``spark.read.option("mergeSchema", "true").options(**options)
    .parquet(*paths)`` with no schema-inference job: the schema comes
    from ``parquet_schema``. When that finds no local data file, Spark
    infers the schema with mergeSchema on (a job, or Spark's own error
    for a path with no data). Listing the paths is still Spark's (a
    Spark job once a read lists more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths,
    32 by default)."""
    reader = spark.read.options(**options)
    schema = parquet_schema(spark, paths)
    if schema is None:
        reader = reader.option("mergeSchema", "true")
    else:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can use spark.sql."""
    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


#: Parquet codec of every table the weekly flow writes: the lake
#: (write_partitioned), the merged current-state table and
#: compact_partition's rewrites (operators/maintenance). The lake holds
#: text, which snappy packs poorly; zstd keeps the weekly bytes written
#: below what inferred numeric columns cost under snappy.
PARQUET_COMPRESSION = "zstd"


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_col: str = "importdate",
    mode: str = "append",
) -> None:
    """Write a snapshot into the lake partitioned by ``partition_col``.

    The reference gzips whole text files and names keys by hand
    (load.go:19-36); here the writer emits parquet partition directories
    (``importdate=<date>/``) that any engine -- Spark, Athena/Trino, DuckDB
    -- discovers natively, compressed with ``PARQUET_COMPRESSION`` (zstd)
    instead of whole-file gzip. Weekly ingest lands every column as text
    (``routed_ingest.ingest_delimited``), so the lake keeps the drop's
    values exactly. dynamic partitionOverwriteMode only rewrites touched
    snapshots.
    """
    (
        df.write.mode(mode)
        .partitionBy(partition_col)
        .option("compression", PARQUET_COMPRESSION)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def _partition_dirs(table: str) -> list[str]:
    """The table's Hive-style partition directories, in name order
    (those Spark lists: ``_visible`` names holding ``=``)."""
    import os

    return [
        os.path.join(table, d)
        for d in sorted(os.listdir(table))
        if "=" in d and _visible(d) and os.path.isdir(os.path.join(table, d))
    ]


def _data_file(part_dir: str) -> str | None:
    import os

    for f in sorted(os.listdir(part_dir)):
        if _visible(f) and os.path.isfile(os.path.join(part_dir, f)):
            return os.path.join(part_dir, f)
    return None


def _non_text_columns(parquet_file: str) -> dict[str, str]:
    """Data columns of one parquet footer that are not strings, with
    their types. Columns named ``__*`` are bookkeeping (merge_snapshot's
    ``__epoch``) and keep their type."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    return {
        f.name: str(f.type)
        for f in pq.read_schema(parquet_file)
        if not f.name.startswith("__")
        and not (pa.types.is_string(f.type) or pa.types.is_large_string(f.type))
    }


def _newest_data_file(table: str) -> str | None:
    """A data file of the table's last partition in name order (the
    newest snapshot), or None for a missing or empty table."""
    import os

    if not os.path.isdir(table):
        return None
    for part in reversed(_partition_dirs(table)):
        f = _data_file(part)
        if f is not None:
            return f
    return None


def require_text(table: str) -> None:
    """Raise ValueError when ``table`` stores a data column as anything
    but text, naming the column and ``migrate_to_text``. Reads one
    parquet footer with pyarrow -- that of the last partition in name
    order, which migrate_to_text rewrites last -- and launches no Spark
    job. A missing or empty table passes: it has nothing to mix with."""
    f = _newest_data_file(table)
    bad = _non_text_columns(f) if f is not None else {}
    if bad:
        col, typ = next(iter(bad.items()))
        raise ValueError(
            f"{table}: column {col!r} is stored as {typ}, not as text; "
            f"run lake.migrate_to_text(spark, {table!r}) once before "
            "landing a new week, so the table never mixes types"
        )


def require_columns(table: str, columns) -> None:
    """Raise ValueError when ``columns`` (a drop's header) lacks a data
    column of ``table``'s newest partition, naming the missing columns.
    The weekly feed evolves additively: a narrower week would land and
    read back with the column NULL in every row. Reads one parquet
    footer with pyarrow and launches no Spark job; a missing or empty
    table passes. ``__*`` bookkeeping columns are not the feed's."""
    import pyarrow.parquet as pq

    f = _newest_data_file(table)
    if f is None:
        return
    have = set(columns)
    missing = [
        n for n in pq.read_schema(f).names if not n.startswith("__") and n not in have
    ]
    if missing:
        raise ValueError(
            f"{table}: the drop's header lacks column(s) {missing} that the "
            "table holds; the weekly feed may add columns but not drop "
            "them, so nothing of this drop was landed"
        )


def migrate_to_text(spark: SparkSession, table: str) -> int:
    """One-time rewrite of a table landed with inferred types: every
    partition that stores a data column as anything but a string is
    rewritten with each data column cast to string (``__*`` bookkeeping
    columns keep their type). Returns the number of partitions
    rewritten.

    Leading zeros that type inference already dropped stay lost: a
    postcode landed as the integer 800 becomes the text "800", not
    "0800"; only landing the original drops again restores them.

    Each partition is staged in a hidden sibling and swapped in, the
    way ``maintenance.compact_partition`` does, and a crashed migration
    is settled first (``maintenance.finish_compactions``). Text
    partitions are skipped, so running it again resumes. Partitions go
    in name order, oldest snapshot first, and ``require_text`` checks
    the last one, so the weekly run accepts the table only once the
    migration has finished.
    """
    from abr_etl_spark.operators import maintenance

    maintenance.finish_compactions(table)
    rewritten = 0
    for part in _partition_dirs(table):
        f = _data_file(part)
        if f is None or not _non_text_columns(f):
            continue
        df = read_parquet(spark, part)
        text = df.select(
            *[
                F.col(c)
                if c.startswith("__")
                else F.col(c).cast("string").alias(c)
                for c in df.columns
            ]
        )
        staged = maintenance._compact_staging(part)
        text.write.mode("overwrite").option(
            "compression", PARQUET_COMPRESSION
        ).parquet(staged)
        maintenance._swap_in(staged, part)
        rewritten += 1
    return rewritten


def read_lake(
    spark: SparkSession, path: str, partitions: list[str] | None = None
) -> DataFrame:
    """Read a partitioned lake table; partition values become columns.
    With ``partitions``, only those ``importdate`` values are listed
    and read (``basePath`` keeps the partition column), so the read's
    cost does not grow with the table's history: a listing of more than
    32 paths is a Spark job. A value with no partition directory makes
    Spark raise its own path-not-found error.

    The schema is mergeSchema's, learnt on the driver from the footers
    of the files read (``read_parquet``; no Spark job): the weekly-feed
    evolution contract (additive columns only -- see
    ``abr_schemas.ingest_abr``) means partitions written before a
    column appeared lack it on disk, and the merge surfaces the new
    column as NULL there instead of the read schema being whichever
    file listed first. Destructive changes (drop / retype) are rejected
    before landing (``pipeline.run_weekly``) and at merge time, so the
    union here is always well-formed."""
    import os

    if partitions is None:
        return read_parquet(spark, path)
    dirs = _partition_values(path)
    return read_parquet(
        spark,
        *[dirs.get(v, os.path.join(path, f"importdate={v}")) for v in partitions],
        basePath=path,
    )


def discover_partitions_listing(
    path: str, partition_col: str = "importdate"
) -> list[str]:
    """Partition discovery from the directory layout alone -- ZERO Spark
    jobs, zero data-page reads (the r6 verdict's catalog-backed option).

    Hive-style layouts encode one directory per partition value
    (``importdate=2019-04-29/``); listing the table root IS the
    authoritative partition set -- the same metadata a catalog's MSCK
    REPAIR (agency-delta.go:20) derives its partition list from. At
    cloud scale this maps to one object-store LIST per table (or a
    catalog partitions API call), independent of data volume. Values are
    percent-decoded exactly as Spark's partition writer escapes them.
    """
    return sorted(_partition_values(path, partition_col))


def _partition_values(
    path: str, partition_col: str = "importdate"
) -> dict[str, str]:
    """Each ``partition_col`` value of the table, percent-decoded, with
    its directory."""
    import os
    from urllib.parse import unquote

    prefix = f"{partition_col}="
    return {
        unquote(name[len(prefix):]): os.path.join(path, name)
        for name in os.listdir(path)
        if name.startswith(prefix) and os.path.isdir(os.path.join(path, name))
    }


def newest_previous(
    path: str, partition_col: str = "importdate"
) -> tuple[str, str]:
    """The two newest snapshot dates of the table at ``path``
    (agency-delta.go:118-123), from its directory listing (no Spark
    job); raises like the reference's 'Not enough partitions' error
    when <2 exist."""
    parts = discover_partitions_listing(path, partition_col)
    if len(parts) < 2:
        raise ValueError("Not enough partitions to run delta")
    return parts[-1], parts[-2]


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    *,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet range-clustered on ``cluster_col``: rows are range-
    partitioned then sorted within each file, so every file covers a
    narrow value range and parquet min/max stats (zone maps) let any
    engine skip whole files on range predicates -- the cheap 80% of an
    index at 100 TB.
    """
    part = df.repartitionByRange(*( [n_files] if n_files else [] ), F.col(cluster_col))
    part.sortWithinPartitions(cluster_col).write.mode(mode).parquet(path)


def export_stable_csv(df: DataFrame, directory: str, filename: str) -> str:
    """Single stable-named CSV export (reference RenameDelta,
    agency-delta.go:44-72: rename Athena's <query-id>.csv to a fixed name).

    coalesce(1) is an explicit single-file contract for downstream SFTP
    consumers -- a deliberate driver-side funnel, only for small delta
    outputs, never for bulk data (bulk stays partitioned).
    """
    import glob
    import os
    import shutil

    tmp = os.path.join(directory, "_tmp_export")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    target = os.path.join(directory, filename)
    shutil.move(part, target)
    shutil.rmtree(tmp, ignore_errors=True)
    return target


def partition_ddl(
    table: str,
    partitions: list[str],
    *,
    partition_col: str = "importdate",
    table_root: str | None = None,
    if_not_exists: bool = True,
) -> list[str]:
    """ANSI ``ALTER TABLE ... ADD PARTITION`` statements for a discovered
    partition list -- the catalog-registration half of MSCK REPAIR
    semantics (agency-delta.go:20's Athena `MSCK`): discovery
    (``discover_partitions_listing``) finds what is ON DISK, this emits
    what an external Hive-compatible catalog must be TOLD. One statement
    per partition (not one giant multi-partition ALTER) so a partial
    failure leaves a resumable prefix; values escape embedded quotes.

    With ``table_root`` each statement pins the Hive-layout LOCATION
    explicitly (object-store tables where the catalog must not guess);
    without it the catalog derives the location from the table root.
    """
    ine = "IF NOT EXISTS " if if_not_exists else ""
    out = []
    for v in partitions:
        esc = str(v).replace("'", "''")
        loc = ""
        if table_root is not None:
            from urllib.parse import quote

            loc = (
                f" LOCATION '{table_root.rstrip('/')}/"
                f"{partition_col}={quote(str(v), safe='')}'"
            )
        out.append(
            f"ALTER TABLE {table} ADD {ine}"
            f"PARTITION ({partition_col}='{esc}'){loc}"
        )
    return out


def register_partitions(
    spark: SparkSession,
    table: str,
    path: str,
    *,
    partition_col: str = "importdate",
) -> int:
    """Discover the lake's partitions from the directory layout (zero
    Spark jobs) and register every one in the session catalog via ADD
    PARTITION DDL -- the engine-side MSCK REPAIR. Idempotent (IF NOT
    EXISTS); returns the number of partitions registered. At cloud
    scale the same statements go to Glue/Hive over one LIST per table.
    """
    parts = discover_partitions_listing(path, partition_col)
    for stmt in partition_ddl(
        table, parts, partition_col=partition_col
    ):
        spark.sql(stmt)
    return len(parts)
