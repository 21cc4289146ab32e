"""ETL-parity query plans (SURVEY.md §2 A-block).

These exercise the reference's data semantics (filename routing,
partition discovery, two-snapshot CDC deltas, SCD2) through the engine's
operators, on *synthetic snapshots derived deterministically from the
``orders`` table* so the DuckDB oracle can derive the exact same inputs
from the same parquet:

- ``new`` snapshot  = orders with o_orderkey % 7 != 0
- ``old`` snapshot  = orders with o_orderkey % 5 != 0, with o_totalprice
  shifted +1.0 where o_orderkey % 3 == 0 (the "changed" rows)

So: added keys = %7!=0 and %5==0; removed = %5!=0 and %7==0; updated =
present in both and %3==0. The Spark side does NOT use that knowledge --
it runs the generic hash-based delta engine (operators/delta.py); the
oracle runs literal column-compare SQL (the reference's agencyChangeSQL
shape, agency-delta.go:126) -- agreement proves the hash path implements
the reference semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from abr_etl_spark.operators import delta
from abr_etl_spark.sources.lake import load_table
from abr_etl_spark.sources.routed_ingest import route_files, routes_as_df

# ---------------------------------------------------------------- snapshots

def _snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = load_table(spark, sf_dir, "orders")
    new = o.where(F.col("o_orderkey") % 7 != 0)
    old = o.where(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.col("o_totalprice")
        + F.when(F.col("o_orderkey") % 3 == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    return new, old


_SNAP_CTE = """
    WITH newd AS (
        SELECT * FROM orders WHERE o_orderkey % 7 <> 0
    ), oldd AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + CASE WHEN o_orderkey % 3 = 0
                                   THEN 1.0 ELSE 0.0 END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 5 <> 0
    )
"""

_ORDER_OUT = """o_orderkey, o_custkey, o_orderstatus,
               round(o_totalprice, 2) AS totalprice,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               o_orderpriority"""

_DIFF_PRED = """(n.o_custkey IS DISTINCT FROM o.o_custkey
            OR n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
            OR n.o_totalprice IS DISTINCT FROM o.o_totalprice
            OR n.o_orderdate IS DISTINCT FROM o.o_orderdate
            OR n.o_orderpriority IS DISTINCT FROM o.o_orderpriority)"""


def _fmt_orders(df: DataFrame) -> DataFrame:
    return df.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "o_orderpriority",
    )


# ---------------------------------------------------------------- queries

def q_delta_updated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC updated rows: hash-compare join, newest payload out."""
    new, old = _snapshots(spark, sf_dir)
    return _fmt_orders(delta.delta_updated(new, old, "o_orderkey"))


def q_delta_added(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC added rows: anti-join newest vs previous snapshot."""
    new, old = _snapshots(spark, sf_dir)
    return _fmt_orders(delta.delta_added(new, old, "o_orderkey"))


def q_delta_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC removed rows: anti-join previous vs newest snapshot."""
    new, old = _snapshots(spark, sf_dir)
    return _fmt_orders(delta.delta_removed(new, old, "o_orderkey"))


def q_delta_unchanged_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC audit: row counts per change class via hash classify."""
    new, old = _snapshots(spark, sf_dir)
    return delta.delta_unchanged_count(new, old, "o_orderkey")


def _snapshot_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-week snapshot series over a narrow payload (totalprice)."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    s1 = base.withColumn("importdate", F.lit("2024-01-01"))
    s2 = (
        o.where(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", F.round(F.col("o_totalprice") + 10, 2).alias("totalprice"))
        .withColumn("importdate", F.lit("2024-01-08"))
    )
    s3 = (
        o.where(F.col("o_orderkey") % 4 == 0)
        .select("o_orderkey", F.round(F.col("o_totalprice") + 20, 2).alias("totalprice"))
        .withColumn("importdate", F.lit("2024-01-15"))
    )
    return s1.unionByName(s2).unionByName(s3)


_SERIES_CTE = """
    WITH snaps AS (
        SELECT o_orderkey, round(o_totalprice, 2) AS totalprice,
               '2024-01-01' AS importdate FROM orders
        UNION ALL
        SELECT o_orderkey, round(o_totalprice + 10, 2), '2024-01-08'
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, round(o_totalprice + 20, 2), '2024-01-15'
        FROM orders WHERE o_orderkey % 4 = 0
    )
"""


def q_snapshot_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key across snapshots (recency window)."""
    series = _snapshot_series(spark, sf_dir)
    return delta.snapshot_latest(series, "o_orderkey").select(
        "o_orderkey", "totalprice", "importdate"
    )


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot series folded into SCD type-2 history."""
    series = _snapshot_series(spark, sf_dir)
    return delta.scd2(series, "o_orderkey").select(
        "o_orderkey",
        "totalprice",
        "valid_from",
        "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    )


_FILENAMES = [
    "VIC190429_ABR_Agency_Data.txt",
    "VIC190429_ABR_ACNC.txt",
    "VIC190422_ABR_Businessname.txt",
    "VIC190429_ABR_Funds.txt",
    "readme.txt",
    "VIC190506_ABR_Replacedabn.txt",
    "VIC190429_ABR_Othtrdnames.txt",
    "VIC190506_ABR_Associates.txt",
    "VIC190422_ABR_Businesslocation.txt",
    "VIC190422_ABR_Agency_Data.backup",
]


def q_ingest_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filename-regex routing to dataset + yymmdd import date."""
    df = route_files(routes_as_df(spark, _FILENAMES))
    return df.select(
        "filename",
        "dataset",
        F.col("importdate").cast("string").alias("importdate"),
    )


def q_lake_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition discovery: the two newest month-partitions of orders."""
    o = load_table(spark, sf_dir, "orders")
    parts = o.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("importdate")
    ).distinct()
    from pyspark.sql import Window

    # single-partition window is BOUNDED: input is the distinct
    # month-partition list (metadata-scale, tens of rows)
    w = Window.orderBy(F.col("importdate").desc())
    return (
        parts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
    )


def q_delta_classify_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan lake CDC (delta.delta_from_lake): both snapshots in one
    pass, one shuffle, no join -- the plan that wins at 100 TB."""
    new, old = _snapshots(spark, sf_dir)
    lake_df = new.withColumn("importdate", F.lit("2024-01-08")).unionByName(
        old.withColumn("importdate", F.lit("2024-01-01"))
    )
    return delta.delta_from_lake(
        lake_df, "o_orderkey", newest="2024-01-08", previous="2024-01-01"
    )


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained (count, sum) per priority: cost O(|delta|).
    The oracle recomputes from scratch on the new snapshot -- agreement
    proves the maintenance algebra.

    The summed column is pre-quantized to EXACT integer cents (a derived
    column, so the delta classify hashes are unchanged) and the report
    divides back to dollars at the end: summing raw doubles was caught
    by the sf10 oracle decade -- at ~2e12 group sums the two engines'
    float addition orders diverge past the second decimal, while cent
    sums stay exact BIGINTs end-to-end up to int64 (~9.2e16 dollars;
    incremental_agg coalesces with an integer zero so the BIGINT is
    never promoted to DOUBLE -- r13 ADVICE), the integer-cents
    discipline every other money fold here already follows."""
    new, old = _snapshots(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    out = delta.incremental_agg(
        new.withColumn("__cents", cents),
        old.withColumn("__cents", cents),
        "o_orderkey",
        group_col="o_orderpriority",
        sum_col="__cents",
    )
    return out.select(
        "o_orderpriority",
        "n_rows",
        (F.col("sum_value") / F.lit(100.0)).alias("sum_value"),
    )


def q_dq_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-rate report over a frame with synthesized nulls (every 7th
    balance) -- one conditional-agg scan."""
    from abr_etl_spark.operators.quality import completeness_report
    from abr_etl_spark.sources.lake import load_table as _lt

    c = _lt(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    return completeness_report(c, "customer_bal", ["c_mktsegment", "bal"])


def q_dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-uniqueness report over orders with planted duplicate keys."""
    from abr_etl_spark.operators.quality import uniqueness_report
    from abr_etl_spark.sources.lake import load_table as _lt

    o = _lt(spark, sf_dir, "orders")
    with_dups = o.unionByName(o.where(F.col("o_orderkey") % 100 == 0))
    return uniqueness_report(with_dups, "orders_dup", "o_orderkey")


def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan report: orders -> customers with every 10th customer removed."""
    from abr_etl_spark.operators.quality import referential_report
    from abr_etl_spark.sources.lake import load_table as _lt

    o = _lt(spark, sf_dir, "orders")
    c = _lt(spark, sf_dir, "customer").where(F.col("c_custkey") % 10 != 0)
    return referential_report(
        o, c, child_key="o_custkey", parent_key="c_custkey", name="orders->customer"
    )



def q_delta_apply_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply identity, end-to-end: reconstruct the NEWEST snapshot
    from the previous one and the engine's OWN delta outputs --

        apply(old, delta(old, new)) =
            (old minus updated/removed keys) + updated + added

    -- and return it. The oracle is simply the NEWEST snapshot derived
    independently, so the driver's row/schema/hash match PROVES the
    delta triple is complete and consistent (nothing double-counted,
    nothing dropped): the weekly-merge correctness property a CDC
    consumer actually relies on.

    Scale shape: the three delta ops are each one narrow join (16-byte
    hash rows / anti-joins, see operators/delta.py); the apply is one
    anti-join on changed keys plus two unions -- no new shuffle class.
    """
    new, old = _snapshots(spark, sf_dir)
    upd = delta.delta_updated(new, old, "o_orderkey")
    add = delta.delta_added(new, old, "o_orderkey")
    rem = delta.delta_removed(new, old, "o_orderkey")
    changed_keys = upd.select("o_orderkey").unionByName(
        rem.select("o_orderkey")
    )
    applied = (
        old.join(changed_keys, "o_orderkey", "left_anti")
        .unionByName(upd.select(*old.columns))
        .unionByName(add.select(*old.columns))
    )
    return _fmt_orders(applied)


#: point-in-time probe date for the SCD2 lookup (between snaps 2 and 3).
PIT_DATE = "2024-01-10"


def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup: the warehouse state as of PIT_DATE --
    the query every SCD2 consumer actually runs (which version of each
    key was live on date d): valid_from <= d < coalesce(valid_to, inf).

    Scale shape: the interval predicate filters the (already narrow)
    SCD2 history -- at 100 TB you'd partition history by valid_from
    range so the filter prunes files; the fold itself is q_scd2's plan.
    A pytest proves the PIT result ALSO equals the latest
    snapshot-at-or-before d per key, derived without SCD2 -- the
    identity that makes type-2 history trustworthy.
    """
    series = _snapshot_series(spark, sf_dir)
    hist = delta.scd2(series, "o_orderkey")
    d = F.lit(PIT_DATE)
    return (
        hist.where(
            (F.col("valid_from") <= d)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > d))
        )
        .select("o_orderkey", "totalprice", "valid_from")
        .orderBy("o_orderkey")
    )

def q_delta_changed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column change census between the two snapshots -- the ops
    report behind the reference's 34-column OR predicate
    (agencyChangeSQL, agency-delta.go:126): WHICH columns drive the
    weekly updates, one row of (n_common, n_changed_rows,
    chg_<payload column>...). The hash-based delta engine decides IF a
    row changed without ever comparing columns; this report is the
    one-off full-width diff an operator runs when the update volume
    looks wrong.

    Scale shape: one equi-join of the common keys with NULL-SAFE
    per-column comparison flags evaluated map-side and collapsed by a
    single aggregate -- no per-column shuffles, no row explosion; at
    100 TB this is the same one-join cost as delta_updated with wide
    payloads (you run it on demand, not weekly).
    """
    new, old = _snapshots(spark, sf_dir)
    payload = [c for c in old.columns if c != "o_orderkey"]
    j = new.alias("n").join(old.alias("o"), "o_orderkey")
    flags = j.select(
        *[
            F.when(~F.expr(f"n.{c} <=> o.{c}"), 1).otherwise(0).alias(f"f_{c}")
            for c in payload
        ]
    )
    any_flag = F.greatest(*[F.col(f"f_{c}") for c in payload])
    return flags.agg(
        F.count("*").alias("n_common"),
        F.sum(any_flag).alias("n_changed_rows"),
        *[F.sum(f"f_{c}").alias(f"chg_{c.removeprefix('o_')}") for c in payload],
    )


#: resolve_chains' hop cap for the register (power of two; chains are
#: bounded by years of registry operation, so 64 is generous) -- the
#: oracle's recursive walk uses the SAME cap.
ABN_MAX_DEPTH = 64


def _replacedabn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic Replacedabn rows derived deterministically from
    customer keys (the _snapshots discipline: the oracle derives the
    SAME edges from the same parquet). Within each block of 8 keys
    (r = key % 8):

      r = 1, 2, 3 -> replaced by key - 1  (a depth-3 chain 3->2->1->0)
      r = 5       -> replaced by itself   (self-replacement, a 1-cycle)
      r = 6       -> replaced by key + 1, r = 7 -> by key - 1 (2-cycle)
      r = 0, 4    -> never replaced (terminals / absent)

    Functional by construction (each historical key appears once); the
    scale derivation's key stride is a multiple of 8, so every copy
    replicates the chain structure exactly (linear growth)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    r = F.col("c_custkey") % 8
    return c.where(r.isin(1, 2, 3, 5, 6, 7)).select(
        F.col("c_custkey").alias("replcd_abn"),
        (
            F.col("c_custkey")
            + F.when(r == 6, 1).when(r == 5, 0).otherwise(-1)
        ).alias("abn"),
    )


def q_abn_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replacedabn chain resolution -- the one routed reference dataset
    (sources/abr_schemas.py:103, load.go:45-64) whose natural query had
    no §2 row (r14 verdict item 2): resolve every HISTORICAL abn to its
    current abn through the replacement-chain graph. Output one row per
    replaced abn: (abn, current_abn, depth, is_cycle); cycles (incl.
    self-replacements) and over-cap chains report NULL current/depth
    with is_cycle = true -- never a silently wrong resolution.

    Determinism: the walk in a functional graph is unique; resolution
    is exact integer pointer chasing, no floats anywhere.

    Scale shape: pointer DOUBLING (operators/graph.resolve_chains) --
    ceil(log2({ABN_MAX_DEPTH})) = 6 self-joins of the edge table,
    O(E log D) shuffle instead of the naive O(E * D) walk, with a
    monotone one-aggregate-per-round early exit. The oracle re-derives
    the same answer with an independent capped recursive walk.

    Reference parity: SURVEY.md §2.A; completes consumer coverage of
    the 8 filename-routed datasets (routed_ingest.py:26-34)."""
    from abr_etl_spark.operators.graph import resolve_chains

    e = _replacedabn_edges(spark, sf_dir)
    res = resolve_chains(
        e, src="replcd_abn", dst="abn", max_depth=ABN_MAX_DEPTH
    )
    return res.select(
        F.col("src").alias("abn"),
        F.col("current").alias("current_abn"),
        "depth",
        "is_cycle",
    ).orderBy("abn")


def q_abn_chain_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-output companion of abn_current (the
    dedup_simhash_clusters discipline): the register-health report a
    100 TB run reads INSTEAD of the full resolution -- how many
    historical abns resolve at each chain depth, and how many are
    stuck in cycles. Output (depth, is_cycle, n_abns):
    O(|distinct depths| + 1) rows at any scale; depth is NULL on the
    cycle row, mirroring abn_current's per-row contract.

    Scale shape: abn_current's doubling resolve plus ONE map-side-
    combinable (depth, is_cycle) aggregate -- the report never
    materializes the resolution outside the cluster.

    Reference parity: SURVEY.md §2.A; rollup of abn_current."""
    from abr_etl_spark.operators.graph import resolve_chains

    e = _replacedabn_edges(spark, sf_dir)
    res = resolve_chains(
        e, src="replcd_abn", dst="abn", max_depth=ABN_MAX_DEPTH
    )
    return (
        res.groupBy("depth", "is_cycle")
        .agg(F.count("*").alias("n_abns"))
        .orderBy("is_cycle", "depth")
    )


QUERIES = {
    "abn_current": q_abn_current,
    "abn_chain_census": q_abn_chain_census,
    "delta_apply_roundtrip": q_delta_apply_roundtrip,
    "delta_changed_columns": q_delta_changed_columns,
    "delta_updated": q_delta_updated,
    "delta_classify_lake": q_delta_classify_lake,
    "incremental_agg": q_incremental_agg,
    "dq_completeness": q_dq_completeness,
    "dq_uniqueness": q_dq_uniqueness,
    "dq_referential": q_dq_referential,
    "delta_added": q_delta_added,
    "delta_removed": q_delta_removed,
    "delta_unchanged_count": q_delta_unchanged_count,
    "snapshot_latest": q_snapshot_latest,
    "scd2": q_scd2,
    "scd2_point_in_time": q_scd2_point_in_time,
    "ingest_routed": q_ingest_routed,
    "lake_partitions": q_lake_partitions,
}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "incremental_agg": ("incr_agg",),
}

_VALUES = ",\n            ".join(f"('{f}')" for f in _FILENAMES)

_ROUTE_CASE = """
        CASE
            WHEN regexp_matches(filename, 'VIC[0-9]{6}_ABR_ACNC\\.txt$') THEN 'ACNC'
            WHEN regexp_matches(filename, 'VIC[0-9]{6}_ABR_Agency_Data\\.txt$') THEN 'Agency_Data'
            WHEN regexp_matches(filename, 'VIC[0-9]{6}_ABR_Associates\\.txt$') THEN 'Associates'
            WHEN regexp_matches(filename, 'VIC[0-9]{6}_ABR_Businesslocation\\.txt$') THEN 'Businesslocation'
            WHEN regexp_matches(filename, 'VIC[0-9]{6}_ABR_Businessname\\.txt$') THEN 'Businessname'
            WHEN regexp_matches(filename, 'VIC[0-9]{6}_ABR_Funds\\.txt$') THEN 'Funds'
            WHEN regexp_matches(filename, 'VIC[0-9]{6}_ABR_Othtrdnames\\.txt$') THEN 'Othtrdnames'
            WHEN regexp_matches(filename, 'VIC[0-9]{6}_ABR_Replacedabn\\.txt$') THEN 'Replacedabn'
        END
"""

#: independent oracle derivation: the SAME synthetic edges, resolved by
#: a capped recursive walk (vs the engine's pointer doubling) -- at the
#: shared cap both cover exactly ABN_MAX_DEPTH hops, so cycle flagging
#: agrees bit-for-bit. The CTE chain is shared by abn_current and the
#: abn_chain_census rollup.
_ABN_CTES = f"""WITH RECURSIVE e AS (
        SELECT c_custkey AS src,
               c_custkey + CASE WHEN c_custkey % 8 = 6 THEN 1
                                WHEN c_custkey % 8 = 5 THEN 0
                                ELSE -1 END AS dst
        FROM customer
        WHERE c_custkey % 8 IN (1, 2, 3, 5, 6, 7)
    ), walk(src, cur, d) AS (
        SELECT src, dst, CAST(1 AS BIGINT) FROM e
        UNION ALL
        SELECT w.src, e2.dst, w.d + 1
        FROM walk w JOIN e e2 ON e2.src = w.cur
        WHERE w.d < {ABN_MAX_DEPTH}
    ), last AS (
        SELECT src, cur, d FROM (
            SELECT *, row_number() OVER (
                PARTITION BY src ORDER BY d DESC) AS rn
            FROM walk
        ) WHERE rn = 1
    ), resolved AS (
        SELECT l.src AS abn,
               CASE WHEN h.src IS NULL THEN l.cur END AS current_abn,
               CASE WHEN h.src IS NULL THEN l.d END AS depth,
               h.src IS NOT NULL AS is_cycle
        FROM last l
        LEFT JOIN (SELECT DISTINCT src FROM e) h ON h.src = l.cur
    )"""

_ABN_ORACLE = f"""
    {_ABN_CTES}
    SELECT abn, current_abn, depth, is_cycle FROM resolved
    ORDER BY abn
"""

_ABN_CENSUS_ORACLE = f"""
    {_ABN_CTES}
    SELECT depth, is_cycle, CAST(count(*) AS BIGINT) AS n_abns
    FROM resolved GROUP BY depth, is_cycle
    ORDER BY is_cycle, depth
"""

ORACLES = {
    "abn_current": _ABN_ORACLE,
    "abn_chain_census": _ABN_CENSUS_ORACLE,
    "delta_updated": _SNAP_CTE
    + f"""
        SELECT {_ORDER_OUT.replace('o_orderkey', 'n.o_orderkey').replace('o_custkey', 'n.o_custkey').replace('o_orderstatus', 'n.o_orderstatus').replace('o_totalprice', 'n.o_totalprice').replace('o_orderdate', 'n.o_orderdate').replace('o_orderpriority', 'n.o_orderpriority')}
        FROM newd n JOIN oldd o ON n.o_orderkey = o.o_orderkey
        WHERE {_DIFF_PRED}
    """,
    "delta_added": _SNAP_CTE
    + f"""
        SELECT {_ORDER_OUT}
        FROM newd
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM oldd)
    """,
    "incremental_agg": _SNAP_CTE
    + """
        SELECT o_orderpriority,
               count(*) AS n_rows,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS DOUBLE) / 100.0 AS sum_value
        FROM newd
        GROUP BY o_orderpriority
    """,
    "dq_completeness": """
        WITH src AS (
            SELECT c_mktsegment,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL
                        ELSE c_acctbal END AS bal
            FROM customer
        ), agg AS (
            SELECT count(*) AS total,
                   CAST(sum(CASE WHEN c_mktsegment IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN bal IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n2
            FROM src
        )
        SELECT 'customer_bal' AS table_name, col_name, n_nulls,
               total AS n_rows,
               CASE WHEN n_nulls = 0 THEN 1 ELSE 0 END AS complete
        FROM (
            SELECT total, 'c_mktsegment' AS col_name, n1 AS n_nulls FROM agg
            UNION ALL
            SELECT total, 'bal', n2 FROM agg
        )
    """,
    "dq_uniqueness": """
        WITH with_dups AS (
            SELECT * FROM orders
            UNION ALL SELECT * FROM orders WHERE o_orderkey % 100 = 0
        ), d AS (
            SELECT o_orderkey, count(*) AS n FROM with_dups
            GROUP BY o_orderkey HAVING count(*) > 1
        )
        SELECT 'orders_dup' AS table_name, 'o_orderkey' AS key_col,
               coalesce(count(*), 0) AS dup_keys,
               CAST(coalesce(sum(n), 0) AS BIGINT) AS dup_rows,
               CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS is_unique
        FROM d
    """,
    "dq_referential": """
        SELECT 'orders->customer' AS relation,
               count(*) AS n_orphans,
               CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS intact
        FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                WHERE c_custkey % 10 <> 0)
    """,
    "delta_classify_lake": _SNAP_CTE
    + f"""
        SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
               CASE
                 WHEN o.o_orderkey IS NULL THEN 'added'
                 WHEN n.o_orderkey IS NULL THEN 'removed'
                 WHEN {_DIFF_PRED} THEN 'updated'
                 ELSE 'unchanged'
               END AS change
        FROM newd n FULL OUTER JOIN oldd o ON n.o_orderkey = o.o_orderkey
    """,
    "delta_removed": _SNAP_CTE
    + f"""
        SELECT {_ORDER_OUT}
        FROM oldd
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM newd)
    """,
    "delta_unchanged_count": _SNAP_CTE
    + f"""
        SELECT CASE
                 WHEN o.o_orderkey IS NULL THEN 'added'
                 WHEN n.o_orderkey IS NULL THEN 'removed'
                 WHEN {_DIFF_PRED} THEN 'updated'
                 ELSE 'unchanged'
               END AS change,
               count(*) AS n
        FROM newd n FULL OUTER JOIN oldd o ON n.o_orderkey = o.o_orderkey
        GROUP BY 1
    """,
    "snapshot_latest": _SERIES_CTE
    + """
        SELECT o_orderkey, totalprice, importdate
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY o_orderkey ORDER BY importdate DESC) AS rn
            FROM snaps
        ) WHERE rn = 1
    """,
    "scd2": _SERIES_CTE
    + """
        , versions AS (
            SELECT o_orderkey, totalprice, importdate,
                   lag(totalprice) OVER w AS prev_price
            FROM snaps
            WINDOW w AS (PARTITION BY o_orderkey ORDER BY importdate ASC)
        ), changed AS (
            SELECT o_orderkey, totalprice, importdate
            FROM versions
            WHERE prev_price IS NULL OR prev_price IS DISTINCT FROM totalprice
        )
        SELECT o_orderkey, totalprice,
               importdate AS valid_from,
               lead(importdate) OVER (
                   PARTITION BY o_orderkey ORDER BY importdate ASC) AS valid_to,
               CASE WHEN lead(importdate) OVER (
                   PARTITION BY o_orderkey ORDER BY importdate ASC) IS NULL
                    THEN 1 ELSE 0 END AS is_current
        FROM changed
    """,
    "ingest_routed": f"""
        SELECT filename,
               {_ROUTE_CASE} AS dataset,
               CASE WHEN regexp_matches(filename, 'VIC[0-9]{{6}}_ABR_')
                    THEN strftime(strptime(
                        regexp_extract(filename, 'VIC([0-9]{{6}})_ABR_', 1),
                        '%y%m%d'), '%Y-%m-%d')
               END AS importdate
        FROM (VALUES {_VALUES}) AS t(filename)
    """,
    "lake_partitions": """
        SELECT importdate, CAST(rank AS INTEGER) AS rank FROM (
            SELECT importdate, row_number() OVER (ORDER BY importdate DESC) AS rank
            FROM (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS importdate
                  FROM orders)
        ) WHERE rank <= 2
    """,
}

ORACLES["delta_apply_roundtrip"] = f"""
    {_SNAP_CTE}
    SELECT {_ORDER_OUT} FROM newd
"""

ORACLES["scd2_point_in_time"] = _SERIES_CTE + f"""
    , versions AS (
        SELECT o_orderkey, totalprice, importdate,
               lag(totalprice) OVER w AS prev_price
        FROM snaps
        WINDOW w AS (PARTITION BY o_orderkey ORDER BY importdate ASC)
    ), changed AS (
        SELECT o_orderkey, totalprice, importdate
        FROM versions
        WHERE prev_price IS NULL OR prev_price IS DISTINCT FROM totalprice
    ), hist AS (
        SELECT o_orderkey, totalprice,
               importdate AS valid_from,
               lead(importdate) OVER (
                   PARTITION BY o_orderkey ORDER BY importdate ASC)
                   AS valid_to
        FROM changed
    )
    SELECT o_orderkey, totalprice, valid_from
    FROM hist
    WHERE valid_from <= '{PIT_DATE}'
      AND (valid_to IS NULL OR valid_to > '{PIT_DATE}')
    ORDER BY o_orderkey
"""

_CHG_COLS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
             "o_orderpriority"]
ORACLES["delta_changed_columns"] = _SNAP_CTE + f"""
    SELECT CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(greatest({", ".join(
               f"CASE WHEN n.{c} IS DISTINCT FROM o.{c} THEN 1 ELSE 0 END"
               for c in _CHG_COLS)})) AS BIGINT) AS n_changed_rows,
           {", ".join(
               f"CAST(sum(CASE WHEN n.{c} IS DISTINCT FROM o.{c} "
               f"THEN 1 ELSE 0 END) AS BIGINT) AS chg_{c[2:]}"
               for c in _CHG_COLS)}
    FROM newd n JOIN oldd o USING (o_orderkey)
"""


# ----------------------------------------- trading names (Othtrdnames)
# r15 verdict item 5: the SECOND routed dataset with a real consumer
# (after Replacedabn/abn_current). Othtrdnames (pid, abn, othr_trdg_nm,
# othr_trdg_nm_strt_dt -- sources/abr_schemas.py:102, load.go:45-64)
# holds the OTHER names an entity trades under; Businessname/the main
# register holds the main name. Natural consumers: (1) resolve each
# entity's CURRENT other trading name (latest start date), and (2) feed
# the full alias set into fuzzy_match_blocked's suffix blocking so a
# noisy probe resolves to its entity through ANY registered name, not
# just the main one.
#
# Synthesis (deterministic, scale-linear, derivable by the oracle from
# the same parquet): entity abn = c_custkey, main name = c_name;
#   abn % 3 == 0 -> alias 'Trading#'||digits, start = base + abn % 1000
#   abn % 6 == 0 -> alias 'Brand#'||digits,   start = base + 7*abn % 1000
# Aliases keep the name's last-6 digit tail, so they land in the SAME
# suffix block as the main name (the fuzzy family's blocking contract).
# Date ties (abn % 1000 == 7*abn % 1000) break by name ASC.

TN_BASE_DATE = "1995-01-01"

#: shared Spark-SQL/DuckDB expression: delete the character right after
#: '#' (the first digit) -- the same one-char corruption device as
#: fuzzy_match_blocked, but prefix-length-agnostic so it applies to
#: 'Customer#'/'Trading#'/'Brand#' names alike, and it never touches
#: the last-6 suffix the blocking key reads.
_TN_CORRUPT = (
    "concat(substr({c}, 1, instr({c}, '#')), "
    "substr({c}, instr({c}, '#') + 2))"
)


def _trading_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized Othtrdnames wire rows: (abn, othr_trdg_nm,
    othr_trdg_nm_strt_dt)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    digits = F.expr("substr(c_name, 10)")
    base = F.lit(TN_BASE_DATE).cast("date")
    t = c.where(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("abn"),
        F.concat(F.lit("Trading#"), digits).alias("othr_trdg_nm"),
        F.date_add(base, (F.col("c_custkey") % 1000).cast("int")).alias(
            "othr_trdg_nm_strt_dt"
        ),
    )
    b = c.where(F.col("c_custkey") % 6 == 0).select(
        F.col("c_custkey").alias("abn"),
        F.concat(F.lit("Brand#"), digits).alias("othr_trdg_nm"),
        F.date_add(
            base, ((F.col("c_custkey") * 7) % 1000).cast("int")
        ).alias("othr_trdg_nm_strt_dt"),
    )
    return t.unionByName(b)


def _tn_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-abn resolution of the CURRENT other trading name: latest
    start date, ties by name ASC; n_othr = total aliases. ONE shuffle
    on abn serves both windows."""
    from pyspark.sql.window import Window

    tn = _trading_names(spark, sf_dir)
    w = Window.partitionBy("abn").orderBy(
        F.col("othr_trdg_nm_strt_dt").desc(), F.col("othr_trdg_nm").asc()
    )
    return (
        tn.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_othr", F.count("*").over(Window.partitionBy("abn"))
        )
        .where(F.col("rn") == 1)
        .select(
            "abn",
            F.col("othr_trdg_nm").alias("cur_othr_trdg_nm"),
            F.col("othr_trdg_nm_strt_dt").alias("cur_strt_dt"),
            F.col("n_othr").cast("long").alias("n_othr"),
        )
    )


def q_trading_names_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Othtrdnames/Businessname resolution -- for every entity with
    other trading names, which name is it CURRENTLY trading under?
    Output (abn, mn_trdg_nm, cur_othr_trdg_nm, cur_strt_dt, n_othr),
    one row per multi-name entity.

    Scale shape: one shuffle on abn for the two windows (row_number +
    count share the partition), then an equi-join back to the register
    on the same key -- no data-sized broadcast, no names x names
    anywhere. Reference parity: SURVEY.md §2.A, load.go:45-64,
    sources/abr_schemas.py:93-102 (r15 verdict item 5)."""
    cur = _tn_current(spark, sf_dir)
    bn = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("abn"), F.col("c_name").alias("mn_trdg_nm")
    )
    return (
        cur.join(bn, "abn")
        .select(
            "abn",
            "mn_trdg_nm",
            "cur_othr_trdg_nm",
            # ISO string, the cross-engine date presentation contract
            F.date_format("cur_strt_dt", "yyyy-MM-dd").alias("cur_strt_dt"),
            "n_othr",
        )
        .orderBy("abn")
    )


def q_fuzzy_match_trading_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy_match_blocked fed by the trading-name resolution: the
    candidate table is main names UNION each entity's CURRENT other
    trading name, so a probe corrupted from a TRADING name (every 60th
    key -- a third of the probe set's multi-name entities) still
    resolves to its entity, which the main-name-only matcher cannot do.
    Output (probe_key, abn, name_kind, dist): best match per probe,
    ties by (dist, abn, name_kind) -- name_kind says WHICH registered
    name won.

    Scale shape: identical to fuzzy_match_blocked -- the levenshtein
    predicate runs only inside last-6-suffix blocks (aliases share
    their entity's digit tail, so the alias union multiplies block
    size by <= 2, never block count); one window on probe_key.
    Reference parity: SURVEY.md §2.A (r15 verdict item 5)."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    cur = _tn_current(spark, sf_dir)
    alias = c.select(
        F.col("c_custkey").alias("abn"),
        F.col("c_name").alias("nm"),
        F.lit("MAIN").alias("name_kind"),
    ).unionByName(
        cur.select(
            "abn",
            F.col("cur_othr_trdg_nm").alias("nm"),
            F.lit("OTH").alias("name_kind"),
        )
    )
    probes = (
        c.where(F.col("c_custkey") % 20 == 0)
        .join(
            cur.withColumnRenamed("abn", "__cabn"),
            F.col("c_custkey") == F.col("__cabn"),
            "left",
        )
        .select(
            F.col("c_custkey").alias("probe_key"),
            F.when(
                (F.col("c_custkey") % 60 == 0)
                & F.col("__cabn").isNotNull(),
                F.col("cur_othr_trdg_nm"),
            )
            .otherwise(F.col("c_name"))
            .alias("src"),
        )
        .select(
            "probe_key",
            F.expr(_TN_CORRUPT.format(c="src")).alias("probe_name"),
        )
    )
    scored = (
        probes.join(
            alias,
            F.expr("right(probe_name, 6)") == F.expr("right(nm, 6)"),
        )
        .withColumn(
            "dist", F.levenshtein("probe_name", "nm").cast("int")
        )
        .where(F.col("dist") <= 2)
    )
    w = Window.partitionBy("probe_key").orderBy(
        F.col("dist").asc(), F.col("abn").asc(), F.col("name_kind").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("probe_key", "abn", "name_kind", "dist")
        .orderBy("probe_key")
    )


QUERIES["trading_names_current"] = q_trading_names_current
QUERIES["fuzzy_match_trading_names"] = q_fuzzy_match_trading_names

#: shared synthesis + resolution CTEs -- the oracle derives the same
#: wire rows and resolves them with the same latest-start/name-ASC rule.
_TN_CTES = f"""WITH tn AS (
        SELECT c_custkey AS abn,
               'Trading#' || substr(c_name, 10) AS othr_trdg_nm,
               DATE '{TN_BASE_DATE}'
                   + CAST(c_custkey % 1000 AS INTEGER) AS strt_dt
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey,
               'Brand#' || substr(c_name, 10),
               DATE '{TN_BASE_DATE}'
                   + CAST((c_custkey * 7) % 1000 AS INTEGER)
        FROM customer WHERE c_custkey % 6 = 0
    ), cur AS (
        SELECT abn, othr_trdg_nm AS cur_othr_trdg_nm,
               strt_dt AS cur_strt_dt, CAST(n_othr AS BIGINT) AS n_othr
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY abn
                       ORDER BY strt_dt DESC, othr_trdg_nm ASC) AS rn,
                   count(*) OVER (PARTITION BY abn) AS n_othr
            FROM tn
        ) WHERE rn = 1
    )"""

ORACLES["trading_names_current"] = _TN_CTES + """
    SELECT c.c_custkey AS abn, c.c_name AS mn_trdg_nm,
           cur_othr_trdg_nm,
           strftime(cur_strt_dt, '%Y-%m-%d') AS cur_strt_dt, n_othr
    FROM cur JOIN customer c ON c.c_custkey = cur.abn
    ORDER BY abn
"""

ORACLES["fuzzy_match_trading_names"] = _TN_CTES + f"""
    , alias_t AS (
        SELECT c_custkey AS abn, c_name AS nm, 'MAIN' AS name_kind
        FROM customer
        UNION ALL
        SELECT abn, cur_othr_trdg_nm, 'OTH' FROM cur
    ), probes AS (
        SELECT c.c_custkey AS probe_key,
               CASE WHEN c.c_custkey % 60 = 0 AND cur.abn IS NOT NULL
                    THEN cur.cur_othr_trdg_nm ELSE c.c_name END AS src
        FROM customer c LEFT JOIN cur ON cur.abn = c.c_custkey
        WHERE c.c_custkey % 20 = 0
    ), probed AS (
        SELECT probe_key, {_TN_CORRUPT.format(c="src")} AS probe_name
        FROM probes
    ), scored AS (
        SELECT probe_key, abn, name_kind,
               CAST(levenshtein(probe_name, nm) AS INTEGER) AS dist
        FROM probed JOIN alias_t ON right(probe_name, 6) = right(nm, 6)
        WHERE levenshtein(probe_name, nm) <= 2
    )
    SELECT probe_key, abn, name_kind, dist FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY probe_key
                   ORDER BY dist ASC, abn ASC, name_kind ASC) AS rn
        FROM scored
    ) WHERE rn = 1
    ORDER BY probe_key
"""
