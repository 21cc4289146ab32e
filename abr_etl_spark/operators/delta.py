"""Two-snapshot CDC (change-data-capture) delta engine.

Reference semantics (agency-delta.go):
- *updated* (agencyChangeSQL, agency-delta.go:126-201): self-join the
  snapshot table on key ``pid`` for (newest, previous) importdates, keep
  rows where ANY payload column differs (34 explicit ``!=`` ORs).
- *added* (agencyNewSQL, agency-delta.go:203-246): rows in newest whose key
  is absent from previous. (The reference SQL filters ``n2.importdate`` in
  WHERE after a LEFT JOIN, which can never be true for the NULL rows it
  then selects -- we implement the intended anti-join.)

Spark-first redesign, built for 100 TB snapshots:

1. NEVER diff N columns with N OR-predicates. Each side computes a single
   ``xxhash64`` over the payload columns at scan time (whole-stage codegen,
   column-pruned where possible).
2. The classify join carries ONLY (key, row_hash) -- a few dozen bytes/row
   -- so the shuffle for a 100 TB snapshot pair moves ~1% of the data.
3. Full payload rows for changed keys are recovered with a semi-join
   against the (small) changed-key set, which AQE turns into a broadcast
   join in the common case (deltas << snapshot).
4. NULL-safe: the reference's ``!=`` silently ignores NULL→value changes
   (Athena three-valued logic); our hash treats NULL as a distinct value,
   which is the intended CDC semantics. ``null_unsafe=True`` reproduces the
   reference's literal (buggy) comparison for parity testing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from abr_etl_spark.functions.cache import materialize_result

_HASH_COL = "__row_hash"
_NULL_SENTINEL = "\x00<NULL>\x00"


def _payload_cols(df: DataFrame, key: str, exclude: tuple[str, ...]) -> list[str]:
    return [c for c in df.columns if c != key and c not in exclude]


def row_hash(df: DataFrame, cols: list[str]) -> DataFrame:
    """Attach a 64-bit content hash over ``cols``.

    NULLs are disambiguated from empty strings via a sentinel so that
    (NULL, 'x') and ('', 'x') hash differently, and a changed NULL is a
    detected change (unlike the reference's ``!=``).
    """
    hashed = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL)) for c in cols
    ]
    return df.withColumn(_HASH_COL, F.xxhash64(*hashed))


def snapshot_pair(
    df: DataFrame,
    key: str,
    *,
    newest: str,
    previous: str,
    partition_col: str = "importdate",
) -> tuple[DataFrame, DataFrame]:
    """Partition-pruned (newest, previous) snapshot scans."""
    p = F.col(partition_col).cast("string")
    return df.where(p == newest), df.where(p == previous)


def delta_classify(
    new_df: DataFrame,
    old_df: DataFrame,
    key: str,
    *,
    exclude: tuple[str, ...] = ("importdate",),
) -> DataFrame:
    """Classify every key as added / removed / updated / unchanged.

    Returns (key, change) -- the narrow core. The join input is projected
    to (key, hash) BEFORE the shuffle: Catalyst pushes the projection into
    the scans, so at 100 TB the exchange carries 16 bytes/row.
    """
    cols = _payload_cols(new_df, key, exclude)
    n = row_hash(new_df, cols).select(F.col(key), F.col(_HASH_COL).alias("__h_new"))
    o = row_hash(old_df, cols).select(F.col(key), F.col(_HASH_COL).alias("__h_old"))
    joined = n.join(o, on=key, how="full_outer")
    return joined.select(
        key,
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_new") != F.col("__h_old"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )


def delta_updated(
    new_df: DataFrame,
    old_df: DataFrame,
    key: str,
    *,
    exclude: tuple[str, ...] = ("importdate",),
    null_unsafe: bool = False,
) -> DataFrame:
    """Rows of the NEW snapshot whose payload changed vs the old snapshot.

    Output schema == new snapshot schema (reference emits the newest row,
    agency-delta.go:127-160). ``null_unsafe`` reproduces the reference's
    literal ``!=`` OR-chain (NULL-blind) for parity checks.
    """
    if null_unsafe:
        cols = _payload_cols(new_df, key, exclude)
        o = old_df.select(
            F.col(key), *[F.col(c).alias(f"__old_{c}") for c in cols]
        )
        cond = None
        for c in cols:
            p = F.col(c) != F.col(f"__old_{c}")
            cond = p if cond is None else (cond | p)
        return (
            new_df.join(o, on=key, how="inner")
            .where(cond)
            .select(*new_df.columns)
        )
    # Direct formulation: full new rows join the old side projected to
    # (key, hash) -- 16 bytes/row. One join, two exchanges max; when the
    # old narrow side fits the broadcast threshold AQE turns this into a
    # broadcast join and the new side is never shuffled at all. (The
    # classify-then-semi-join alternative shuffles new TWICE.)
    cols = _payload_cols(new_df, key, exclude)
    n = row_hash(new_df, cols).withColumnRenamed(_HASH_COL, "__h_new")
    o = row_hash(old_df, cols).select(
        F.col(key), F.col(_HASH_COL).alias("__h_old")
    )
    return (
        n.join(o, on=key, how="inner")
        .where(F.col("__h_new") != F.col("__h_old"))
        .select(*new_df.columns)
    )


def delta_added(
    new_df: DataFrame,
    old_df: DataFrame,
    key: str,
) -> DataFrame:
    """Rows in newest with no key in previous -- a direct anti-join; no
    hashing needed (presence, not content)."""
    return new_df.join(old_df.select(key), on=key, how="left_anti")


def delta_removed(
    new_df: DataFrame,
    old_df: DataFrame,
    key: str,
) -> DataFrame:
    """Rows in previous with no key in newest (complement of added)."""
    return old_df.join(new_df.select(key), on=key, how="left_anti")


def delta_unchanged_count(
    new_df: DataFrame,
    old_df: DataFrame,
    key: str,
    *,
    exclude: tuple[str, ...] = ("importdate",),
) -> DataFrame:
    """Count of hash-identical rows (cheap audit metric)."""
    return (
        delta_classify(new_df, old_df, key, exclude=exclude)
        .groupBy("change")
        .agg(F.count("*").alias("n"))
    )


def delta_from_lake(
    lake_df: DataFrame,
    key: str,
    *,
    newest: str,
    previous: str,
    partition_col: str = "importdate",
) -> DataFrame:
    """Single-scan CDC over a partitioned lake table: the 100 TB plan.

    Where ``delta_classify`` joins two scans, this reads BOTH snapshots in
    ONE partition-pruned scan (``importdate IN (newest, previous)``),
    hashes each row, and classifies with a single groupBy on the key --
    one shuffle total, map-side partial aggregation, no join at all:

        scan(2 partitions) -> project(key, side, hash) -> groupBy(key)

    Returns (key, change) like delta_classify.
    """
    p = F.col(partition_col).cast("string")
    pruned = lake_df.where(p.isin(newest, previous))
    cols = [
        c for c in lake_df.columns if c not in (key, partition_col)
    ]
    hashed = row_hash(pruned, cols).select(
        F.col(key),
        F.when(p == newest, F.col(_HASH_COL)).alias("__h_new"),
        F.when(p == previous, F.col(_HASH_COL)).alias("__h_old"),
    )
    agg = hashed.groupBy(key).agg(
        F.max("__h_new").alias("__h_new"),
        F.max("__h_old").alias("__h_old"),
    )
    return agg.select(
        key,
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_new") != F.col("__h_old"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )


def incremental_agg(
    new_df: DataFrame,
    old_df: DataFrame,
    key: str,
    *,
    group_col: str,
    sum_col: str,
    exclude: tuple[str, ...] = ("importdate",),
) -> DataFrame:
    """Maintain (count, sum) aggregates incrementally from a snapshot
    delta instead of recomputing over the full new snapshot.

    base(old) + contributions(added) + (new-old over updated keys)
    - contributions(removed)  ==  recompute(new)

    At 100 TB this touches the OLD AGGREGATE (tiny) plus only the changed
    rows: the adjustment streams are the delta outputs, so the cost is
    O(|delta|), not O(|snapshot|). Exact for decomposable aggregates
    (count/sum/avg-from-sums); the oracle IS the full recompute.
    """
    # One classify pass, materialized: the (key, change) projection is a
    # 16-byte-per-row set consumed by BOTH semi-joins below -- without the
    # persist the full-outer classify join (two snapshot scans + hashes)
    # executes once per consumer.
    classified = (
        delta_classify(new_df, old_df, key, exclude=exclude)
        .select(key, "change")
        .persist()
    )
    base = old_df.groupBy(group_col).agg(
        F.count("*").alias("n"), F.sum(sum_col).alias("s")
    )
    # Single-pass adjustments: +rows from the NEW snapshot for added and
    # updated keys, -rows from the OLD snapshot for removed and updated
    # keys; one union, one groupBy (vs four join+agg branches).
    plus = new_df.join(
        classified.where(F.col("change").isin("added", "updated")).select(key),
        key,
        "left_semi",
    ).select(group_col, F.lit(1).alias("sign"), F.col(sum_col).alias("v"))
    minus = old_df.join(
        classified.where(F.col("change").isin("removed", "updated")).select(key),
        key,
        "left_semi",
    ).select(group_col, F.lit(-1).alias("sign"), F.col(sum_col).alias("v"))
    adjustments = (
        plus.unionByName(minus)
        .groupBy(group_col)
        .agg(
            F.sum("sign").alias("dn"),
            F.sum(F.col("sign") * F.col("v")).alias("ds"),
        )
    )
    out = (
        base.join(adjustments, group_col, "full_outer")
        .select(
            group_col,
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n_rows"),
            # integer zero: coalescing with 0.0 promoted BIGINT cent
            # sums to DOUBLE, silently re-capping exactness at 2^53
            # cents; with lit(0) an integral sum_col stays integral
            # end-to-end (doubles are unaffected -- coalesce(double,
            # int) is still double). (r13 ADVICE)
            F.round(
                F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0)), 2
            ).alias("sum_value"),
        )
        .where(F.col("n_rows") > 0)
    )
    # Materialize the (group-cardinality-sized) aggregate, then drop the
    # classify cache -- result-cache ownership lives in functions/cache.py.
    out = materialize_result(out, family="incr_agg")
    classified.unpersist()
    return out


def snapshot_latest(
    df: DataFrame,
    key: str,
    order_col: str = "importdate",
) -> DataFrame:
    """Latest record per key across all snapshots (dedupe-by-recency).

    Window + row_number shuffles once on the key; at scale prefer
    partition-pruning to the last snapshot when the lake guarantees full
    snapshots -- this operator exists for incremental/append lakes.
    """
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2(
    df: DataFrame,
    key: str,
    *,
    snapshot_col: str = "importdate",
    exclude: tuple[str, ...] = (),
) -> DataFrame:
    """Fold a series of full snapshots into type-2 history.

    For each key, consecutive snapshots with identical payload hash are
    collapsed; each change opens a new version with
    (valid_from, valid_to, is_current). One shuffle on the key; the
    window functions reuse the same partitioning (single Exchange).
    """
    cols = [c for c in df.columns if c not in (key, snapshot_col) and c not in exclude]
    hashed = row_hash(df, cols)
    w = Window.partitionBy(key).orderBy(F.col(snapshot_col).asc())
    changed = hashed.withColumn(
        "__prev_hash", F.lag(_HASH_COL).over(w)
    ).where(
        F.col("__prev_hash").isNull() | (F.col("__prev_hash") != F.col(_HASH_COL))
    )
    w2 = Window.partitionBy(key).orderBy(F.col(snapshot_col).asc())
    return (
        changed.withColumn(
            "valid_from", F.col(snapshot_col)
        )
        .withColumn("valid_to", F.lead(snapshot_col).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(_HASH_COL, "__prev_hash")
    )
