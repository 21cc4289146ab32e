"""Structured Streaming operators over the events stream.

Design: every transformation here is written against a plain DataFrame so
the SAME function serves batch (parquet scan) and streaming (readStream)
inputs -- the Spark-idiomatic way to keep one code path for replay and
live data. Watermarks bound state for late data; windowed aggregations
shuffle on (window, key) which AQE cannot touch in streaming, so the
shuffle partition count matters (set in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from abr_etl_spark.functions.event_time import normalize_event_time
from abr_etl_spark.sources.lake import read_parquet


def windowed_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window counts + value sum per event_type.

    On a streaming input the watermark bounds state (late rows beyond it
    are dropped); on a batch input the watermark is a no-op, so batch
    replay produces the streaming steady-state result -- which is exactly
    what the DuckDB oracle checks.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


#: fixed grid width of the windowed value histogram, in e2 value units
#: (4.00 value units per bucket over this corpus's 0.01..490 range --
#: ~125 registers per window).
HIST_GRID_E2 = 400


def windowed_value_histogram(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    grid_e2: int = HIST_GRID_E2,
) -> DataFrame:
    """Tumbling event-time fixed-grid value histogram -- the STREAMING
    member of the mergeable quantile-sketch family
    (plans/analytics15.quantile_merge_by_source): per (window, bucket =
    e2-quantized value DIV {HIST_GRID_E2}) counts, a SINGLE streaming
    aggregation whose state is O(|windows in flight| x |grid|).

    The registers ARE the sink: count addition is associative and
    commutative, so microbatch increments land in any order and the
    stream's steady state equals the batch histogram exactly
    (tests/test_streaming.py replays it); quantile extraction
    (p50/p90) runs DOWNSTREAM on the stored registers
    (plans/streaming_queries.q_stream_quantile_windowed) -- never
    inside the stream, which is what keeps this a one-aggregation,
    append-compatible plan.

    On a streaming input the watermark bounds state; on batch it is a
    no-op, so batch replay IS the steady state the oracle checks."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(
            F.window("ts", window),
            F.expr(
                f"CAST(floor(value * 100 + 0.5) AS BIGINT)"
                f" DIV {grid_e2}"
            ).alias("bucket"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format(
                F.col("window.start"), "yyyy-MM-dd HH:mm:ss"
            ).alias("window_start"),
            "bucket",
            "cnt",
        )
    )


def sliding_avg(
    events: DataFrame,
    *,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "4 hours",
) -> DataFrame:
    """Sliding event-time windows (each row lands in window/slide panes).
    Same batch/stream duality as windowed_counts."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    # Exact integer averaging (values are non-negative): quantize each
    # value to 1e-4 units half-up, then avg = (2s + n) DIV (2n) -- pure
    # integer math, so batch, stream, and the DuckDB oracle agree
    # bit-for-bit (round(avg(double), 4) diverges between engines on
    # x.xxxx5 knife edges: Spark rounds the shortest decimal repr,
    # DuckDB the true binary value).
    v_e4 = F.floor(F.col("value") * 10000 + 0.5).cast("long")
    return (
        src.groupBy(F.window("ts", window, slide))
        .agg(F.sum(v_e4).alias("__s"), F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            (F.expr("(2 * __s + n) DIV (2 * n)") / 10000.0).alias("avg_value"),
            "n",
        )
    )


def session_agg(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows (gap-merged): Spark's native
    session_window keeps sessions open while events arrive within
    ``gap`` and closes them at last_ts + gap.

    Batch/stream dual like every op here: on a stream the watermark
    finalizes sessions (append mode emits a session once the watermark
    passes its end); on a batch input the same expression computes the
    steady state the DuckDB oracle checks with lag-based island logic.
    Values ride exact 1e-4 integer units so engines agree bit-for-bit.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    v_e4 = F.floor(F.col("value") * 10000 + 0.5).cast("long")
    return (
        src.groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.sum(v_e4).alias("sum_v_e4"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "sum_v_e4",
        )
    )


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch-batch) interval join: every purchase
    attributed to each same-user click in the preceding ``horizon``.

    On streams both sides carry watermarks and the time-bound condition
    lets Spark expire join state (the unbounded-state trap of naive
    stream-stream joins); an INNER join emits matches as they arrive, so
    no watermark flush is needed for output. how="leftOuter" also emits
    never-converted clicks (NULL purchase) -- but only once the
    watermark passes their horizon, when Spark can PROVE no match is
    coming (the replay test flushes with far-future sentinels).
    how="fullOuter" additionally emits orphan purchases (no click in the
    preceding horizon -- NULL click), under the same
    watermark-proves-absence rule on BOTH sides; user_id is coalesced
    across sides so orphan rows keep their key. On batch inputs the
    same expression is a plain (outer) interval join -- what the oracle
    checks.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
        p = p.withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
        how,
    ).select(
        # coalesce is a no-op for inner/leftOuter (c_user never null
        # there) and keeps the key on orphan-purchase rows in fullOuter.
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "purchase_id",
        (
            F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")
        ).alias("gap_s"),
    )


def enrich_stream_with_dim(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: the dim side is a batch DataFrame broadcast to
    every micro-batch -- the standard pattern for decorating events with
    slowly-changing reference data (re-read per batch if the dim is a
    lake table that updates)."""
    from pyspark.sql.functions import broadcast

    return stream.join(broadcast(dim), on=on, how="left")


def dedup_stream(
    events: DataFrame, keys: list[str], *, watermark: str = "2 hours"
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon:
    dropDuplicatesWithinWatermark bounds state, unlike global
    dropDuplicates which would grow state forever on an infinite stream."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return events.dropDuplicates(keys)


def read_event_stream(
    spark: SparkSession,
    dir_path: str,
    *,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over a directory of event parquet drops --
    the replayable local stand-in for Kafka/Kinesis ingestion. The nanos
    TIMESTAMP is normalized exactly like the batch reader. The schema is
    learnt from the drops' footers on the driver (``read_parquet``)."""
    schema = read_parquet(spark, dir_path).schema
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )
    return normalize_event_time(df, "ts")


def stream_to_lake(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    *,
    partition_col: str = "event_date",
    epoch_col: str = "__epoch",
):
    """foreachBatch sink into the partitioned lake, exactly-once OUTPUT.

    foreachBatch alone is at-least-once: after a failure the checkpoint
    replays the last micro-batch, and a blind append would duplicate its
    rows. Here every batch stamps its epoch_id and dynamic partition
    overwrite keys the write on (partition_col, epoch) -- a replayed
    epoch REPLACES exactly the partitions it wrote before, making the
    write idempotent and the sink effectively-once. Readers see the
    extra ``__epoch`` partition column (drop or prune it downstream;
    it also gives per-epoch lineage for audits). This is the bridge
    from the streaming half of the engine into the batch lake the
    delta/analytics operators read."""
    if partition_col not in stream.columns:
        stream = stream.withColumn(partition_col, F.to_date("ts"))

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch_idempotent(
            batch_df,
            epoch_id,
            path,
            partition_col=partition_col,
            epoch_col=epoch_col,
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def write_epoch_idempotent(
    batch_df: DataFrame,
    epoch_id: int,
    path: str,
    *,
    partition_col: str = "event_date",
    epoch_col: str = "__epoch",
) -> None:
    """Idempotent micro-batch write: dynamic partition overwrite keyed on
    (partition_col, epoch) replaces exactly the partitions this epoch
    wrote before, so a checkpoint replay of the same epoch is a no-op
    rather than an append of duplicates."""
    (
        batch_df.withColumn(epoch_col, F.lit(epoch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col, epoch_col)
        .parquet(path)
    )


def run_stream_to_memory(
    result: DataFrame, table_name: str, *, output_mode: str = "complete"
):
    """Drive a streaming DF into an in-memory sink until the source is
    drained (test/replay harness)."""
    q = (
        result.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    return q


def stream_cdc_apply(
    stream: DataFrame,
    path: str,
    *,
    key: str,
    checkpoint: str,
    removed_flag: str | None = None,
    n_buckets: int = 8,
):
    """Streaming CDC-apply sink: each micro-batch of upserts (and,
    when ``removed_flag`` names a boolean column, deletions) is merged
    into the maintenance.merge_snapshot current-state table with
    epoch = batch_id -- Structured Streaming guarantees batch ids are
    stable across checkpoint recovery, so a REPLAYED micro-batch hits
    the per-bucket epoch markers and is a metadata no-op (the
    exactly-once contract write_epoch_idempotent gives lake appends,
    extended to upsert/delete semantics). Returns the started query.

    Scale shape per batch: exactly merge_snapshot's -- partition-pruned
    read of affected buckets, broadcast anti-join, bucket-local
    rewrite; untouched buckets never read, replays read only markers.
    ``n_buckets`` stays explicit: the first micro-batch is not the
    table, so merge_snapshot's sizing from its bytes would undersize it.
    """
    from abr_etl_spark.operators.maintenance import merge_snapshot

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if removed_flag is not None:
            ups = batch_df.where(~F.col(removed_flag)).drop(removed_flag)
            rem = batch_df.where(F.col(removed_flag)).select(key)
        else:
            ups, rem = batch_df, None
        merge_snapshot(
            batch_df.sparkSession,
            path,
            ups,
            rem,
            key=key,
            epoch=int(epoch_id),
            n_buckets=n_buckets,
        )

    return (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(apply_batch)
        .start()
    )
