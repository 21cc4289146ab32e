"""Streaming-equivalent queries (SURVEY.md §2 D-block).

The driver contract runs batch DataFrames; ``stream_window_counts`` runs
the SAME ``windowed_counts`` transformation the streaming path uses
(tests/test_streaming.py proves stream == batch on a file-source replay),
so the oracle checks the shared semantics.
"""

from __future__ import annotations

import itertools
import threading
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window

from abr_etl_spark.sources.lake import load_table, read_parquet
from pyspark.sql import functions as F

from abr_etl_spark.streaming.stream_ops import (
    HIST_GRID_E2,
    attribution_join,
    read_event_stream,
    run_stream_to_memory,
    session_agg,
    sliding_avg,
    windowed_counts,
    windowed_value_histogram,
)


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window counts (same code as the stream path)."""
    return windowed_counts(load_table(spark, sf_dir, "events"))


def q_stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h event-time windows (same code as the stream path);
    the oracle derives each event's two panes arithmetically."""
    return sliding_avg(load_table(spark, sf_dir, "events"))


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-min-gap session windows (same code as the stream
    path); the oracle rebuilds sessions with lag-based island logic."""
    return session_agg(load_table(spark, sf_dir, "events"))


def q_stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click->purchase attribution within 1h (same code as the
    stream-stream join path; tests replay it as two watermarked
    streams)."""
    ev = load_table(spark, sf_dir, "events")
    return attribution_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


def q_stream_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER click<->purchase attribution: matched conversions plus
    never-converted clicks (NULL purchase) plus organic purchases with
    no preceding click (NULL click). On streams both unmatched sides
    emit only after the min-of-both watermarks proves no match can
    arrive (tests/test_streaming.py replays it); on batch it is the
    plain full-outer interval join the oracle checks."""
    ev = load_table(spark, sf_dir, "events")
    return attribution_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        how="fullOuter",
    )


def q_stream_quantile_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-window p50/p90 from the STREAMED fixed-grid value histogram
    -- the streaming member of the mergeable quantile-sketch family
    (quantile_merge_by_source's contract on a stream). The stream's
    single aggregation maintains (window, bucket, cnt) registers
    (stream_ops.windowed_value_histogram; replay == batch
    pytest-proven); THIS query is the downstream register read: rank
    interpolation in pure BIGINT over the stored census, output
    (window_start, n_events, p50_e6, p90_e6) -- e6 because the e2
    value quantization composes with the e4 rank fraction.

    Scale shape: the stream carries O(|windows in flight| x |grid|)
    state; the rollup is window-partitioned cumulative sums over the
    census only. The raw events are never re-scanned for quantiles.

    Reference parity: SURVEY.md §2.D; streaming twin of
    quantile_merge_by_source (analytics15.py)."""
    census = windowed_value_histogram(
        load_table(spark, sf_dir, "events")
    )
    wcum = (
        Window.partitionBy("window_start")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    from abr_etl_spark.functions.cache import materialize_result

    cum = materialize_result(
        census.withColumn("cum", F.sum("cnt").over(wcum)),
        family="stream_cum",
    )
    totals = cum.groupBy("window_start").agg(
        F.max("cum").cast("long").alias("n_events")
    )
    targets = totals.select(
        "window_start",
        "n_events",
        F.expr("((n_events - 1) * 5000) DIV 10000 AS k50"),
        F.expr("((n_events - 1) * 5000) % 10000 AS f50"),
        F.expr("((n_events - 1) * 9000) DIV 10000 AS k90"),
        F.expr("((n_events - 1) * 9000) % 10000 AS f90"),
    )
    j = cum.join(F.broadcast(targets), "window_start")
    picked = j.groupBy("window_start").agg(
        F.max("n_events").alias("n_events"),
        *[
            F.min(
                F.expr(
                    f"CASE WHEN cum >= {kexpr} + 1 THEN bucket END"
                )
            ).alias(alias)
            for kexpr, alias in [
                ("k50", "b50"),
                ("LEAST(k50 + 1, n_events - 1)", "b50n"),
                ("k90", "b90"),
                ("LEAST(k90 + 1, n_events - 1)", "b90n"),
            ]
        ],
        F.max("f50").alias("f50"),
        F.max("f90").alias("f90"),
    )
    return picked.select(
        "window_start",
        "n_events",
        F.expr(
            f"{HIST_GRID_E2} * (b50 * 10000 + f50 * (b50n - b50))"
        ).cast("long").alias("p50_e6"),
        F.expr(
            f"{HIST_GRID_E2} * (b90 * 10000 + f90 * (b90n - b90))"
        ).cast("long").alias("p90_e6"),
    ).orderBy("window_start")


#: file drops the events table is split into for the stateful replay --
#: >1 so keyed state PROVABLY carries across microbatches.
_STAGE_FILES = 4
#: repo-root spark-warehouse (gitignored) -- derived data lives here so the
#: query works whatever the caller session's cwd/warehouse config is.
_DERIVED_ROOT = Path(__file__).resolve().parents[2] / "spark-warehouse"
_rc_names = itertools.count()
#: serializes first-time staging: concurrent callers (a thread-pooled
#: benchmark or test runner) must not race the check-marker-then-
#: overwrite sequence on one staging directory.
_STAGE_LOCK = threading.Lock()


def _stage_root() -> Path:
    """Writable staging root: the repo-root spark-warehouse, or a per-user
    tempdir when the install is read-only (r6 advice -- previously these
    two driver keys hard-failed on a read-only checkout, unlike
    bucketed_join_revenue which already had a fallback)."""
    try:
        _DERIVED_ROOT.mkdir(parents=True, exist_ok=True)
        probe = _DERIVED_ROOT / ".__write_probe"
        probe.touch()
        probe.unlink()
        return _DERIVED_ROOT
    except OSError:
        import tempfile

        alt = Path(tempfile.gettempdir()) / "abr_etl_spark_stage"
        alt.mkdir(parents=True, exist_ok=True)
        return alt


def _events_fingerprint(sf_dir: str) -> str:
    """Content fingerprint (name/size/mtime) of the source events table.

    Stored inside the staging marker so regenerated testdata at the same
    path RESTAGES instead of replaying stale drops against a fresh oracle
    table (r6 advice: the old _SUCCESS marker never invalidated)."""
    import hashlib

    src = Path(sf_dir) / "events.parquet"
    entries = []
    for p in sorted(src.iterdir()) if src.is_dir() else [src]:
        st = p.stat()
        entries.append(f"{p.name}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256(";".join(entries).encode()).hexdigest()[:16]


def _stage_event_drops(spark: SparkSession, sf_dir: str) -> str:
    """Split sf_dir's events into _STAGE_FILES parquet drops (idempotent,
    keyed on sf_dir + source fingerprint) so a file-source stream replays
    them as a sequence of microbatches -- the local stand-in for a week
    of Kafka arrivals."""
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    out = _stage_root() / f"stream_stage_{tag}"
    marker = out / "_STAGED_FP"
    fp = _events_fingerprint(sf_dir)
    with _STAGE_LOCK:
        if marker.exists() and marker.read_text() == fp:
            return str(out)
        # raw read, NOT load_table: the staged files must keep the original
        # wire type for ts so read_event_stream normalizes exactly like the
        # batch reader does on the original file.
        (
            read_parquet(spark, f"{sf_dir}/events.parquet")
            .repartition(_STAGE_FILES, "event_id")
            .write.mode("overwrite")
            .parquet(str(out))
        )
        marker.write_text(fp)
        return str(out)


def q_stream_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful streaming under the driver's oracle gate: per-user
    cumulative event counts via applyInPandasWithState
    (streaming/stateful.py -- keyed GroupState, Arrow-batched), replayed
    over a multi-file drop with maxFilesPerTrigger=1 so the state
    genuinely persists ACROSS microbatches (pytest already proves
    stream==batch; this puts the same surface under the driver's
    CORRECTNESS gate, r5 verdict item 2).

    The memory sink accumulates one update row per (user, microbatch);
    the final state is the max of the monotone running count -- which the
    oracle recomputes as the plain batch GROUP BY. File-arrival order is
    nondeterministic but the final counts are order-invariant.
    """
    stage = _stage_event_drops(spark, sf_dir)
    from abr_etl_spark.streaming.stateful import running_counts_stateful

    stream = read_event_stream(spark, stage, max_files_per_trigger=1)
    name = f"rc_driver_{next(_rc_names)}"
    q = run_stream_to_memory(
        running_counts_stateful(stream), name, output_mode="update"
    )
    q.stop()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events_total").alias("n_events_total"))
    )


def _stage_event_drops_with_dups(spark: SparkSession, sf_dir: str) -> str:
    """Like _stage_event_drops plus ONE extra drop replaying every 10th
    event -- planted cross-microbatch duplicates for the dedup key.
    Idempotent via a fingerprint marker (the parquet _SUCCESS belongs to
    the first write and cannot witness the append; the fingerprint
    additionally restages when the source table was regenerated)."""
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    out = _stage_root() / f"stream_stage_dup_{tag}"
    marker = out / "_DUPS_STAGED"
    fp = _events_fingerprint(sf_dir)
    with _STAGE_LOCK:
        if marker.exists() and marker.read_text() == fp:
            return str(out)
        ev = read_parquet(spark, f"{sf_dir}/events.parquet")
        (
            ev.repartition(_STAGE_FILES, "event_id")
            .write.mode("overwrite")
            .parquet(str(out))
        )
        (
            ev.where(F.col("event_id") % 10 == 0)
            .coalesce(1)
            .write.mode("append")
            .parquet(str(out))
        )
        marker.write_text(fp)
        return str(out)


def q_stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once-per-key dedup under the driver gate:
    dropDuplicatesWithinWatermark over a drop sequence whose LAST file
    replays every 10th event (the at-least-once-delivery reality), so
    the duplicates arrive in a different microbatch than the originals
    and only keyed state can drop them. The watermark horizon is set
    beyond the corpus time span, so state covers the whole replay and
    the deduped stream aggregates to exactly the batch per-user counts
    -- which is what the oracle recomputes."""
    stage = _stage_event_drops_with_dups(spark, sf_dir)
    from abr_etl_spark.streaming.stream_ops import dedup_stream

    stream = read_event_stream(spark, stage, max_files_per_trigger=1)
    deduped = dedup_stream(stream, ["event_id"], watermark="2400 hours")
    name = f"dd_driver_{next(_rc_names)}"
    q = run_stream_to_memory(deduped, name, output_mode="append")
    q.stop()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )



def q_stream_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen census: a stateful min(ts) aggregate per
    user replayed over the multi-file drop (update mode -- each
    microbatch emits revised minima; arrival order across files is
    nondeterministic, which is exactly why the state must track MIN
    event time, not first arrival), folded to the per-day count of
    first-ever-seen users. The oracle recomputes the same census from
    the batch min: the streaming state's fixpoint is order-invariant.
    """
    stage = _stage_event_drops(spark, sf_dir)
    stream = read_event_stream(spark, stage, max_files_per_trigger=1)
    firsts = stream.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    name = f"fs_driver_{next(_rc_names)}"
    q = run_stream_to_memory(firsts, name, output_mode="update")
    q.stop()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.min("first_ts").alias("first_ts"))
        .select(F.date_format("first_ts", "yyyy-MM-dd").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n_new"))
        .orderBy("day")
    )

def q_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality sketch: HyperLogLog registers as a NATIVE
    streaming aggregation -- (m, n_filled, est) for distinct users over
    the multi-file replay. The register update max(rank) per bucket is
    order-invariant and monotone, so it runs as a plain update-mode
    groupBy (O(m) state, no arbitrary-state API needed) and the final
    registers equal the batch registers regardless of microbatch
    arrival order; the oracle recomputes the identical deterministic
    sketch (analytics8's squared-affine hash) over the batch table.
    The streaming face of hll_distinct: the same 16 rows of state would
    track a year of Kafka arrivals.
    """
    from abr_etl_spark.plans.analytics8 import (
        HLL_M,
        _hll_hash_sql,
        _hll_rank_sql,
        hll_est_sql,
    )

    stage = _stage_event_drops(spark, sf_dir)
    stream = read_event_stream(spark, stage, max_files_per_trigger=1)
    h = f"({_hll_hash_sql('user_id')})"
    regs = (
        stream.select(
            F.expr(f"{h} % {HLL_M}").alias("bucket"),
            F.expr(_hll_rank_sql(f"{h} DIV {HLL_M}")).alias("rank"),
        )
        .groupBy("bucket")
        .agg(F.max("rank").alias("max_rank"))
    )
    name = f"hll_driver_{next(_rc_names)}"
    q = run_stream_to_memory(regs, name, output_mode="update")
    q.stop()
    final = spark.table(name).groupBy("bucket").agg(
        F.max("max_rank").alias("max_rank")
    )
    return final.agg(
        F.count("*").cast("long").alias("n_filled"),
        F.sum(F.expr("power(2.0, -max_rank)")).alias("S_f"),
    ).select(
        F.lit(HLL_M).cast("int").alias("m"),
        "n_filled",
        F.expr(
            hll_est_sql(
                f"({HLL_M} - n_filled)",
                f"(({HLL_M} - n_filled) + S_f)",
            )
        ).alias("est"),
    )


STREAM_TOPK = 3


def q_stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-{STREAM_TOPK} event types per tumbling hour:
    (window_start, event_type, n, rank). The windowed counts run as a
    NATIVE update-mode streaming aggregation over the multi-file replay
    (watermark bounds state; counts per (window, type) are monotone, so
    the memory sink's max per key is the fixpoint regardless of
    microbatch arrival order -- which is also why the REPLAY runs
    unwatermarked, see below); the rank cut is a per-window row_number
    on the converged counts -- rank itself can't stream (it would
    retract), which is exactly why the production pattern is
    stream-aggregate + rank-on-read, reproduced here.

    Oracle: the batch window counts + the same deterministic
    (n desc, type asc) rank.
    """
    stage = _stage_event_drops(spark, sf_dir)
    stream = read_event_stream(spark, stage, max_files_per_trigger=1)
    # NO watermark in the replay: the staged files arrive in
    # nondeterministic order, so any finite lateness bound would drop
    # whole drops and the fixpoint would depend on arrival order.
    # Update mode keeps all window state; production puts a real
    # lateness bound here (windowed_counts' 2h) to bound state.
    agg = stream.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    name = f"tk_driver_{next(_rc_names)}"
    q = run_stream_to_memory(agg, name, output_mode="update")
    q.stop()
    final = (
        spark.table(name)
        .groupBy(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(F.max("n").alias("n"))
    )
    wnd = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        final.withColumn("rank", F.row_number().over(wnd))
        .where(F.col("rank") <= STREAM_TOPK)
        .select(
            "window_start", "event_type", "n",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("window_start", "rank")
    )


QUERIES = {
    "stream_running_counts": q_stream_running_counts,
    "stream_topk_windowed": q_stream_topk_windowed,
    "stream_hll_distinct": q_stream_hll_distinct,
    "stream_first_seen": q_stream_first_seen,
    "stream_dedup_exact": q_stream_dedup_exact,
    "stream_window_counts": q_stream_window_counts,
    "stream_quantile_windowed": q_stream_quantile_windowed,
    "stream_sliding_avg": q_stream_sliding_avg,
    "stream_session_windows": q_stream_session_windows,
    "stream_attribution_join": q_stream_attribution_join,
    "stream_attribution_outer": q_stream_attribution_outer,
}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "stream_quantile_windowed": ("stream_cum",),
}

ORACLES = {
    # The streaming registers' fixpoint equals the batch sketch.
    "stream_hll_distinct": None,  # filled below (needs analytics8 texts)
    # The stateful stream's final per-key state IS the batch aggregate.
    "stream_running_counts": """
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events_total
        FROM events GROUP BY user_id
    """,
    # The deduped replay must collapse the planted duplicate drop back to
    # the original per-user counts.
    "stream_dedup_exact": """
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    """,
    "stream_window_counts": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    # the streamed registers' rollup: same fixed-grid census + rank
    # interpolation in BIGINT (the quantile_merge_by_source kernel
    # with window_start as the scope).
    "stream_quantile_windowed": f"""
        WITH census AS MATERIALIZED (
            SELECT strftime(date_trunc('hour', ts),
                            '%Y-%m-%d %H:%M:%S') AS window_start,
                   CAST(floor(value * 100 + 0.5) AS BIGINT)
                       // {HIST_GRID_E2} AS bucket,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ), cum AS (
            SELECT *, sum(cnt) OVER (PARTITION BY window_start
                ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS cum
            FROM census
        ), targets AS (
            SELECT window_start,
                   CAST(max(cum) AS BIGINT) AS n_events,
                   ((CAST(max(cum) AS BIGINT) - 1) * 5000) // 10000 AS k50,
                   ((CAST(max(cum) AS BIGINT) - 1) * 5000) % 10000 AS f50,
                   ((CAST(max(cum) AS BIGINT) - 1) * 9000) // 10000 AS k90,
                   ((CAST(max(cum) AS BIGINT) - 1) * 9000) % 10000 AS f90
            FROM cum GROUP BY window_start
        ), picked AS (
            SELECT c.window_start, max(t.n_events) AS n_events,
                   min(CASE WHEN c.cum >= t.k50 + 1 THEN c.bucket END)
                       AS b50,
                   min(CASE WHEN c.cum >=
                       least(t.k50 + 1, t.n_events - 1) + 1
                       THEN c.bucket END) AS b50n,
                   min(CASE WHEN c.cum >= t.k90 + 1 THEN c.bucket END)
                       AS b90,
                   min(CASE WHEN c.cum >=
                       least(t.k90 + 1, t.n_events - 1) + 1
                       THEN c.bucket END) AS b90n,
                   max(t.f50) AS f50, max(t.f90) AS f90
            FROM cum c JOIN targets t ON t.window_start = c.window_start
            GROUP BY c.window_start
        )
        SELECT window_start, n_events,
               CAST({HIST_GRID_E2} * (b50 * 10000 + f50 * (b50n - b50))
                    AS BIGINT) AS p50_e6,
               CAST({HIST_GRID_E2} * (b90 * 10000 + f90 * (b90n - b90))
                    AS BIGINT) AS p90_e6
        FROM picked
        ORDER BY window_start
    """,
    # Each event falls in exactly two 2h-wide panes sliding by 1h: the
    # pane starting at its hour and the one an hour earlier (Spark's
    # window() aligns pane starts to the epoch).
    "stream_sliding_avg": """
        WITH e AS (
            SELECT value, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
            FROM events
        ), paned AS (
            SELECT CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4,
                   unnest([h, h - 1]) AS pane
            FROM e
        )
        SELECT strftime(to_timestamp(pane * 3600), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               ((2 * CAST(sum(v_e4) AS BIGINT) + count(*))
                   // (2 * count(*))) / 10000.0 AS avg_value,
               count(*) AS n
        FROM paned
        GROUP BY pane
    """,
    # Sessions merge while consecutive same-user events are <= 30 min
    # apart; Spark's session end is last_ts + gap. The lag-based island
    # numbering below reproduces exactly that.
    "stream_session_windows": """
        WITH e AS (
            SELECT user_id, ts,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
            SELECT *, sum(new_s) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM e
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
                   AS session_end,
               count(*) AS n_events,
               CAST(sum(v_e4) AS BIGINT) AS sum_v_e4
        FROM s
        GROUP BY user_id, sid
    """,
    "stream_attribution_join": """
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               CAST(floor(epoch(p.ts)) AS BIGINT)
                   - CAST(floor(epoch(c.ts)) AS BIGINT) AS gap_s
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts < c.ts + INTERVAL 1 HOUR
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    # The event-type filters live in the join INPUTS (subqueries), not a
    # post-join WHERE -- on an outer join a WHERE would wrongly drop the
    # NULL-side rows.
    "stream_attribution_outer": """
        SELECT coalesce(c.user_id, p.user_id) AS user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               CAST(floor(epoch(p.ts)) AS BIGINT)
                   - CAST(floor(epoch(c.ts)) AS BIGINT) AS gap_s
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        FULL OUTER JOIN
             (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts < c.ts + INTERVAL 1 HOUR
    """,
}

ORACLES["stream_topk_windowed"] = f"""
    WITH counts AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n DESC, event_type ASC) AS rank
        FROM counts
    )
    SELECT window_start, event_type, n, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {STREAM_TOPK}
    ORDER BY window_start, rank
"""

ORACLES["stream_first_seen"] = """
    SELECT day, CAST(count(*) AS BIGINT) AS n_new
    FROM (SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS day
          FROM events GROUP BY user_id)
    GROUP BY day ORDER BY day
"""


def _hll_stream_oracle() -> str:
    from abr_etl_spark.plans.analytics8 import (
        HLL_M,
        _hll_hash_sql,
        _HLL_W_BITS,
        hll_est_sql,
    )

    h = f"({_hll_hash_sql('user_id', engine='duckdb')})"
    rank = (
        f"(CASE WHEN {h} // {HLL_M} = 0 THEN {_HLL_W_BITS + 1} "
        f"ELSE {_HLL_W_BITS + 1} - length(bin({h} // {HLL_M})) END)"
    )
    est = hll_est_sql(
        f"({HLL_M} - n_filled)", f"(({HLL_M} - n_filled) + S_f)"
    )
    return f'''
        WITH regs AS (
            SELECT {h} % {HLL_M} AS bucket, max({rank}) AS max_rank
            FROM events GROUP BY 1
        ), agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_filled,
                   sum(power(2.0, -max_rank)) AS S_f
            FROM regs
        )
        SELECT CAST({HLL_M} AS INTEGER) AS m, n_filled, {est} AS est
        FROM agg
    '''


ORACLES["stream_hll_distinct"] = _hll_stream_oracle()
