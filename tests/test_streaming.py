"""D-block: file-source streaming replay == batch result; stateful op
maintains keyed state across microbatches; oracle check for the shared
windowed-count semantics."""

import pytest
import shutil

from pyspark.sql import functions as F

from abr_etl_spark.plans import streaming_queries
from abr_etl_spark.sources.lake import load_table
from abr_etl_spark.streaming import stateful, stream_ops
from tests.conftest import SF_ORACLE, SF_SMOKE, assert_matches_oracle


def test_stream_window_counts_vs_oracle(spark, ddb):
    df = streaming_queries.q_stream_window_counts(spark, SF_ORACLE)
    assert_matches_oracle(
        df, ddb, streaming_queries.ORACLES["stream_window_counts"], "stream"
    )


def _stage_events(tmp_path):
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "events.parquet")
    return str(d)


def _ts_plus_days(max_ts, days: int):
    """Advance a raw wire-schema ts value by N days, whatever the runtime
    read the parquet as: int64 nanos (legacy nanosAsLong) stays integer
    math; TIMESTAMP_NTZ / TIMESTAMP come back as datetimes and take a
    timedelta. Keeps the watermark-sentinel tests runtime-proof the same
    way functions/event_time.py keeps the operators runtime-proof."""
    import datetime as _dt

    if isinstance(max_ts, int):
        return max_ts + days * 86400 * 10**9
    return max_ts + _dt.timedelta(days=days)


def test_streaming_replay_equals_batch(spark, tmp_path):
    src_dir = _stage_events(tmp_path)
    stream = stream_ops.read_event_stream(spark, src_dir)
    assert stream.isStreaming
    q = stream_ops.run_stream_to_memory(
        stream_ops.windowed_counts(stream), "wc_stream"
    )
    try:
        got = {
            tuple(r)
            for r in spark.sql("select * from wc_stream").collect()
        }
        want = {
            tuple(r)
            for r in stream_ops.windowed_counts(
                load_table(spark, SF_SMOKE, "events")
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_stateful_running_counts(spark, tmp_path):
    src_dir = _stage_events(tmp_path)
    stream = stream_ops.read_event_stream(spark, src_dir)
    result = stateful.running_counts_stateful(stream)
    q = stream_ops.run_stream_to_memory(result, "rc_stream", output_mode="update")
    try:
        got = {
            r["user_id"]: r["n_events_total"]
            for r in spark.sql(
                "select user_id, max(n_events_total) n_events_total from rc_stream group by user_id"
            ).collect()
        }
        want = {
            r["user_id"]: r["n"]
            for r in load_table(spark, SF_SMOKE, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == want
    finally:
        q.stop()


def test_sliding_window_stream_equals_batch(spark, tmp_path):
    src_dir = _stage_events(tmp_path)
    stream = stream_ops.read_event_stream(spark, src_dir)
    q = stream_ops.run_stream_to_memory(
        stream_ops.sliding_avg(stream), "sl_stream"
    )
    try:
        got = {tuple(r) for r in spark.sql("select * from sl_stream").collect()}
        want = {
            tuple(r)
            for r in stream_ops.sliding_avg(
                load_table(spark, SF_SMOKE, "events")
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_stream_static_join(spark, tmp_path):
    src_dir = _stage_events(tmp_path)
    stream = stream_ops.read_event_stream(spark, src_dir)
    dim = spark.createDataFrame(
        [("click", "interaction"), ("view", "interaction"), ("purchase", "revenue")],
        "event_type string, category string",
    )
    enriched = stream_ops.enrich_stream_with_dim(stream, dim, "event_type")
    q = stream_ops.run_stream_to_memory(
        enriched.groupBy("category").count(), "enr_stream"
    )
    try:
        got = {
            r["category"]: r["count"]
            for r in spark.sql("select * from enr_stream").collect()
        }
        batch = load_table(spark, SF_SMOKE, "events").join(dim, "event_type", "left")
        want = {
            r["category"]: r["count"]
            for r in batch.groupBy("category").count().collect()
        }
        assert got == want
    finally:
        q.stop()


def test_dedup_stream_drops_replayed_duplicates(spark, tmp_path):
    import shutil as _sh

    d = tmp_path / "dup_stream"
    d.mkdir()
    _sh.copy(f"{SF_SMOKE}/events.parquet", d / "a.parquet")
    _sh.copy(f"{SF_SMOKE}/events.parquet", d / "b.parquet")  # full replay dup
    stream = stream_ops.read_event_stream(spark, str(d), max_files_per_trigger=2)
    deduped = stream_ops.dedup_stream(stream, ["event_id"])
    q = stream_ops.run_stream_to_memory(
        deduped, "dd_stream", output_mode="append"
    )
    try:
        n = spark.sql("select count(distinct event_id) c, count(*) n from dd_stream").first()
        want = load_table(spark, SF_SMOKE, "events").count()
        assert n["n"] == want and n["c"] == want
    finally:
        q.stop()


def test_stream_to_lake_roundtrip(spark, tmp_path):
    src_dir = _stage_events(tmp_path)
    stream = stream_ops.read_event_stream(spark, src_dir)
    lake_path = str(tmp_path / "event_lake")
    q = stream_ops.stream_to_lake(
        stream, lake_path, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(lake_path)
    want = load_table(spark, SF_SMOKE, "events")
    assert back.count() == want.count()
    assert "event_date" in back.columns  # partition column materialized
    assert back.select("event_date").distinct().count() == 30


def test_stream_to_lake_replayed_epoch_is_idempotent(spark, tmp_path):
    """A checkpoint replay re-delivers the same micro-batch; the epoch-
    keyed dynamic overwrite must not duplicate its rows."""
    lake_path = str(tmp_path / "lake")
    batch = load_table(spark, SF_SMOKE, "events").limit(100).withColumn(
        "event_date", F.to_date("ts")
    )
    stream_ops.write_epoch_idempotent(batch, 7, lake_path)
    once = spark.read.parquet(lake_path).count()
    stream_ops.write_epoch_idempotent(batch, 7, lake_path)  # replay
    again = spark.read.parquet(lake_path).count()
    assert once == again == 100
    # a NEW epoch appends rather than clobbering other epochs
    stream_ops.write_epoch_idempotent(batch, 8, lake_path)
    assert spark.read.parquet(lake_path).count() == 200


def test_session_windows_vs_oracle(spark, ddb):
    df = streaming_queries.q_stream_session_windows(spark, SF_ORACLE)
    assert_matches_oracle(
        df, ddb, streaming_queries.ORACLES["stream_session_windows"], "sessions"
    )


def test_session_window_stream_equals_batch(spark, tmp_path):
    """Append-mode session windows finalize when the watermark passes
    their end; a far-future sentinel event (filtered from the compare)
    pushes the watermark past every real session."""
    import glob as _glob
    import shutil as _sh

    d = tmp_path / "sess_stream"
    d.mkdir()
    _sh.copy(f"{SF_SMOKE}/events.parquet", d / "a.parquet")
    ev = load_table(spark, SF_SMOKE, "events")
    raw = spark.read.parquet(str(d / "a.parquet"))  # wire schema: ts int64 nanos
    max_ts = raw.agg(F.max("ts").alias("m")).first()["m"]

    def _drop_sentinel(name: str, eid: int, ts_ns: int) -> None:
        # The file-stream source lists plain FILES: write the one-row
        # sentinel through Spark in the raw wire schema (ts = int64
        # nanos, like the generated parquet), then copy the part file
        # in as a flat file.
        tmp = str(tmp_path / f"__{name}")
        spark.createDataFrame(
            [(eid, ts_ns, -1, "flush", 0.0, "{}")], raw.schema
        ).coalesce(1).write.parquet(tmp)
        _sh.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], d / name)

    _drop_sentinel("b.parquet", 10**9, _ts_plus_days(max_ts, 10))
    stream = stream_ops.read_event_stream(spark, str(d))
    q = stream_ops.run_stream_to_memory(
        stream_ops.session_agg(stream), "sess_out", output_mode="append"
    )
    try:
        # The watermark set by the first sentinel batch only triggers
        # emission on a SUBSEQUENT batch -- drop a second, later sentinel
        # and drain again so every real session finalizes.
        _drop_sentinel("c.parquet", 10**9 + 1, _ts_plus_days(max_ts, 20))
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in spark.sql(
                "select * from sess_out where user_id >= 0"
            ).collect()
        }
        want = {tuple(r) for r in stream_ops.session_agg(ev).collect()}
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_attribution_join_vs_oracle(spark, ddb):
    df = streaming_queries.q_stream_attribution_join(spark, SF_ORACLE)
    assert_matches_oracle(
        df, ddb, streaming_queries.ORACLES["stream_attribution_join"], "attr"
    )


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Two watermarked streams, time-bounded inner join: matches emit as
    they arrive; replay must equal the batch interval join."""
    src_dir = _stage_events(tmp_path)
    ev = load_table(spark, SF_SMOKE, "events")
    stream = stream_ops.read_event_stream(spark, src_dir)
    joined = stream_ops.attribution_join(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
    )
    q = stream_ops.run_stream_to_memory(joined, "attr_out", output_mode="append")
    try:
        got = {tuple(r) for r in spark.sql("select * from attr_out").collect()}
        want = {
            tuple(r)
            for r in stream_ops.attribution_join(
                ev.where(F.col("event_type") == "click"),
                ev.where(F.col("event_type") == "purchase"),
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        q.stop()


@pytest.mark.slow
def test_stream_stream_left_outer_join_equals_batch(spark, tmp_path):
    """leftOuter stream-stream join: never-converted clicks emit ONLY
    after the watermark proves no match can arrive -- two far-future
    sentinel batches (a click AND a purchase each, so BOTH sides'
    watermarks advance past every real row) flush them."""
    import glob as _glob
    import shutil as _sh

    d = tmp_path / "louter_stream"
    d.mkdir()
    _sh.copy(f"{SF_SMOKE}/events.parquet", d / "a.parquet")
    ev = load_table(spark, SF_SMOKE, "events")
    raw = spark.read.parquet(str(d / "a.parquet"))
    max_ts = raw.agg(F.max("ts").alias("m")).first()["m"]

    def _drop_sentinels(name: str, ts_ns: int) -> None:
        tmp = str(tmp_path / f"__{name}")
        spark.createDataFrame(
            [
                (10**9, ts_ns, -1, "click", 0.0, "{}"),
                (10**9 + 1, ts_ns, -1, "purchase", 0.0, "{}"),
            ],
            raw.schema,
        ).coalesce(1).write.parquet(tmp)
        _sh.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], d / name)

    _drop_sentinels("b.parquet", _ts_plus_days(max_ts, 10))
    stream = stream_ops.read_event_stream(spark, str(d))
    joined = stream_ops.attribution_join(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        how="leftOuter",
    )
    q = stream_ops.run_stream_to_memory(joined, "lo_out", output_mode="append")
    try:
        _drop_sentinels("c.parquet", _ts_plus_days(max_ts, 20))
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in spark.sql(
                "select * from lo_out where user_id >= 0"
            ).collect()
        }
        want = {
            tuple(r)
            for r in stream_ops.attribution_join(
                ev.where(F.col("event_type") == "click"),
                ev.where(F.col("event_type") == "purchase"),
                how="leftOuter",
            ).collect()
        }
        assert got == want and len(got) > 0
        # the outer semantics actually fired: some clicks have no purchase
        assert any(r[2] is None for r in got)
    finally:
        q.stop()


@pytest.mark.slow
def test_stream_stream_full_outer_join_equals_batch(spark, tmp_path):
    """fullOuter stream-stream join: BOTH unmatched sides (clicks with
    no purchase, purchases with no preceding click) emit once the
    min-of-both watermarks proves no match can arrive; replay must
    equal the batch full-outer interval join."""
    import glob as _glob
    import shutil as _sh

    d = tmp_path / "fouter_stream"
    d.mkdir()
    _sh.copy(f"{SF_SMOKE}/events.parquet", d / "a.parquet")
    ev = load_table(spark, SF_SMOKE, "events")
    raw = spark.read.parquet(str(d / "a.parquet"))
    max_ts = raw.agg(F.max("ts").alias("m")).first()["m"]

    def _drop_sentinels(name: str, ts_ns: int) -> None:
        tmp = str(tmp_path / f"__{name}")
        spark.createDataFrame(
            [
                (10**9, ts_ns, -1, "click", 0.0, "{}"),
                (10**9 + 1, ts_ns, -1, "purchase", 0.0, "{}"),
            ],
            raw.schema,
        ).coalesce(1).write.parquet(tmp)
        _sh.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], d / name)

    _drop_sentinels("b.parquet", _ts_plus_days(max_ts, 10))
    stream = stream_ops.read_event_stream(spark, str(d))
    joined = stream_ops.attribution_join(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        how="fullOuter",
    )
    q = stream_ops.run_stream_to_memory(joined, "fo_out", output_mode="append")
    try:
        _drop_sentinels("c.parquet", _ts_plus_days(max_ts, 20))
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in spark.sql(
                "select * from fo_out where user_id >= 0"
            ).collect()
        }
        want = {
            tuple(r)
            for r in stream_ops.attribution_join(
                ev.where(F.col("event_type") == "click"),
                ev.where(F.col("event_type") == "purchase"),
                how="fullOuter",
            ).collect()
        }
        assert got == want and len(got) > 0
        # both outer arms actually fired
        assert any(r[2] is None for r in got)  # click, no purchase
        assert any(r[1] is None for r in got)  # purchase, no click
    finally:
        q.stop()


import pytest as _pytest


@_pytest.mark.parametrize("key", sorted(streaming_queries.QUERIES))
def test_streaming_queries_vs_oracle(spark, ddb, key):
    """Every D-block query (not just the hand-picked ones) vs its oracle."""
    df = streaming_queries.QUERIES[key](spark, SF_ORACLE)
    assert_matches_oracle(df, ddb, streaming_queries.ORACLES[key], key)


def test_driver_key_stream_running_counts_multibatch(spark):
    """The driver-facing stream_running_counts key must (a) equal the
    plain batch GROUP BY (the oracle's view) and (b) genuinely carry
    keyed state across >1 microbatch -- the staged drop directory holds
    _STAGE_FILES files replayed one per trigger, so some user MUST
    receive multiple cumulative updates."""
    import glob as _glob

    from abr_etl_spark.plans import streaming_queries as sq

    got = {
        (r["user_id"], r["n_events_total"])
        for r in sq.q_stream_running_counts(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    want = {
        (r["user_id"], r["n"])
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and got
    stage = sq._stage_event_drops(spark, SF_SMOKE)
    assert len(_glob.glob(f"{stage}/part-*.parquet")) == sq._STAGE_FILES
    # the most recent memory table: more update rows than final users
    # proves per-key state persisted across microbatches
    name = f"rc_driver_{next(sq._rc_names) - 1}"
    assert spark.table(name).count() > len(got)


def test_driver_key_stream_dedup_exact_drops_cross_batch_dups(spark):
    """The staged dup drop must contain MORE rows than the events table
    (the planted replay), and the deduped driver key must still equal
    the batch per-user counts -- proving keyed dedup state worked across
    microbatches rather than the input being accidentally clean."""
    from abr_etl_spark.plans import streaming_queries as sq

    stage = sq._stage_event_drops_with_dups(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    staged_rows = spark.read.parquet(stage).count()
    assert staged_rows > ev.count()
    got = {
        (r["user_id"], r["n_events"])
        for r in sq.q_stream_dedup_exact(spark, SF_SMOKE).collect()
    }
    want = {
        (r["user_id"], r["n"])
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and got


def test_stateful_checkpoint_recovery_resumes_to_fixpoint(spark, tmp_path):
    """The exactly-once story's second half (write_epoch_idempotent is
    the first): a stateful query STOPPED between drops must resume from
    its checkpoint with keyed state intact -- no microbatch lost, no
    count reset -- and reach the same fixpoint as the uninterrupted
    batch oracle. Drops 1-2 drain under query A; query A dies; query B
    restarts from the same checkpoint dir and drains drops 3-4."""
    import glob as _glob

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    stage = str(tmp_path / "stage")
    ev.repartition(4, "event_id").write.parquet(stage)
    parts = sorted(_glob.glob(f"{stage}/part-*.parquet"))
    assert len(parts) == 4
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain_once():
        stream = stream_ops.read_event_stream(spark, str(src))
        q = (
            stateful.running_counts_stateful(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out)
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def fold():
        return {
            r["user_id"]: r["mx"]
            for r in spark.read.parquet(out)
            .groupBy("user_id")
            .agg(F.max("n_events_total").alias("mx"))
            .collect()
        }

    def batch_counts(paths):
        return {
            r["user_id"]: r["n"]
            for r in spark.read.parquet(*paths)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }

    for i, p in enumerate(parts[:2]):
        shutil.copy(p, src / f"d{i}.parquet")
    drain_once()
    h1 = batch_counts(parts[:2])
    assert fold() == h1  # query A's partial fixpoint = first-half counts

    for i, p in enumerate(parts[2:], start=2):
        shutil.copy(p, src / f"d{i}.parquet")
    drain_once()  # query B: NEW query object, SAME checkpoint
    want = batch_counts(parts)
    assert fold() == want  # resumed fixpoint == uninterrupted batch

    # the recovery was real: users with events in BOTH halves ended at
    # their total, not their second-half count -- impossible unless the
    # restarted query recovered query A's keyed state.
    h2 = batch_counts(parts[2:])
    spanning = [u for u in h1 if u in h2]
    assert spanning
    for u in spanning:
        assert want[u] == h1[u] + h2[u]


def test_dedup_within_watermark_checkpoint_recovery(spark, tmp_path):
    """r10 verdict item 5: the BUILTIN state-store path
    (dropDuplicatesWithinWatermark, vs the applyInPandasWithState proof
    above) also survives kill+resume. Query A drains drops 1-2 and
    dies; query B restarts from the same checkpoint and drains drops
    3-4, where drop 3 REPLAYS drop 1's rows byte-for-byte -- they must
    be suppressed, which is impossible unless B recovered A's dedup
    state from the checkpoint."""
    import glob as _glob

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    stage = str(tmp_path / "stage")
    ev.repartition(3, "event_id").write.parquet(stage)
    parts = sorted(_glob.glob(f"{stage}/part-*.parquet"))
    assert len(parts) == 3
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain_once():
        stream = stream_ops.read_event_stream(spark, str(src))
        q = (
            stream_ops.dedup_stream(
                stream, ["event_id"], watermark="3650 days"
            )
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out)
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # ---- query A: drops 1-2 (parts 0 and 1)
    shutil.copy(parts[0], src / "d0.parquet")
    shutil.copy(parts[1], src / "d1.parquet")
    drain_once()
    first_half = {
        r["event_id"] for r in spark.read.parquet(parts[0], parts[1]).collect()
    }
    got1 = spark.read.parquet(out).groupBy("event_id").count().collect()
    assert {r["event_id"] for r in got1} == first_half
    assert max(r["count"] for r in got1) == 1

    # ---- query B (new object, same checkpoint): drop 3 = REPLAY of
    # drop 1's file, drop 4 = genuinely new rows
    shutil.copy(parts[0], src / "d2_replay.parquet")
    shutil.copy(parts[2], src / "d3.parquet")
    drain_once()
    want = {r["event_id"] for r in spark.read.parquet(*parts).collect()}
    got2 = spark.read.parquet(out).groupBy("event_id").count().collect()
    assert {r["event_id"] for r in got2} == want
    # the replayed rows were dropped by RECOVERED state: every id exactly
    # once, including every id of the replayed file
    assert max(r["count"] for r in got2) == 1


def test_stream_cdc_apply_maintains_current_state(spark, tmp_path):
    """The streaming half of the CDC story (§7.15, landed early): a
    file stream of upsert/delete records drives merge_snapshot via
    foreachBatch with epoch = batch_id. After draining, the merged
    table equals the fold of all changes; killing the query and
    replaying the SAME files through a fresh query object with the
    same checkpoint re-delivers batches whose epochs the bucket
    markers already hold -- the table is unchanged (no duplicate
    applies)."""
    src = tmp_path / "cdc_in"
    src.mkdir()
    table = str(tmp_path / "cdc_state")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "pid long, amt long, deleted boolean"

    def drop(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def drain():
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        q = stream_ops.stream_cdc_apply(
            stream, table, key="pid", checkpoint=ckpt, removed_flag="deleted",
            n_buckets=4,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def state():
        from abr_etl_spark.operators.maintenance import read_merged_snapshot

        return {
            (r["pid"], r["amt"])
            for r in read_merged_snapshot(spark, table).collect()
        }

    drop("d0", [(k, k * 10, False) for k in range(1, 21)])
    drain()
    assert state() == {(k, k * 10) for k in range(1, 21)}

    # second drop: updates, an insert, and deletions
    drop("d1", [(1, 111, False), (21, 210, False), (5, 0, True), (6, 0, True)])
    drain()
    want = (
        {(k, k * 10) for k in range(2, 21) if k not in (5, 6)}
        | {(1, 111), (21, 210)}
    )
    assert state() == want

    # kill + fresh checkpoint dir replay of the SAME files: every batch
    # re-applies, but epochs gate per bucket -- state unchanged
    import shutil as _sh

    _sh.rmtree(ckpt)
    drain()
    assert state() == want


def test_streamed_value_histogram_equals_batch(spark, tmp_path):
    """The streaming quantile sketch's registers: the stream's steady
    state must equal the batch histogram exactly (count addition is
    associative/commutative, so microbatch order cannot matter)."""
    src_dir = _stage_events(tmp_path)
    stream = stream_ops.read_event_stream(spark, src_dir)
    q = stream_ops.run_stream_to_memory(
        stream_ops.windowed_value_histogram(stream), "hist_stream"
    )
    try:
        got = {
            tuple(r)
            for r in spark.sql("select * from hist_stream").collect()
        }
        want = {
            tuple(r)
            for r in stream_ops.windowed_value_histogram(
                load_table(spark, SF_SMOKE, "events")
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_streamed_histogram_accumulates_across_microbatches(
    spark, tmp_path
):
    """Split the drop into 4 files at 1 file/trigger: per-window
    register counts must ACCUMULATE across microbatches (not reset),
    proving the sketch's merge property end to end on the stream."""
    import math

    d = tmp_path / "hist_stream_multi"
    d.mkdir()
    ev = load_table(spark, SF_SMOKE, "events")
    n = ev.count()
    per = math.ceil(n / 4)
    rows = ev.orderBy("event_id").collect()
    for i in range(4):
        spark.createDataFrame(
            rows[i * per : (i + 1) * per], ev.schema
        ).coalesce(1).write.mode("overwrite").parquet(
            str(d / f"part{i}")
        )
    import glob
    import shutil

    flat = tmp_path / "hist_stream_flat"
    flat.mkdir()
    for i in range(4):
        (src,) = glob.glob(str(d / f"part{i}" / "*.parquet"))
        shutil.copy(src, flat / f"drop{i}.parquet")
    stream = stream_ops.read_event_stream(
        spark, str(flat), max_files_per_trigger=1
    )
    q = stream_ops.run_stream_to_memory(
        stream_ops.windowed_value_histogram(stream), "hist_multi"
    )
    try:
        got = {
            tuple(r)
            for r in spark.sql("select * from hist_multi").collect()
        }
        want = {
            tuple(r)
            for r in stream_ops.windowed_value_histogram(ev).collect()
        }
        assert got == want and len(got) > 0
    finally:
        q.stop()
