"""Compaction, the per-dataset transform registry and the merged current-state table."""

import pytest
from pyspark.sql import functions as F

from abr_etl_spark.operators import maintenance
from tests.conftest import bucket_files, crash_rename_after, split_bucket


def test_compaction_reduces_file_count(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(10000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    df.repartition(40).write.parquet(path)  # simulate 40 small files
    import glob

    before = len(glob.glob(f"{path}/part-*"))
    assert before >= 40
    n_out = maintenance.compact_partition(spark, path)
    after = len(glob.glob(f"{path}/part-*"))
    assert after <= n_out < before
    back = spark.read.parquet(path)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


def test_compact_partition_leaves_target_layout_in_place(spark, tmp_path):
    """A partition that already is one file under target is left alone
    (same file, same mtime, no rewrite); one file OVER target is still
    split as before."""
    import glob
    import os

    path = str(tmp_path / "one")
    spark.range(5000).coalesce(1).write.parquet(path)
    [f] = glob.glob(f"{path}/part-*")
    mtime = os.stat(f).st_mtime_ns
    assert maintenance.compact_partition(spark, path) == 1
    assert glob.glob(f"{path}/part-*") == [f]
    assert os.stat(f).st_mtime_ns == mtime

    n_out = maintenance.compact_partition(
        spark, path, target_file_bytes=os.path.getsize(f) // 2
    )
    assert n_out >= 2
    assert f not in glob.glob(f"{path}/part-*")
    assert spark.read.parquet(path).count() == 5000



def test_unfinished_compaction_neither_duplicates_nor_loses_rows(
    spark, tmp_path, monkeypatch
):
    """A compaction that crashed after its staged rewrite finished
    leaves that copy next to the bucket. Spark must not read it as one
    more bucket (the rows would be counted twice), and
    finish_compactions swaps it in."""
    import os

    path = str(tmp_path / "merged")
    rows = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    maintenance.merge_snapshot(spark, path, rows, None, key="k", epoch=1, n_buckets=4)
    bucket = os.path.join(path, "__bucket=1")
    split_bucket(spark, bucket)  # so compaction rewrites it

    def crash(staged, dst):
        raise OSError("injected crash before the swap")

    monkeypatch.setattr(maintenance, "_swap_in", crash)
    with pytest.raises(OSError, match="injected"):
        maintenance.compact_partition(spark, bucket)
    monkeypatch.undo()
    assert any(d.endswith("__compacting") for d in os.listdir(path))
    assert maintenance.read_merged_snapshot(spark, path).count() == 100

    assert maintenance.finish_compactions(path) == 1
    assert not any(d.endswith("__compacting") for d in os.listdir(path))
    assert len([f for f in os.listdir(bucket) if f.startswith("part-")]) == 1
    back = maintenance.read_merged_snapshot(spark, path)
    assert sorted(map(tuple, back.collect())) == [(i, 3 * i) for i in range(100)]


def test_transform_registry_applies_location_rules(spark):
    df = spark.createDataFrame(
        [("p1", " vic ", "30-00"), ("p2", "nsw", "800")],
        "pid string, state string, postcode string",
    )
    out = {
        r["pid"]: (r["state"], r["postcode"])
        for r in maintenance.apply_transform("Businesslocation", df).collect()
    }
    assert out == {"p1": ("VIC", "3000"), "p2": ("NSW", "0800")}


def test_transform_registry_passthrough_unknown_dataset(spark):
    df = spark.createDataFrame([("x",)], "pid string")
    assert maintenance.apply_transform("Funds", df) is df


@pytest.mark.slow
def test_merge_snapshot_weekly_replay(spark, tmp_path):
    """The CDC-apply SINK (r9 verdict item 6): replay two weeks of
    engine-computed deltas onto a materialized current-state table;
    after each week the table equals that week's snapshot, and
    re-running a week is a per-bucket no-op (epoch watermark)."""
    from abr_etl_spark.operators import delta as d
    from abr_etl_spark.operators.maintenance import (
        merge_snapshot,
        read_merged_snapshot,
    )

    def snap(version):
        rows = [
            (k, f"v{version}" if k % 3 == 0 else "v0", k * 10 + version)
            for k in range(1, 201 + 20 * version)
            if not (version >= 1 and k % 10 == 0)
        ]
        return spark.createDataFrame(rows, "pid long, val string, amt long")

    s0, s1, s2 = snap(0), snap(1), snap(2)
    path = str(tmp_path / "state")

    def week(new, old, epoch):
        ups = d.delta_updated(new, old, "pid").unionByName(
            d.delta_added(new, old, "pid")
        )
        rem = d.delta_removed(new, old, "pid").select("pid")
        return merge_snapshot(
            spark, path, ups, rem, key="pid", epoch=epoch, n_buckets=8
        )

    def table_rows():
        return {
            tuple(r) for r in read_merged_snapshot(spark, path).collect()
        }

    merge_snapshot(spark, path, s0, None, key="pid", epoch=1, n_buckets=8)
    assert table_rows() == {tuple(r) for r in s0.collect()}

    r2 = week(s1, s0, epoch=2)
    assert table_rows() == {tuple(r) for r in s1.collect()}
    assert r2["written"] > 0

    r3 = week(s2, s1, epoch=3)
    assert table_rows() == {tuple(r) for r in s2.collect()}

    # replaying week 3 (retry / checkpoint replay) is a no-op
    r3b = week(s2, s1, epoch=3)
    assert r3b["written"] == 0 and r3b["skipped"] > 0
    assert table_rows() == {tuple(r) for r in s2.collect()}
    assert r3["written"] + r3["cleared"] > 0


def test_merge_snapshot_writes_one_file_per_bucket(spark, aqe_on, tmp_path):
    """Bootstrap and incremental merges land each written bucket as ONE
    file, even from inputs spread over several partitions (each of
    which holds rows of every bucket), so no compaction pass has to
    follow the merge. AQE on, as in production sessions."""
    from abr_etl_spark.operators.maintenance import _read_mark, merge_snapshot

    path = str(tmp_path / "state_layout")
    base = spark.createDataFrame(
        [(k, k * 2) for k in range(1, 401)], "pid long, amt long"
    ).repartition(6)
    rep1 = merge_snapshot(spark, path, base, None, key="pid", epoch=1, n_buckets=8)
    files = bucket_files(path)
    assert rep1["written"] == len(files) == 8
    assert all(len(v) == 1 for v in files.values()), files

    ups = spark.createDataFrame(
        [(k, -k) for k in range(1, 401, 7)] + [(k, k) for k in range(401, 431)],
        "pid long, amt long",
    ).repartition(5)
    removed = {k for k in range(3, 401, 11) if k % 7 != 1}
    rem = spark.createDataFrame([(k,) for k in sorted(removed)], "pid long")
    rep2 = merge_snapshot(spark, path, ups, rem, key="pid", epoch=2, n_buckets=8)
    assert rep2["written"] > 0
    files = bucket_files(path)
    rewritten = [d for d in files if _read_mark(path, int(d.split("=")[1])) == 2]
    assert len(rewritten) == rep2["written"]
    assert all(len(files[d]) == 1 for d in rewritten), files
    expected = {
        (k, -k if k % 7 == 1 else k * 2) for k in range(1, 401) if k not in removed
    } | {(k, k) for k in range(401, 431)}
    assert _rows(spark, path) == expected


def test_merge_snapshot_writes_one_file_per_bucket_with_aqe_off(spark, tmp_path):
    """With AQE off (the test session) Spark drops the rebalance hint,
    and the merge repartitions on the bucket column instead: over a
    bootstrap and three merges of inputs spread over several
    partitions, every bucket stays one file."""
    from abr_etl_spark.operators.maintenance import _read_mark, merge_snapshot

    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    path = str(tmp_path / "state_layout_no_aqe")
    want = {k: k * 2 for k in range(1, 401)}
    base = spark.createDataFrame(sorted(want.items()), "pid long, amt long")
    merge_snapshot(spark, path, base.repartition(6), None, key="pid", epoch=1, n_buckets=8)
    assert all(len(v) == 1 for v in bucket_files(path).values())
    for epoch in (2, 3, 4):
        ups = {k: -k * epoch for k in range(epoch, 400, 9)}
        ups |= {k: k for k in range(400 + 10 * epoch, 405 + 10 * epoch)}
        gone = {k for k in range(epoch + 3, 400, 31) if k not in ups}
        rep = merge_snapshot(
            spark,
            path,
            spark.createDataFrame(sorted(ups.items()), "pid long, amt long").repartition(5),
            spark.createDataFrame([(k,) for k in sorted(gone)], "pid long").repartition(3),
            key="pid",
            epoch=epoch,
            n_buckets=8,
        )
        files = bucket_files(path)
        rewritten = [d for d in files if _read_mark(path, int(d.split("=")[1])) == epoch]
        assert len(rewritten) == rep["written"] > 1
        assert all(len(v) == 1 for v in files.values()), files
        want = {k: v for k, v in (want | ups).items() if k not in gone}
    assert _rows(spark, path) == set(want.items())


def _tree_bytes(path):
    """Relative path -> content of every file under ``path``."""
    import os

    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def test_merge_snapshot_refuses_another_bucket_layout(spark, tmp_path):
    """A table bootstrapped with 64 buckets and merged with 4 would keep
    a key's old row in its 64-layout bucket and land the new row in
    another one, duplicating the key. The first merge records the layout,
    and a merge with another bucket count or key raises ValueError
    naming both layouts before it changes anything on disk."""
    from abr_etl_spark.operators.maintenance import merge_snapshot

    path = str(tmp_path / "state_relayout")
    base = spark.createDataFrame([(k, k * 2) for k in range(1, 201)], "pid long, amt long")
    merge_snapshot(spark, path, base, None, key="pid", epoch=1, n_buckets=64)
    before = _tree_bytes(path)
    ups = spark.createDataFrame([(k, -k) for k in range(1, 201, 5)], "pid long, amt long")
    with pytest.raises(ValueError, match=r"'n_buckets': 64.*'n_buckets': 4"):
        merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    with pytest.raises(ValueError, match=r"'key': 'pid'.*'key': 'amt'"):
        merge_snapshot(spark, path, ups, None, key="amt", epoch=2, n_buckets=64)
    assert _tree_bytes(path) == before
    merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=64)
    assert _rows(spark, path) == {
        (k, -k if k % 5 == 1 else k * 2) for k in range(1, 201)
    }


def _layout(path):
    import json
    import os

    with open(os.path.join(path, maintenance._LAYOUT_FILE)) as fh:
        return json.load(fh)


def test_merge_snapshot_sizes_a_new_table_from_its_bytes(spark, tmp_path):
    """With the default n_buckets a new table's bucket count follows its
    bytes: a small file-scan snapshot is one bucket, recorded in
    _layout.json, and the estimate launches no Spark job."""
    from tests.conftest import group_jobs, job_group

    src = str(tmp_path / "snap")
    spark.createDataFrame(
        [(k, k * 2) for k in range(1, 201)], "pid long, amt long"
    ).write.parquet(src)
    snap = spark.read.parquet(src)
    with job_group(spark, "merge-sizing"):
        assert maintenance._sized_buckets(snap) == 1
    assert group_jobs(spark, "merge-sizing") == 0

    path = str(tmp_path / "state_sized")
    maintenance.merge_snapshot(spark, path, snap, None, key="pid", epoch=1)
    assert _layout(path) == {"key": "pid", "n_buckets": 1}
    assert maintenance.bucket_dirs(path) == ["__bucket=0"]
    assert _rows(spark, path) == {(k, k * 2) for k in range(1, 201)}


def test_merge_snapshot_default_keeps_a_recorded_layout(spark, tmp_path):
    """A frame Spark cannot size (createDataFrame: Long.MaxValue bytes)
    gets the MERGE_BUCKETS cap, and every later default call adopts the
    recorded 64 and merges correctly."""
    path = str(tmp_path / "state_capped")
    base = spark.createDataFrame(
        [(k, k * 2) for k in range(1, 201)], "pid long, amt long"
    )
    maintenance.merge_snapshot(spark, path, base, None, key="pid", epoch=1)
    assert _layout(path) == {"key": "pid", "n_buckets": maintenance.MERGE_BUCKETS}
    assert len(maintenance.bucket_dirs(path)) > 1

    src = str(tmp_path / "ups")
    spark.createDataFrame(
        [(k, -k) for k in range(1, 201, 5)], "pid long, amt long"
    ).write.parquet(src)
    ups = spark.read.parquet(src)  # small enough to size as 1 bucket
    maintenance.merge_snapshot(spark, path, ups, None, key="pid", epoch=2)
    assert _layout(path) == {"key": "pid", "n_buckets": maintenance.MERGE_BUCKETS}
    assert _rows(spark, path) == {
        (k, -k if k % 5 == 1 else k * 2) for k in range(1, 201)
    }


def test_merge_snapshot_default_refuses_an_unrecorded_layout(spark, tmp_path):
    """A table that holds buckets but no _layout.json (written before
    the sidecar existed) raises under a default call, which would
    otherwise guess its bucket count. The call the error names, an
    empty frame with the explicit count, records the layout and writes
    no bucket; a default call then merges."""
    import os

    path = str(tmp_path / "state_legacy")
    base = _mk_state(spark, path, buckets=4)
    os.remove(os.path.join(path, maintenance._LAYOUT_FILE))
    ups = spark.createDataFrame([(1, -1)], "pid long, amt long")
    with pytest.raises(ValueError, match="records no layout.*n_buckets"):
        maintenance.merge_snapshot(spark, path, ups, None, key="pid", epoch=2)
    assert not os.path.exists(os.path.join(path, maintenance._LAYOUT_FILE))
    before = bucket_files(path)
    rep = maintenance.merge_snapshot(
        spark, path, ups.limit(0), None, key="pid", epoch=2, n_buckets=4
    )
    assert rep == {"written": 0, "skipped": 0, "cleared": 0}
    assert bucket_files(path) == before
    assert _layout(path) == {"key": "pid", "n_buckets": 4}
    maintenance.merge_snapshot(spark, path, ups, None, key="pid", epoch=2)
    assert _rows(spark, path) == {
        (k, -1 if k == 1 else k * 2) for k in range(1, 101)
    }


def test_merge_snapshot_clears_emptied_bucket(spark, tmp_path):
    """A bucket whose every key is removed must be CLEARED, not left
    stale (the hole plain dynamic-partition overwrite falls into when
    the merged bucket writes zero rows)."""
    from pyspark.sql import functions as F

    from abr_etl_spark.operators.maintenance import (
        _bucket_expr,
        merge_snapshot,
        read_merged_snapshot,
    )

    base = spark.createDataFrame(
        [(k, k * 2) for k in range(1, 101)], "pid long, amt long"
    )
    path = str(tmp_path / "state2")
    merge_snapshot(spark, path, base, None, key="pid", epoch=1, n_buckets=4)
    # remove EVERY key in bucket 0
    doomed = base.withColumn("b", _bucket_expr("pid", 4)).where(
        F.col("b") == 0
    )
    n_doomed = doomed.count()
    assert n_doomed > 0
    rep = merge_snapshot(
        spark,
        path,
        base.limit(0),
        doomed.select("pid"),
        key="pid",
        epoch=2,
        n_buckets=4,
    )
    assert rep["cleared"] >= 1
    back = read_merged_snapshot(spark, path)
    assert back.count() == 100 - n_doomed
    assert (
        back.withColumn("b", _bucket_expr("pid", 4))
        .where(F.col("b") == 0)
        .count()
        == 0
    )


# ------------------------------------------------- merge_snapshot hardening


def _mk_state(spark, path, n=100, buckets=4):
    base = spark.createDataFrame(
        [(k, k * 2) for k in range(1, n + 1)], "pid long, amt long"
    )
    from abr_etl_spark.operators.maintenance import merge_snapshot

    merge_snapshot(spark, path, base, None, key="pid", epoch=1, n_buckets=buckets)
    return base


def _rows(spark, path):
    from abr_etl_spark.operators.maintenance import read_merged_snapshot

    return {tuple(r) for r in read_merged_snapshot(spark, path).collect()}


def test_merge_snapshot_rejects_null_keys(spark, tmp_path):
    """NULL join keys can never anti-join-match, so a NULL-key upsert
    would duplicate every epoch -- the contract rejects them at entry
    (r10 advice item 2), on a table's first merge and on later ones."""
    import pytest

    from abr_etl_spark.operators.maintenance import merge_snapshot

    bad = spark.createDataFrame(
        [(1, 10), (None, 20)], "pid long, amt long"
    )
    p1 = str(tmp_path / "null_boot")
    with pytest.raises(ValueError, match="NULL"):
        merge_snapshot(spark, p1, bad, None, key="pid", epoch=1, n_buckets=4)

    p2 = str(tmp_path / "null_incr")
    _mk_state(spark, p2, n=10)
    with pytest.raises(ValueError, match="NULL"):
        merge_snapshot(spark, p2, bad, None, key="pid", epoch=2, n_buckets=4)
    # and a NULL in removed_keys is rejected the same way
    with pytest.raises(ValueError, match="NULL"):
        merge_snapshot(
            spark,
            p2,
            bad.where("pid is not null"),
            spark.createDataFrame([(None,)], "pid long"),
            key="pid",
            epoch=2,
            n_buckets=4,
        )


def test_merge_snapshot_replay_reads_no_bucket_rows(spark, tmp_path, monkeypatch):
    """The idempotence gate is METADATA-ONLY (r10 verdict item 3): a
    fully-replayed epoch consults the per-bucket marker files and never
    opens a parquet scan -- proved by poisoning DataFrameReader.parquet
    for the replay call."""
    from pyspark.sql.readwriter import DataFrameReader

    from abr_etl_spark.operators import delta as d
    from abr_etl_spark.operators.maintenance import merge_snapshot

    path = str(tmp_path / "state_meta")
    base = _mk_state(spark, path, n=200, buckets=8)
    s1 = base.where("pid % 7 != 0")
    ups = d.delta_updated(s1, base, "pid").unionByName(
        d.delta_added(s1, base, "pid")
    )
    rem = d.delta_removed(s1, base, "pid").select("pid")
    # deltas are computed BEFORE poisoning (they read nothing from path)
    ups = spark.createDataFrame(ups.collect(), ups.schema)
    rem = spark.createDataFrame(rem.collect(), rem.schema)
    r2 = merge_snapshot(spark, path, ups, rem, key="pid", epoch=2, n_buckets=8)
    assert r2["written"] + r2["cleared"] > 0

    def boom(self, *a, **k):
        raise AssertionError("replayed epoch must not read parquet")

    monkeypatch.setattr(DataFrameReader, "parquet", boom)
    r2b = merge_snapshot(spark, path, ups, rem, key="pid", epoch=2, n_buckets=8)
    assert r2b == {"written": 0, "skipped": r2["written"] + r2["cleared"] + r2["skipped"], "cleared": 0}
    monkeypatch.undo()
    assert _rows(spark, path) == {tuple(r) for r in s1.collect()}


def test_merge_snapshot_crash_between_renames_recovers(
    spark, tmp_path, monkeypatch
):
    """r10 advice item 1 (medium): a crash between 'old dir aside' and
    'staged dir in' must not lose the bucket -- the replay completes the
    recorded commit instead of rmtree-ing the staging dir."""
    import pytest

    from abr_etl_spark.operators.maintenance import merge_snapshot

    path = str(tmp_path / "state_crash1")
    base = _mk_state(spark, path, n=200, buckets=4)
    # touch every bucket so several swaps are in flight
    ups = spark.createDataFrame(
        [(k, k * 100) for k in range(1, 201, 3)], "pid long, amt long"
    )
    expected = {
        (k, k * 100) if k % 3 == 1 else (k, k * 2) for k in range(1, 201)
    }
    # crash after the FIRST bucket's aside rename (its swap is half-done)
    crash_rename_after(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    monkeypatch.undo()
    # replay with the same delta: commit resumes, nothing lost
    r = merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    assert r["written"] + r["skipped"] + r["cleared"] == 4
    assert _rows(spark, path) == expected
    # and a second replay is a metadata no-op
    r2 = merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    assert r2 == {"written": 0, "skipped": 4, "cleared": 0}


def test_merge_snapshot_crash_before_marker_recovers(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER a bucket's swap but BEFORE its marker stamp: the
    replay re-enters the commit loop, heals the aside copy, stamps the
    marker, and the table is exactly the post-merge snapshot."""
    import pytest

    from abr_etl_spark.operators import maintenance
    from abr_etl_spark.operators.maintenance import merge_snapshot

    path = str(tmp_path / "state_crash2")
    base = _mk_state(spark, path, n=200, buckets=4)
    ups = spark.createDataFrame(
        [(k, -k) for k in range(1, 201, 5)], "pid long, amt long"
    )
    expected = {
        (k, -k) if k % 5 == 1 else (k, k * 2) for k in range(1, 201)
    }
    real_mark = maintenance._write_mark
    calls = {"n": 0}

    def flaky_mark(p, b, e):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash")
        return real_mark(p, b, e)

    monkeypatch.setattr(maintenance, "_write_mark", flaky_mark)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    monkeypatch.undo()
    merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    assert _rows(spark, path) == expected


def _row_list(spark, path):
    from abr_etl_spark.operators.maintenance import read_merged_snapshot

    return sorted(map(tuple, read_merged_snapshot(spark, path).collect()))


def test_merge_snapshot_first_merge_crash_resumes(spark, tmp_path, monkeypatch):
    """A table's first merge is an ordinary merge into an empty table:
    it stages every bucket and renames each in. A crash after the first
    bucket's rename resumes on replay from the staged files: the
    snapshot's exact rows, every bucket marked, no staging left."""
    import os

    from abr_etl_spark.operators.maintenance import _read_mark, merge_snapshot

    path = str(tmp_path / "state_first_crash")
    base = spark.createDataFrame(
        [(k, k * 2) for k in range(1, 201)], "pid long, amt long"
    )
    crash_rename_after(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_snapshot(spark, path, base, None, key="pid", epoch=1, n_buckets=4)
    monkeypatch.undo()
    r = merge_snapshot(spark, path, base, None, key="pid", epoch=1, n_buckets=4)
    assert r == {"written": 3, "skipped": 1, "cleared": 0}
    assert _row_list(spark, path) == sorted(map(tuple, base.collect()))
    assert [_read_mark(path, b) for b in range(4)] == [1, 1, 1, 1]
    assert not [d for d in os.listdir(path) if d.startswith(".staging_epoch_")]


@pytest.mark.parametrize("replayed", ["bucket0", "nothing"])
def test_merge_snapshot_resumes_a_commit_its_keys_do_not_touch(
    spark, tmp_path, monkeypatch, replayed
):
    """A first merge crashes after its first bucket lands with its
    marker. A replay of the same epoch whose keys all hash to that
    marked bucket, or that has no key at all, still finishes the staged
    commit of the other three, instead of deleting the only copy of
    their rows or leaving it staged."""
    import os

    from abr_etl_spark.operators.maintenance import (
        _bucket_expr,
        _read_mark,
        merge_snapshot,
    )

    path = str(tmp_path / "state_foreign_resume")
    base = spark.createDataFrame(
        [(k, k * 2) for k in range(1, 201)], "pid long, amt long"
    )
    crash_rename_after(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_snapshot(spark, path, base, None, key="pid", epoch=1, n_buckets=4)
    monkeypatch.undo()
    assert [_read_mark(path, b) for b in range(4)] == [1, None, None, None]
    in_b0 = base.where(_bucket_expr("pid", 4) == 0)
    if replayed == "nothing":
        in_b0 = in_b0.limit(0)
    r = merge_snapshot(spark, path, in_b0, None, key="pid", epoch=1, n_buckets=4)
    skipped = int(replayed == "bucket0")
    assert r == {"written": 3, "skipped": skipped, "cleared": 0}
    assert _row_list(spark, path) == sorted(map(tuple, base.collect()))
    assert not [d for d in os.listdir(path) if d.startswith(".staging_epoch_")]


def test_merge_snapshot_remerges_an_unmarked_bucket(spark, tmp_path):
    """The marker is the only record of a bucket's epoch: a bucket
    without one is pending, so replaying the epoch re-merges it (an
    upsert: the rows do not change) and restores its marker, while the
    marked buckets are skipped."""
    import os

    from abr_etl_spark.operators.maintenance import (
        _mark_path,
        _read_mark,
        merge_snapshot,
    )

    path = str(tmp_path / "state_unmarked")
    _mk_state(spark, path, n=200, buckets=4)
    ups = spark.createDataFrame(
        [(k, -k) for k in range(1, 201, 5)], "pid long, amt long"
    )
    r = merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    assert r["written"] == 4
    before = _row_list(spark, path)
    os.unlink(_mark_path(path, 2))
    r2 = merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    assert r2 == {"written": 1, "skipped": 3, "cleared": 0}
    assert _row_list(spark, path) == before
    assert _read_mark(path, 2) == 2


def test_merge_snapshot_merges_a_table_with_epoch_rows(spark, tmp_path):
    """Older versions stamped every row with an ``__epoch`` column. Such
    a table still merges: rewritten buckets drop the column, untouched
    ones keep it on disk, and read_merged_snapshot returns only the data
    columns."""
    import pyarrow.parquet as pq

    from abr_etl_spark.operators import maintenance

    path = str(tmp_path / "state_epoch_rows")
    want = {k: k * 2 for k in range(1, 201)}
    old = spark.createDataFrame(sorted(want.items()), "pid long, amt long")
    maintenance._write_buckets(
        old.withColumn("__epoch", F.lit(1).cast("long")).withColumn(
            "__bucket", maintenance._bucket_expr("pid", 8)
        ),
        path,
    )
    for b in range(8):
        maintenance._write_mark(path, b, 1)

    ups = {k: -k for k in (3, 5)} | {501: 7}
    rem = [(9,)]
    r = maintenance.merge_snapshot(
        spark,
        path,
        spark.createDataFrame(sorted(ups.items()), "pid long, amt long"),
        spark.createDataFrame(rem, "pid long"),
        key="pid",
        epoch=2,
        n_buckets=8,
    )
    assert 0 < r["written"] < 8
    want = {k: v for k, v in (want | ups).items() if k != 9}
    back = maintenance.read_merged_snapshot(spark, path)
    assert back.columns == ["pid", "amt"]
    assert _row_list(spark, path) == sorted(want.items())
    has_epoch = {
        (
            maintenance._read_mark(path, int(d.split("=")[1])),
            "__epoch" in pq.read_schema(f"{path}/{d}/{fs[0]}").names,
        )
        for d, fs in bucket_files(path).items()
    }
    assert has_epoch == {(1, True), (2, False)}


def test_merge_snapshot_stale_staging_from_other_epoch_raises(
    spark, tmp_path, monkeypatch
):
    """Applying epoch 3 while epoch 2's commit sits half-finished would
    silently diverge -- the engine refuses and names the leftover."""
    import pytest

    from abr_etl_spark.operators.maintenance import merge_snapshot

    path = str(tmp_path / "state_stale")
    _mk_state(spark, path, n=50, buckets=4)
    ups = spark.createDataFrame([(1, 111)], "pid long, amt long")
    crash_rename_after(monkeypatch, 0)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    monkeypatch.undo()
    with pytest.raises(RuntimeError, match="staging_epoch_2"):
        merge_snapshot(spark, path, ups, None, key="pid", epoch=3, n_buckets=4)
    # replaying epoch 2 heals, after which epoch 3 applies cleanly
    merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    ups3 = spark.createDataFrame([(2, 222)], "pid long, amt long")
    merge_snapshot(spark, path, ups3, None, key="pid", epoch=3, n_buckets=4)
    got = _rows(spark, path)
    assert (1, 111) in got and (2, 222) in got


def test_merge_snapshot_single_writer_lock(spark, tmp_path, monkeypatch):
    """Two interleaved merges on one table would corrupt it -- the
    sidecar lock serializes writers: a held lock (live pid) raises, a
    stale lock (dead pid) is stolen exactly once, and the lock never
    outlives the call (success OR failure)."""
    import os

    import pytest

    from abr_etl_spark.operators.maintenance import merge_snapshot

    path = str(tmp_path / "state_lock")
    base = _mk_state(spark, path, n=50, buckets=4)
    lock = path + ".__merge_lock"
    assert not os.path.exists(lock)  # released after the bootstrap

    ups = spark.createDataFrame([(1, 111)], "pid long, amt long")
    # live holder: this very process -> refused
    with open(lock, "w") as fh:
        fh.write(f"pid={os.getpid()} epoch=9")
    with pytest.raises(RuntimeError, match="another writer"):
        merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    os.unlink(lock)

    # stale holder (dead pid): stolen, merge proceeds
    with open(lock, "w") as fh:
        fh.write("pid=999999999 epoch=9")
    rep = merge_snapshot(spark, path, ups, None, key="pid", epoch=2, n_buckets=4)
    assert rep["written"] == 1
    assert not os.path.exists(lock)
    assert (1, 111) in _rows(spark, path)

    # a crash inside the merge still releases the lock (finally)
    bad = spark.createDataFrame([(None, 5)], "pid long, amt long")
    with pytest.raises(ValueError, match="NULL"):
        merge_snapshot(spark, path, bad, None, key="pid", epoch=3, n_buckets=4)
    assert not os.path.exists(lock)


def test_merge_snapshot_additive_schema_evolution(spark, tmp_path):
    """Schema-evolution contract, merge side: epoch-2 upserts carrying a
    NEW column evolve the table -- survivors (touched and untouched
    buckets alike) read the column as NULL, new rows carry it; the
    replayed epoch is still a metadata no-op across the boundary."""
    from abr_etl_spark.operators.maintenance import (
        merge_snapshot,
        read_merged_snapshot,
    )

    path = str(tmp_path / "tbl")
    week1 = spark.createDataFrame(
        [(f"k{i}", i) for i in range(30)], "k string, v long"
    )
    merge_snapshot(spark, path, week1, None, key="k", epoch=1, n_buckets=4)

    week2 = spark.createDataFrame(
        [("k0", 100, "A"), ("k1", 101, "B"), ("new1", 200, "C")],
        "k string, v long, w string",
    )
    rep = merge_snapshot(
        spark, path, week2, None, key="k", epoch=2, n_buckets=4
    )
    assert rep["written"] >= 1

    got = {
        r["k"]: (r["v"], r["w"])
        for r in read_merged_snapshot(spark, path).collect()
    }
    assert len(got) == 31
    assert got["k0"] == (100, "A") and got["new1"] == (200, "C")
    # survivors everywhere -- rewritten buckets (NULL-backfilled rows)
    # and untouched old-schema buckets (mergeSchema read) -- see NULL
    assert all(got[f"k{i}"] == (i, None) for i in range(2, 30))

    # replaying the evolved epoch is a per-bucket metadata no-op
    rep2 = merge_snapshot(
        spark, path, week2, None, key="k", epoch=2, n_buckets=4
    )
    assert rep2["written"] == 0 and rep2["skipped"] == rep["written"]


def test_merge_snapshot_rejects_destructive_evolution(spark, tmp_path):
    """Upserts MISSING a table column or RETYPING one raise loudly: a
    silently narrowed upsert would erase surviving rows' data."""
    import pytest

    from abr_etl_spark.operators.maintenance import merge_snapshot

    path = str(tmp_path / "tbl")
    week1 = spark.createDataFrame(
        [(f"k{i}", i) for i in range(10)], "k string, v long"
    )
    merge_snapshot(spark, path, week1, None, key="k", epoch=1, n_buckets=2)

    narrowed = spark.createDataFrame([("k0",)], "k string")
    with pytest.raises(ValueError, match="missing table column"):
        merge_snapshot(spark, path, narrowed, None, key="k", epoch=2, n_buckets=2)

    retyped = spark.createDataFrame([("k0", "9")], "k string, v string")
    with pytest.raises(ValueError, match="type change"):
        merge_snapshot(spark, path, retyped, None, key="k", epoch=2, n_buckets=2)


# ------------------------------------------------------- vacuum_snapshot


def test_vacuum_removes_debris_keeps_live_data(spark, tmp_path):
    """Plant every debris class a crash can leave and assert the
    conservative rules: unsuccessful staging and completed leftovers
    go, an unfinished commit's resume state and a possibly-only-copy
    aside STAY, torn markers go -- and the table reads identically
    before and after."""
    import json
    import os

    from abr_etl_spark.operators.maintenance import (
        _MARKS_DIR,
        _read_mark,
        merge_snapshot,
        read_merged_snapshot,
        vacuum_snapshot,
    )

    path = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(k, k * 10) for k in range(1, 101)], "pid long, amt long"
    )
    merge_snapshot(spark, path, base, None, key="pid", epoch=1, n_buckets=8)
    before = {tuple(r) for r in read_merged_snapshot(spark, path).collect()}

    # 1. staging without _SUCCESS (crashed mid-write)
    os.makedirs(f"{path}/.staging_epoch_7/__bucket=0")
    # 2. completed leftover: staging with _SUCCESS whose buckets are
    #    already marked at >= epoch (epoch 1 markers exist)
    os.makedirs(f"{path}/.staging_epoch_1/__bucket=0")
    open(f"{path}/.staging_epoch_1/_SUCCESS", "w").close()
    with open(f"{path}/.staging_epoch_1/_OUTCOME.json", "w") as fh:
        json.dump({"0": "written"}, fh)
    # 3. resumable commit: _SUCCESS present but outcome bucket marked
    #    BELOW the staging epoch -> must be kept
    os.makedirs(f"{path}/.staging_epoch_9/__bucket=1")
    open(f"{path}/.staging_epoch_9/_SUCCESS", "w").close()
    with open(f"{path}/.staging_epoch_9/_OUTCOME.json", "w") as fh:
        json.dump({"1": "written"}, fh)
    # 4. aside whose swap completed (marker 1 >= epoch 1) vs aside of
    #    an unfinished epoch-9 swap (marker 1 < 9 -> possibly the only
    #    copy of the old bucket)
    assert _read_mark(path, 2) == 1
    os.makedirs(f"{path}/.old_1_2")
    os.makedirs(f"{path}/.old_9_3")
    # 5. torn marker write
    open(f"{path}/{_MARKS_DIR}/.tmp_5", "w").close()

    rep = vacuum_snapshot(path)
    assert rep == {
        "removed_staging": 2,
        "kept_resumable": 1,
        "removed_asides": 1,
        "kept_asides": 1,
        "removed_tmp": 1,
        "settled_compactions": 0,
    }
    assert not os.path.exists(f"{path}/.staging_epoch_7")
    assert not os.path.exists(f"{path}/.staging_epoch_1")
    assert os.path.exists(f"{path}/.staging_epoch_9")  # resume state
    assert not os.path.exists(f"{path}/.old_1_2")
    assert os.path.exists(f"{path}/.old_9_3")  # only-copy suspect
    after = {tuple(r) for r in read_merged_snapshot(spark, path).collect()}
    assert after == before
    # idempotent: a second vacuum finds only the kept items
    rep2 = vacuum_snapshot(path)
    assert rep2["removed_staging"] == 0 and rep2["kept_resumable"] == 1


def test_vacuum_respects_writer_lock(spark, tmp_path):
    """A live writer's lock must block vacuum (no deletes under an
    in-flight commit); a dead holder's lock is stolen exactly like
    merge_snapshot does."""
    import os

    import pytest as _pytest

    from abr_etl_spark.operators.maintenance import (
        merge_snapshot,
        vacuum_snapshot,
    )

    path = str(tmp_path / "state")
    base = spark.createDataFrame([(1, 1)], "pid long, amt long")
    merge_snapshot(spark, path, base, None, key="pid", epoch=1, n_buckets=2)
    lock = path + ".__merge_lock"
    with open(lock, "w") as fh:
        fh.write(f"pid={os.getpid()} epoch=2")  # this pid is alive
    with _pytest.raises(RuntimeError, match="another writer"):
        vacuum_snapshot(path)
    with open(lock, "w") as fh:
        fh.write("pid=999999999 epoch=2")  # dead holder -> stolen
    rep = vacuum_snapshot(path)
    assert not os.path.exists(lock)
    assert rep["removed_staging"] == 0


def test_vacuum_keeps_success_without_outcome(spark, tmp_path):
    """A staging dir with _SUCCESS but no _OUTCOME.json is the resume
    state of a commit that crashed between the two writes. The staged
    __bucket= dirs UNDERCOUNT its pending set ('cleared' buckets stage
    no dir), so vacuum must not infer completion from them -- even when
    the inferred list is empty (all-cleared epoch) or fully marked.
    Conservative rule: always kept_resumable."""
    import os

    from abr_etl_spark.operators.maintenance import (
        merge_snapshot,
        vacuum_snapshot,
    )

    path = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(k, k) for k in range(1, 21)], "pid long, amt long"
    )
    merge_snapshot(spark, path, base, None, key="pid", epoch=1, n_buckets=4)

    # all-cleared shape: _SUCCESS, no outcome, NO staged bucket dirs
    os.makedirs(f"{path}/.staging_epoch_5")
    open(f"{path}/.staging_epoch_5/_SUCCESS", "w").close()
    # staged-dirs-all-marked shape: bucket 0 is marked at epoch 1 >= ...
    # no: epoch 6 > marker 1, keep-by-marker would hold anyway; use a
    # staged dir whose bucket marker ALREADY satisfies the epoch to
    # prove the rule is no-outcome (not marker state)
    os.makedirs(f"{path}/.staging_epoch_1/__bucket=0")
    open(f"{path}/.staging_epoch_1/_SUCCESS", "w").close()

    rep = vacuum_snapshot(path)
    assert rep["kept_resumable"] == 2
    assert rep["removed_staging"] == 0
    assert os.path.exists(f"{path}/.staging_epoch_5")
    assert os.path.exists(f"{path}/.staging_epoch_1")


def test_vacuum_settles_compaction_staging(spark, tmp_path, monkeypatch):
    """vacuum_snapshot settles what crashed compactions staged, under
    its writer lock, and counts it: a staged copy with _SUCCESS
    replaces its bucket, one without is dropped and its bucket is kept.
    The table reads the same rows before and after."""
    import os
    import shutil

    path = str(tmp_path / "merged")
    rows = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    maintenance.merge_snapshot(spark, path, rows, None, key="k", epoch=1, n_buckets=4)
    want = sorted(map(tuple, maintenance.read_merged_snapshot(spark, path).collect()))
    done, cut = os.path.join(path, "__bucket=1"), os.path.join(path, "__bucket=2")
    split_bucket(spark, done)  # so compaction rewrites it

    def crash(staged, dst):
        raise OSError("injected crash before the swap")

    monkeypatch.setattr(maintenance, "_swap_in", crash)
    with pytest.raises(OSError, match="injected"):
        maintenance.compact_partition(spark, done)
    monkeypatch.undo()
    # a copy cut off mid-write: some files, no _SUCCESS
    partial = os.path.join(path, ".__bucket=2__compacting")
    os.makedirs(partial)
    part = next(f for f in sorted(os.listdir(cut)) if f.startswith("part-"))
    shutil.copy(os.path.join(cut, part), partial)
    cut_files = sorted(os.listdir(cut))

    rep = maintenance.vacuum_snapshot(path)
    assert rep["settled_compactions"] == 2
    assert not any(d.endswith("__compacting") for d in os.listdir(path))
    assert len([f for f in os.listdir(done) if f.startswith("part-")]) == 1
    assert sorted(os.listdir(cut)) == cut_files
    got = sorted(map(tuple, maintenance.read_merged_snapshot(spark, path).collect()))
    assert got == want
    assert maintenance.vacuum_snapshot(path)["settled_compactions"] == 0
