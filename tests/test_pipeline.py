"""Full weekly pipeline through the facade: the abr-etl.go main() flow
end-to-end, including the kill switch and the reference's DELTA export
layout (Readme.md: DELTA/{UPDATED,ADDED}/<ds>/importdate=<date>/...)."""

import os

import pytest

from abr_etl_spark import pipeline
from tests.conftest import (
    bucket_files,
    group_jobs,
    job_group,
    lay_out_merged,
    split_bucket,
)


def _write_drop(drop):
    drop.mkdir(parents=True)
    week1 = ["pid|abn"] + [f"p{i}|{i}" for i in range(20)]
    week2 = ["pid|abn"] + [f"p{i}|{i if i >= 5 else 999}" for i in range(18)] + [
        "q1|1001"
    ]
    (drop / "VIC190422_ABR_Agency_Data.txt").write_text("\n".join(week1) + "\n")
    (drop / "VIC190429_ABR_Agency_Data.txt").write_text("\n".join(week2) + "\n")
    (drop / "VIC190429_ABR_Funds.txt").write_text("pid|x\nf1|1\n")


def test_weekly_config_has_no_compaction_switch(tmp_path):
    """The merge writes the buckets it rewrites compacted, so there is
    no compaction to switch off: asking to skip it raises instead of
    being ignored."""
    import dataclasses

    fields = {f.name for f in dataclasses.fields(pipeline.WeeklyConfig)}
    assert "compact_merged" not in fields
    with pytest.raises(ValueError, match="merged buckets compacted"):
        pipeline.WeeklyConfig(
            drop_dir=str(tmp_path), lake_root=str(tmp_path), compact_merged=False
        )


def test_run_weekly_end_to_end(spark, tmp_path):
    drop = tmp_path / "drop"
    _write_drop(drop)
    cfg = pipeline.WeeklyConfig(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=("Agency_Data", "Funds"),
        export_dir=str(tmp_path / "exports"),
    )
    out = pipeline.run_weekly(spark, cfg)
    assert set(out.results) == {"Agency_Data", "Funds"}
    ag = out.results["Agency_Data"]
    assert (ag["newest"], ag["previous"]) == ("2019-04-29", "2019-04-22")
    # reference layout: DELTA/UPDATED/<ds>/importdate=<newest>/<ds>_updated.csv
    assert ag["updated_csv"].endswith(
        "DELTA/UPDATED/Agency_Data/importdate=2019-04-29/Agency_Data_updated.csv"
    )
    updated = open(ag["updated_csv"]).read().strip().splitlines()
    added = open(ag["added_csv"]).read().strip().splitlines()
    assert len(updated) - 1 == 5  # p0..p4 changed abn
    assert len(added) - 1 == 1  # q1


def test_kill_switch_blocks_run(spark, tmp_path):
    root = tmp_path / "lake"
    root.mkdir()
    (root / "disabled").write_text("disabled")
    cfg = pipeline.WeeklyConfig(drop_dir=str(tmp_path), lake_root=str(root))
    with pytest.raises(pipeline.PipelineDisabled):
        pipeline.run_weekly(spark, cfg)


def test_run_weekly_from_zip_drop(spark, tmp_path):
    """The weekly flow consumes a VIC_ABR_Extract.zip drop end-to-end
    (extract.go:20-27 parity): unzip -> route -> lake -> delta -> export,
    plus the raw .txt.gz byte-layout passthrough (load.go:19-21)."""
    import gzip
    import zipfile

    staging = tmp_path / "staging"
    _write_drop(staging)
    zip_path = tmp_path / "VIC_ABR_Extract.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for p in staging.iterdir():
            # archive entries under a subdir, as real zips often are --
            # extraction must flatten to basenames
            zf.write(p, f"Sent/{p.name}")
    drop = tmp_path / "drop"
    cfg = pipeline.WeeklyConfig(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=("Agency_Data", "Funds"),
        export_dir=str(tmp_path / "exports"),
        zip_path=str(zip_path),
        raw_gz=True,
    )
    out = pipeline.run_weekly(spark, cfg)
    assert len(out.results["__zip"]["extracted"]) == 3
    ag = out.results["Agency_Data"]
    assert (ag["newest"], ag["previous"]) == ("2019-04-29", "2019-04-22")
    assert len(open(ag["updated_csv"]).read().strip().splitlines()) - 1 == 5
    # raw passthrough: reference byte layout, content round-trips
    gz = (
        tmp_path
        / "lake/RAW/DATA/Funds/importdate=2019-04-29/ABR_Funds.txt.gz"
    )
    assert gz.exists()
    assert gzip.open(gz, "rt").read() == "pid|x\nf1|1\n"


def test_unzip_drop_rejects_traversal_and_bounds(tmp_path):
    import zipfile

    zp = tmp_path / "evil.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("../../escape.txt", "x")
        zf.writestr("/abs/path.txt", "y")
        zf.writestr("ok.txt", "z")
    dest = tmp_path / "out"
    got = pipeline.unzip_drop(str(zp), str(dest))
    # traversal names flattened to basenames inside dest, never outside
    assert sorted(os.path.basename(p) for p in got) == [
        "escape.txt",
        "ok.txt",
        "path.txt",
    ]
    assert all(os.path.dirname(p) == str(dest) for p in got)
    assert not (tmp_path.parent / "escape.txt").exists()
    with pytest.raises(ValueError, match="max_files"):
        pipeline.unzip_drop(str(zp), str(dest), max_files=2)
    with pytest.raises(ValueError, match="max_bytes"):
        pipeline.unzip_drop(str(zp), str(dest), max_bytes=1)


def test_unzip_drop_duplicate_basename_extracts_nothing(tmp_path):
    """The duplicate-basename guard is a PRE-PASS: on failure not a
    single entry has been extracted (no partial state), even when the
    duplicate is the last entry of the archive."""
    import zipfile

    zp = tmp_path / "dup.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("first.txt", "a")
        zf.writestr("second.txt", "b")
        zf.writestr("nested/second.txt", "c")  # flattens to a duplicate
    dest = tmp_path / "out"
    with pytest.raises(ValueError, match="duplicate basename"):
        pipeline.unzip_drop(str(zp), str(dest))
    assert os.listdir(dest) == []


@pytest.mark.slow
def test_run_weekly_cdc_chain_two_drops(spark, tmp_path):
    """r10 verdict item 2: the WHOLE weekly chain composes -- ingest ->
    transform -> delta -> merge_snapshot -- replayed over
    two weekly drops arriving one at a time. After each week the merged
    current-state table equals that week's snapshot (= snapshot_latest
    minus removed keys), and re-running the week is a per-bucket
    metadata no-op."""
    from pyspark.sql import functions as F

    from abr_etl_spark.operators import delta as d

    drop = tmp_path / "drop"
    drop.mkdir()
    week1 = ["pid|abn"] + [f"p{i}|{i}" for i in range(20)]
    # week 2: p0-p4 updated, p18/p19 removed, q1 added
    week2 = (
        ["pid|abn"]
        + [f"p{i}|{i if i >= 5 else 999}" for i in range(18)]
        + ["q1|1001"]
    )
    cfg_kw = dict(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=("Agency_Data",),
        merge_dir=str(tmp_path / "merged"),
    )
    lay_out_merged(spark, tmp_path / "merged/Agency_Data", 4)

    # ---- week 1: bootstrap
    (drop / "VIC190422_ABR_Agency_Data.txt").write_text("\n".join(week1) + "\n")
    out1 = pipeline.run_weekly(spark, pipeline.WeeklyConfig(**cfg_kw))
    rep1 = out1.results["Agency_Data"]["merge"]
    assert rep1["written"] > 0 and rep1["skipped"] == 0
    assert _merged_rows(spark, tmp_path) == {(f"p{i}", str(i)) for i in range(20)}

    # ---- week 2 drop lands; full chain incl. delta + merge
    (drop / "VIC190429_ABR_Agency_Data.txt").write_text("\n".join(week2) + "\n")
    out2 = pipeline.run_weekly(spark, pipeline.WeeklyConfig(**cfg_kw))
    rep2 = out2.results["Agency_Data"]["merge"]
    assert rep2["written"] + rep2["cleared"] > 0
    want2 = {(f"p{i}", "999" if i < 5 else str(i)) for i in range(18)} | {
        ("q1", "1001")
    }
    assert _merged_rows(spark, tmp_path) == want2

    # the merged table IS snapshot_latest minus the removed keys
    table = spark.read.parquet(str(tmp_path / "lake/DATA/Agency_Data"))
    latest = d.snapshot_latest(table, "pid")
    removed = d.delta_removed(
        *d.snapshot_pair(table, "pid", newest="2019-04-29", previous="2019-04-22"),
        "pid",
    ).select("pid")
    expect = {
        (r["pid"], r["abn"])
        for r in latest.join(removed, "pid", "left_anti")
        .select("pid", "abn")
        .collect()
    }
    assert _merged_rows(spark, tmp_path) == expect

    # ---- replaying week 2 (operator retry) is a per-bucket no-op
    out3 = pipeline.run_weekly(spark, pipeline.WeeklyConfig(**cfg_kw))
    rep3 = out3.results["Agency_Data"]["merge"]
    assert rep3["written"] == 0 and rep3["cleared"] == 0
    assert rep3["skipped"] == rep2["written"] + rep2["cleared"] + rep2["skipped"]
    assert _merged_rows(spark, tmp_path) == want2


def test_run_weekly_schema_evolution_across_weeks(spark, tmp_path):
    """r11 verdict item 4 end-to-end: week 2's feed ADDS a column. The
    whole chain -- ingest -> lake -> delta -> merge -> read -- crosses
    the boundary: the lake's mergeSchema read NULLs the column for week
    1, rows whose only change is the new column classify as updated,
    merge_snapshot evolves the current-state table, and unchanged rows
    survive with the column NULL."""
    from abr_etl_spark.operators.maintenance import read_merged_snapshot

    lake_root = tmp_path / "lake"
    merge_dir = tmp_path / "merged"

    def cfg(drop):
        return pipeline.WeeklyConfig(
            drop_dir=str(drop),
            lake_root=str(lake_root),
            datasets=("Agency_Data",),
            merge_dir=str(merge_dir),
        )

    lay_out_merged(spark, merge_dir / "Agency_Data", 4)
    # week 1: two columns
    drop1 = tmp_path / "drop1"
    drop1.mkdir()
    week1 = ["pid|abn"] + [f"p{i}|{i}" for i in range(12)]
    (drop1 / "VIC190422_ABR_Agency_Data.txt").write_text("\n".join(week1) + "\n")
    pipeline.run_weekly(spark, cfg(drop1))

    # week 2 ADDS `flag`: p0/p1 get values (their only change), p2-p11
    # unchanged (flag empty -> NULL, NULL-safe hash says unchanged),
    # q1 added with a flag
    drop2 = tmp_path / "drop2"
    drop2.mkdir()
    week2 = (
        ["pid|abn|flag"]
        + [f"p{i}|{i}|X" for i in range(2)]
        + [f"p{i}|{i}|" for i in range(2, 12)]
        + ["q1|1001|Y"]
    )
    (drop2 / "VIC190429_ABR_Agency_Data.txt").write_text("\n".join(week2) + "\n")
    out2 = pipeline.run_weekly(spark, cfg(drop2))
    assert out2.results["Agency_Data"]["merge"]["written"] >= 1

    got = {
        r["pid"]: (r["abn"], r["flag"])
        for r in read_merged_snapshot(
            spark, str(merge_dir / "Agency_Data")
        ).collect()
    }
    assert len(got) == 13
    assert got["p0"] == ("0", "X") and got["p1"] == ("1", "X")
    assert got["q1"] == ("1001", "Y")
    # unchanged rows were never shipped in the delta; they survive with
    # the evolved column NULL whether their bucket was rewritten or not
    assert all(got[f"p{i}"] == (str(i), None) for i in range(2, 12))

    # replay of the evolved week is still a per-bucket metadata no-op
    out3 = pipeline.run_weekly(spark, cfg(drop2))
    rep3 = out3.results["Agency_Data"]["merge"]
    assert rep3["written"] == 0 and rep3["cleared"] == 0


# ------------------------------------------------------ merge, two weeks


def _two_week_drops(tmp_path):
    """Week 1: p0..p119. Week 2: every 4th pid updated, every 9th
    removed (unless updated), q0..q9 added. Returns (week-1 drop dir,
    week-2 drop dir that still holds week 1's file, week 2's rows)."""
    week1 = [(f"p{i}", str(i)) for i in range(120)]
    week2 = [
        (f"p{i}", str(-i) if i % 4 == 0 else str(i))
        for i in range(120)
        if i % 4 == 0 or i % 9
    ] + [(f"q{i}", str(1000 + i)) for i in range(10)]
    drops = (tmp_path / "drop_w1", tmp_path / "drop_w2")
    for d in drops:
        d.mkdir()
    for name, rows, dirs in (
        ("VIC190422", week1, drops),
        ("VIC190429", week2, drops[1:]),
    ):
        text = "\n".join(["pid|abn"] + [f"{p}|{a}" for p, a in rows]) + "\n"
        for d in dirs:
            (d / f"{name}_ABR_Agency_Data.txt").write_text(text)
    return *drops, set(week2)


def _merge_cfg(tmp_path, drop):
    return pipeline.WeeklyConfig(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=("Agency_Data",),
        merge_dir=str(tmp_path / "merged"),
    )


def _merged_rows(spark, tmp_path):
    from abr_etl_spark.operators.maintenance import read_merged_snapshot

    return {
        (r["pid"], r["abn"])
        for r in read_merged_snapshot(
            spark, str(tmp_path / "merged/Agency_Data")
        ).collect()
    }


def _two_weeks_counting_compactions(spark, tmp_path, monkeypatch, group):
    """Run weeks 1 and 2 through run_weekly with compact_partition
    counted and its jobs labelled with job group ``group``. AQE is on
    (callers take ``aqe_on``), as in production, so the rebalance hint
    lands every bucket a week rewrites as one file; no bucket here
    nears AQE's advisory size. Checks each week's rewritten buckets and
    the merged rows; returns (compact_partition calls, week 2's drop
    dir, merged table path, week 2's rows)."""
    from abr_etl_spark.operators import maintenance

    real = maintenance.compact_partition
    calls = []

    def counted(spark_, path, **kw):
        calls.append(path)
        with job_group(spark_, group):
            return real(spark_, path, **kw)

    monkeypatch.setattr(maintenance, "compact_partition", counted)
    drop1, drop2, week2 = _two_week_drops(tmp_path)
    table = tmp_path / "merged/Agency_Data"
    lay_out_merged(spark, table, 8)
    reps = []
    for drop, epoch in ((drop1, 20190422), (drop2, 20190429)):
        out = pipeline.run_weekly(spark, _merge_cfg(tmp_path, drop))
        reps.append(out.results["Agency_Data"]["merge"])
        files = bucket_files(table)
        rewritten = [
            b
            for b in files
            if maintenance._read_mark(str(table), int(b.split("=")[1])) == epoch
        ]
        assert len(rewritten) == reps[-1]["written"] > 1
        assert all(len(files[b]) == 1 for b in rewritten), files
    assert reps[0]["written"] == 8
    assert _merged_rows(spark, tmp_path) == week2
    return calls, drop2, table, week2


def test_weekly_compaction_launches_no_spark_job(
    spark, aqe_on, tmp_path, monkeypatch
):
    """The merge's write is each rewritten bucket's only one: over two
    weeks run_weekly calls compact_partition for no bucket, so no
    compaction job runs, and every bucket a week rewrote is one file."""
    import uuid

    group = f"compact-{uuid.uuid4().hex}"
    calls, _, _, _ = _two_weeks_counting_compactions(
        spark, tmp_path, monkeypatch, group
    )
    assert calls == []
    assert group_jobs(spark, group) == 0


def test_run_weekly_clean_replay_compacts_nothing(
    spark, aqe_on, tmp_path, monkeypatch
):
    """Replaying a week that finished cleanly writes and clears nothing,
    leaves every bucket file in place, and, like the two weeks before
    it, calls compact_partition for no bucket."""
    calls, drop2, table, week2 = _two_weeks_counting_compactions(
        spark, tmp_path, monkeypatch, "compact-replay"
    )
    before = bucket_files(table)
    out = pipeline.run_weekly(spark, _merge_cfg(tmp_path, drop2))
    rep = out.results["Agency_Data"]["merge"]
    assert rep["written"] == rep["cleared"] == 0
    assert bucket_files(table) == before
    assert calls == []
    assert _merged_rows(spark, tmp_path) == week2


def test_run_weekly_replay_after_compaction_crash_after_delete(
    spark, tmp_path, monkeypatch
):
    """A compact_partition call on a merged bucket crashes after
    deleting the bucket and before renaming its rewrite in, so the
    bucket is gone while its epoch marker says week 2 is done, and the
    marker gate would skip it for good. The replay's merge_snapshot
    settles the staged rewrite first, and the table is week 2 again.
    The bucket is split into several files first, so the compaction has
    work."""
    import shutil

    from abr_etl_spark.operators import maintenance

    drop1, drop2, week2 = _two_week_drops(tmp_path)
    table = tmp_path / "merged/Agency_Data"
    lay_out_merged(spark, table, 8)
    pipeline.run_weekly(spark, _merge_cfg(tmp_path, drop1))
    pipeline.run_weekly(spark, _merge_cfg(tmp_path, drop2))
    name = next(
        b
        for b in sorted(bucket_files(table))
        if maintenance._read_mark(str(table), int(b.split("=")[1])) == 20190429
    )
    split_bucket(spark, str(table / name))

    def crash_after_delete(staged, path):
        shutil.rmtree(path)
        raise OSError(f"injected crash before renaming {staged}")

    monkeypatch.setattr(maintenance, "_swap_in", crash_after_delete)
    with pytest.raises(OSError, match="injected crash"):
        maintenance.compact_partition(spark, str(table / name))
    monkeypatch.undo()
    assert not (table / name).exists()
    assert (table / f".{name}__compacting/_SUCCESS").exists()

    out = pipeline.run_weekly(spark, _merge_cfg(tmp_path, drop2))
    rep = out.results["Agency_Data"]["merge"]
    assert rep["written"] == 0 and rep["cleared"] == 0
    assert not any(d.name.endswith("__compacting") for d in table.iterdir())
    assert len(bucket_files(table)[name]) == 1
    assert _merged_rows(spark, tmp_path) == week2
