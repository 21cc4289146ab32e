"""The weekly flow lands drops as text: the drop's values reach the lake,
the merged table and the DELTA exports unchanged, a lake landed with
inferred types is refused until it is migrated, malformed drops leave
the lake readable, and the flow keeps to its Spark-job budget."""

import csv
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from abr_etl_spark import pipeline
from abr_etl_spark.operators import maintenance
from abr_etl_spark.sources import lake, routed_ingest
from tests.conftest import crash_rename_after, group_jobs, job_group, lay_out_merged

DS = "Agency_Data"
HEADER = "pid|abn|org_nm|son_pc|acn|son_dpid"


def _drop(root, yymmdd, lines):
    root.mkdir(exist_ok=True)
    (root / f"VIC{yymmdd}_ABR_{DS}.txt").write_text("\n".join([HEADER, *lines]) + "\n")
    return root


def _cfg(tmp_path, drop, **kw):
    return pipeline.WeeklyConfig(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=(DS,),
        merge_dir=str(tmp_path / "merged"),
        export_dir=str(tmp_path / "export"),
        **kw,
    )


def _contents(*roots):
    """Every file under ``roots`` with its bytes."""
    out = {}
    for root in roots:
        for d, _, fs in os.walk(root):
            for f in fs:
                with open(os.path.join(d, f), "rb") as fh:
                    out[os.path.join(d, f)] = fh.read()
    return out


def _csv_rows(path):
    with open(path, newline="") as fh:
        return {r["pid"]: r for r in csv.DictReader(fh)}


def test_leading_zeros_survive_lake_merge_and_exports(spark, tmp_path):
    """Postcode 0800, ACN 004085616 and DPID 04275125 land as exactly
    those strings in the lake, the merged table and both exports."""
    zeros = "0800|004085616|04275125"
    _drop(tmp_path / "w1", "190422", [f"p1|51004085616|OLD|{zeros}", "p2|1|B|0870|1|1"])
    _drop(
        tmp_path / "w2",
        "190429",
        [f"p1|51004085616|NEW|{zeros}", "p2|1|B|0870|1|1", f"p3|07|C|{zeros}"],
    )
    pipeline.run_weekly(spark, _cfg(tmp_path, tmp_path / "w1"))
    res = pipeline.run_weekly(spark, _cfg(tmp_path, tmp_path / "w2")).results[DS]

    want = ("0800", "004085616", "04275125")
    cols = ("son_pc", "acn", "son_dpid")
    landed = (
        lake.read_lake(spark, str(tmp_path / "lake/DATA" / DS))
        .where(F.col("importdate") == "2019-04-29")
        .collect()
    )
    got = {r["pid"]: tuple(r[c] for c in cols) for r in landed}
    assert got["p1"] == want and got["p3"] == want
    merged = maintenance.read_merged_snapshot(spark, str(tmp_path / "merged" / DS))
    got = {r["pid"]: tuple(r[c] for c in cols) for r in merged.collect()}
    assert got["p1"] == want and got["p3"] == want and got["p2"][0] == "0870"
    updated, added = _csv_rows(res["updated_csv"]), _csv_rows(res["added_csv"])
    assert set(updated) == {"p1"} and set(added) == {"p3"}
    assert tuple(updated["p1"][c] for c in cols) == want
    assert tuple(added["p3"][c] for c in cols) == want
    assert added["p3"]["abn"] == "07"


def _typed_table(spark, path, rows, schema):
    """A table as an older, type-inferring ingest landed it."""
    spark.createDataFrame(rows, schema).write.partitionBy("importdate").parquet(path)


def test_inferred_type_lake_is_refused_until_migrated(spark, tmp_path):
    """A lake and merged table holding inferred integers raise before
    any file lands, naming the column and migrate_to_text; once both
    are migrated they read as text and take the next week. Zeros the
    old ingest dropped stay dropped."""
    table = str(tmp_path / "lake/DATA" / DS)
    merged = str(tmp_path / "merged" / DS)
    schema = (
        "pid string, abn string, org_nm string, son_pc int, acn long, "
        "son_dpid int, importdate string"
    )
    old = [
        ("p1", "1", "A", 800, 4085616, 4275125, "2019-04-22"),
        ("p2", "2", "B", 870, 1, 1, "2019-04-22"),
        ("p1", "1", "A", 800, 4085616, 4275125, "2019-04-29"),
        ("p2", "2", "B", 870, 1, 1, "2019-04-29"),
    ]
    _typed_table(spark, table, old, schema)
    maintenance.merge_snapshot(
        spark,
        merged,
        spark.createDataFrame(old[2:], schema).drop("importdate"),
        None,
        key="pid",
        epoch=20190429,
        n_buckets=4,
    )
    drop = _drop(
        tmp_path / "w3", "190506", ["p1|1|A|0800|004085616|04275125", "p3|3|C|0810|3|3"]
    )
    before = _contents(tmp_path)
    with pytest.raises(ValueError, match=r"'son_pc'.*migrate_to_text") as err:
        pipeline.run_weekly(spark, _cfg(tmp_path, drop, raw_gz=True))
    assert table in str(err.value)
    assert _contents(tmp_path) == before  # nothing landed, not even RAW

    assert lake.migrate_to_text(spark, table) == 2
    assert lake.migrate_to_text(spark, table) == 0  # idempotent
    before = _contents(tmp_path)
    with pytest.raises(ValueError, match="migrate_to_text") as err:
        pipeline.run_weekly(spark, _cfg(tmp_path, drop))
    assert merged in str(err.value)
    assert _contents(tmp_path) == before
    buckets = [d for d in os.listdir(merged) if d.startswith("__bucket=")]
    assert lake.migrate_to_text(spark, merged) == len(buckets) > 0

    back = lake.read_lake(spark, table)
    assert {t for c, t in back.dtypes if c != "importdate"} == {"string"}
    assert back.where(F.col("pid") == "p1").first()["son_pc"] == "800"
    res = pipeline.run_weekly(spark, _cfg(tmp_path, drop)).results[DS]
    assert (res["newest"], res["previous"]) == ("2019-05-06", "2019-04-29")
    assert set(_csv_rows(res["added_csv"])) == {"p3"}
    # p1's zeros are back in the drop, so against the migrated "800" it
    # reads as updated: the text the old lake lost is not restored
    assert set(_csv_rows(res["updated_csv"])) == {"p1"}
    got = maintenance.read_merged_snapshot(spark, merged)
    got = {r["pid"]: r["son_pc"] for r in got.collect()}
    assert got == {"p1": "0800", "p3": "0810"}


# --------------------------------------------------- malformed drops


def _week1(spark, tmp_path):
    drop = _drop(tmp_path / "w1", "190422", ["p1|1|A|0800|1|1", "p2|2|B|0870|2|2"])
    pipeline.run_weekly(spark, _cfg(tmp_path, drop))


def _week2_rows(spark, tmp_path):
    return {
        r["pid"]: tuple(r)[1:6]
        for r in lake.read_lake(spark, str(tmp_path / "lake/DATA" / DS))
        .where(F.col("importdate") == "2019-04-29")
        .collect()
    }


def test_ragged_lines_land_null_filled_or_trimmed(spark, tmp_path):
    _week1(spark, tmp_path)
    lines = ["p1|1|A|0800|1|1", "p2|2", "p3|3|C|0810|3|3|extra|more"]
    drop = _drop(tmp_path / "w2", "190429", lines)
    pipeline.run_weekly(spark, _cfg(tmp_path, drop))
    assert _week2_rows(spark, tmp_path) == {
        "p1": ("1", "A", "0800", "1", "1"),
        "p2": ("2", None, None, None, None),
        "p3": ("3", "C", "0810", "3", "3"),
    }


def test_truncated_last_line_lands_as_far_as_it_goes(spark, tmp_path):
    _week1(spark, tmp_path)
    drop = tmp_path / "w2"
    drop.mkdir()
    (drop / f"VIC190429_ABR_{DS}.txt").write_text(
        f"{HEADER}\np1|1|A|0800|1|1\np2|2|B|08"  # cut off mid-field, no newline
    )
    pipeline.run_weekly(spark, _cfg(tmp_path, drop))
    assert _week2_rows(spark, tmp_path) == {
        "p1": ("1", "A", "0800", "1", "1"),
        "p2": ("2", "B", "08", None, None),
    }


def test_zero_byte_file_raises_naming_it_and_lands_nothing(spark, tmp_path):
    """Policy: a zero-byte dataset file has no header, so ingest raises
    ValueError naming it; nothing of that dataset lands and the table
    keeps reading the weeks before."""
    _week1(spark, tmp_path)
    drop = tmp_path / "w2"
    drop.mkdir()
    empty = drop / f"VIC190429_ABR_{DS}.txt"
    empty.write_bytes(b"")
    with pytest.raises(ValueError, match="zero-byte") as err:
        pipeline.run_weekly(spark, _cfg(tmp_path, drop))
    assert str(empty) in str(err.value)
    table = lake.read_lake(spark, str(tmp_path / "lake/DATA" / DS))
    dates = {str(r[0]) for r in table.select("importdate").distinct().collect()}
    assert dates == {"2019-04-22"}
    assert table.count() == 2


# --------------------------------------------------- job budget


def _label(spark, monkeypatch, module, attr, groups):
    """Run ``module.attr`` under its own job group, recorded in
    ``groups[attr]``, and count its calls in ``groups["calls"]``."""
    real = getattr(module, attr)
    group = groups[attr] = f"{attr}-{uuid.uuid4().hex}"
    calls = groups.setdefault("calls", {})

    def labelled(*args, **kw):
        with job_group(spark, group):
            calls[attr] = calls.get(attr, 0) + 1
            return real(*args, **kw)

    monkeypatch.setattr(module, attr, labelled)


def test_run_weekly_job_budget_and_no_leaked_cache(spark, tmp_path, monkeypatch):
    """Per-step Spark-job budget of a week with a merge and both
    exports (the test session runs AQE off, so counts are
    deterministic): the text-table check, ingest and snapshot discovery
    launch none, each export exactly one (it reads the persisted
    changed rows). The merge reads the merged table's schema from its
    footers, so the two weeks' merges launch only their own 7 jobs; a
    schema-inference read of the affected buckets would add one.
    Nothing the run persisted outlives it."""
    groups = {}
    for module, attr in (
        (lake, "require_text"),
        (routed_ingest, "ingest_delimited"),
        (lake, "newest_previous"),
        (lake, "export_stable_csv"),
        (maintenance, "merge_snapshot"),
    ):
        _label(spark, monkeypatch, module, attr, groups)

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persisted()
    _week1(spark, tmp_path)
    drop = _drop(tmp_path / "w2", "190429", ["p1|1|A|0800|1|9", "p3|3|C|0810|3|3"])
    pipeline.run_weekly(spark, _cfg(tmp_path, drop))
    calls = groups["calls"]
    assert calls["ingest_delimited"] == calls["newest_previous"] == 2
    assert calls["export_stable_csv"] == 2
    assert calls["merge_snapshot"] == 2
    assert group_jobs(spark, groups["require_text"]) == 0
    assert group_jobs(spark, groups["ingest_delimited"]) == 0
    assert group_jobs(spark, groups["newest_previous"]) == 0
    assert group_jobs(spark, groups["export_stable_csv"]) == calls["export_stable_csv"]
    assert group_jobs(spark, groups["merge_snapshot"]) == 7
    assert persisted() - before == set()


def test_run_weekly_reads_only_the_two_compared_partitions(
    spark, tmp_path, monkeypatch
):
    """On a lake of 40 snapshots the CDC lists and reads only the
    newest and the previous one, so its read launches no Spark job (a
    listing of more than 32 paths would be one, and so would a schema
    inference), and the delta is taken against the previous week."""
    import datetime as dt

    table = str(tmp_path / "lake/DATA" / DS)
    day0 = dt.date(2018, 1, 1)
    weeks = [(day0 + dt.timedelta(weeks=w)).isoformat() for w in range(40)]
    rows = [
        r
        for w, d in enumerate(weeks)
        for r in (
            ("p1", "1", "A", "0800", "1", str(w), d),
            ("p2", "2", "B", "0870", "2", "2", d),
        )
    ]
    cols = HEADER.replace("|", " string, ") + " string, importdate string"
    lake.write_partitioned(
        spark.createDataFrame(rows, cols).withColumn(
            "importdate", F.to_date("importdate")
        ),
        table,
    )
    groups = {}
    _label(spark, monkeypatch, lake, "read_lake", groups)
    read = []
    labelled = lake.read_lake
    monkeypatch.setattr(
        lake,
        "read_lake",
        lambda spark, path, parts=None: read.append(parts) or labelled(
            spark, path, parts
        ),
    )
    # p1's last landed son_dpid is "39"; p2 is unchanged; p3 is new
    drop = _drop(
        tmp_path / "w41",
        "181007",
        ["p1|1|A|0800|1|9", "p2|2|B|0870|2|2", "p3|3|C|0810|3|3"],
    )
    res = pipeline.run_weekly(spark, _cfg(tmp_path, drop)).results[DS]
    # the new merged table takes the newest snapshot, read on its own
    assert read == [["2018-10-07"], ["2018-10-07", weeks[-1]]]
    assert groups["calls"]["read_lake"] == 2
    assert group_jobs(spark, groups["read_lake"]) == 0
    assert (res["newest"], res["previous"]) == ("2018-10-07", weeks[-1])
    assert set(_csv_rows(res["updated_csv"])) == {"p1"}
    assert set(_csv_rows(res["added_csv"])) == {"p3"}


def test_drop_missing_a_lake_column_is_refused_before_anything_lands(spark, tmp_path):
    """A drop whose header lacks a column the lake holds raises
    ValueError naming the column before anything lands: the lake (RAW
    copies included) and the merged table are byte-for-byte as
    before."""
    _week1(spark, tmp_path)
    roots = (tmp_path / "lake", tmp_path / "merged")
    before = _contents(*roots)
    drop = tmp_path / "w2"
    drop.mkdir()
    narrow = HEADER.rsplit("|", 1)[0]  # no son_dpid
    (drop / f"VIC190429_ABR_{DS}.txt").write_text(f"{narrow}\np1|1|A|0800|1\n")
    with pytest.raises(ValueError, match=r"\['son_dpid'\]"):
        pipeline.run_weekly(spark, _cfg(tmp_path, drop, raw_gz=True))
    assert _contents(*roots) == before


def test_drop_without_a_delta_dataset_file_says_why(spark, tmp_path):
    """A drop with no Agency_Data file lands its other datasets, runs no
    CDC, and the Agency_Data result names the reason."""
    _week1(spark, tmp_path)
    merged_before = _contents(tmp_path / "merged")
    drop = tmp_path / "w2"
    drop.mkdir()
    (drop / "VIC190429_ABR_Funds.txt").write_text("pid|x\nf1|1\n")
    cfg = pipeline.WeeklyConfig(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=(DS, "Funds"),
        merge_dir=str(tmp_path / "merged"),
        export_dir=str(tmp_path / "export"),
    )
    res = pipeline.run_weekly(spark, cfg).results
    assert res[DS] == {"skipped": f"{drop}: no {DS} file in the drop"}
    assert os.path.isdir(res["Funds"]["table_path"])
    assert _contents(tmp_path / "merged") == merged_before
    updated = tmp_path / "export/DELTA/UPDATED" / DS / "importdate=2019-04-29"
    assert not os.path.exists(updated)


# --------------------------------------------------- merged-table bootstrap


def _feed_drops(tmp_path, weeks, last=(10, 4, 4)):
    """``weeks`` drops of a 300-row Agency_Data feed (seed 7), each
    week updating, removing and adding 10, 4 and 4 rows (the last week
    ``last``); returns the feed, at its last week, and the drop dirs."""
    from perfbench.abrgen import AbrFeed

    feed = AbrFeed(7, 300)
    drops = []
    for w in range(weeks):
        if w:
            feed.advance(*(last if w == weeks - 1 else (10, 4, 4)))
        drops.append(tmp_path / f"feed{w}")
        feed.write_drop(str(drops[-1]), datasets=(DS,))
    return feed, drops


def _late_cfg(tmp_path, drop, merge=True, **kw):
    return pipeline.WeeklyConfig(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=(DS,),
        merge_dir=str(tmp_path / "merged") if merge else None,
        **kw,
    )


def _assert_merged_is_newest(spark, tmp_path, feed):
    merged = maintenance.read_merged_snapshot(spark, str(tmp_path / "merged" / DS))
    newest = lake.read_lake(spark, str(tmp_path / "lake/DATA" / DS)).where(
        F.col("importdate") == feed.date.isoformat()
    )
    cols = sorted(merged.columns)
    got = {tuple(r) for r in merged.select(*cols).collect()}
    assert {r[cols.index("pid")] for r in got} == set(feed.register)
    assert got == {tuple(r) for r in newest.select(*cols).collect()}


def _layout_buckets(path):
    with open(os.path.join(path, maintenance._LAYOUT_FILE)) as fh:
        return json.load(fh)["n_buckets"]


def _staging(path):
    return [d for d in os.listdir(path) if d.startswith(".staging_epoch_")]


@pytest.mark.parametrize(
    "weeks,last,buckets,renames",
    [
        (3, (10, 4, 4), None, 0),
        (3, (10, 4, 4), 4, 1),
        (1, None, 4, 1),
        (3, (0, 0, 0), 4, 1),
    ],
    ids=["late-sized", "late-4-buckets", "first-week", "late-unchanged-week"],
)
def test_first_merge_crash_replays_to_the_register(
    spark, tmp_path, monkeypatch, weeks, last, buckets, renames
):
    """The first merge into a merged table crashes in its rename commit:
    before any bucket lands (one sized bucket), or after the first of
    four lands with its marker (a table laid out with four buckets
    first). The table is set late (week 3) or in a
    first week (a lake of one snapshot), where the replay merges the
    full snapshot again. In the last case the week repeats the previous
    one: the replay finds a bucket, so it merges the week's delta, which
    is empty. Every replay resumes the staged commit and leaves the
    week's register."""
    feed, drops = _feed_drops(tmp_path, weeks, last)
    for d in drops[:-1]:
        pipeline.run_weekly(spark, _late_cfg(tmp_path, d, merge=False))
    merged = str(tmp_path / "merged" / DS)
    if buckets is not None:
        lay_out_merged(spark, merged, buckets)
    crash_rename_after(monkeypatch, renames)
    with pytest.raises(RuntimeError, match="injected crash"):
        pipeline.run_weekly(spark, _late_cfg(tmp_path, drops[-1]))
    monkeypatch.undo()
    assert len(maintenance.bucket_dirs(merged)) == renames
    assert _staging(merged)
    pipeline.run_weekly(spark, _late_cfg(tmp_path, drops[-1]))
    _assert_merged_is_newest(spark, tmp_path, feed)
    assert not _staging(merged)


@pytest.mark.parametrize(
    "split,buckets", [(False, 1), (True, 4)], ids=["default-split", "small-split"]
)
def test_merge_dir_set_on_a_lake_with_history_takes_the_full_snapshot(
    spark, tmp_path, monkeypatch, split, buckets
):
    """Two weeks land without a merged table; the third sets merge_dir.
    The new table holds the week's whole register, not the week's
    delta, and is sized from the newest partition read on its own: one
    bucket at the default scan split. With a split of a third of one
    week's bytes (set around the merge only, so the ingest is not split
    too) that is 4 buckets, where the CDC's two-partition read, whose
    plan estimate keeps both partitions' bytes under the importdate
    filter, would give 8."""
    feed, drops = _feed_drops(tmp_path, 3)
    for d in drops[:2]:
        pipeline.run_weekly(spark, _late_cfg(tmp_path, d, merge=False))
    table = str(tmp_path / "lake/DATA" / DS)
    week2 = lake.discover_partitions_listing(table)[-1]
    plan = lake.read_lake(spark, table, [week2]).drop("importdate")._jdf
    stats = plan.queryExecution().optimizedPlan().stats()
    small = str(int(str(stats.sizeInBytes())) // 3)
    conf = "spark.sql.files.maxPartitionBytes"
    default = spark.conf.get(conf)
    real = maintenance.merge_snapshot

    def small_split(fn, *args, **kw):
        spark.conf.set(conf, small)
        try:
            return fn(*args, **kw)
        finally:
            spark.conf.set(conf, default)

    if split:
        monkeypatch.setattr(
            maintenance, "merge_snapshot", lambda *a, **kw: small_split(real, *a, **kw)
        )
    res = pipeline.run_weekly(spark, _late_cfg(tmp_path, drops[2])).results[DS]
    assert res["merge"] == {"written": buckets, "skipped": 0, "cleared": 0}
    _assert_merged_is_newest(spark, tmp_path, feed)
    merged = str(tmp_path / "merged" / DS)
    assert _layout_buckets(merged) == buckets
    assert len(maintenance.bucket_dirs(merged)) == buckets
    newest = feed.date.isoformat()
    alone = lake.read_lake(spark, table, [newest])
    both = lake.read_lake(spark, table, [newest, week2]).where(
        F.col("importdate").cast("string") == newest
    )
    sized = [
        small_split(maintenance._sized_buckets, df.drop("importdate"))
        for df in (alone, both)
    ]
    assert sized == [4, 8]


def test_default_merge_writes_one_file_per_week(spark, tmp_path):
    """With the default WeeklyConfig a small feed's merged table is one
    bucket, so each week's merge writes exactly one file and the table
    stays one file (a fixed MERGE_BUCKETS layout would write dozens)."""
    feed, drops = _feed_drops(tmp_path, 3)
    merged = str(tmp_path / "merged" / DS)
    for d in drops:
        res = pipeline.run_weekly(spark, _late_cfg(tmp_path, d)).results[DS]
        assert res["merge"]["written"] == 1
        files = [
            f
            for _, _, fs in os.walk(merged)
            for f in fs
            if f.endswith(".parquet")
        ]
        assert len(files) == 1
    _assert_merged_is_newest(spark, tmp_path, feed)
