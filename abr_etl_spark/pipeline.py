"""Weekly ETL pipeline orchestration -- the reference's abr-etl.go main()
(abr-etl.go:22-41) as one Spark-native flow:

    kill-switch check -> text-table check -> header check -> routed
    ingest -> per-dataset transform -> partitioned lake write ->
    (per-dataset post actions) delta of the two newest partitions -> CDC
    apply (merge_snapshot current-state table, bootstrapped
    from the newest full snapshot) -> stable-named CSV export

The merge writes each bucket it rewrites once, already compacted (one
file per bucket under AQE), so no compaction pass follows it; a
compaction that an earlier run or a crash left half-done is settled by
the next merge.

Like the reference, which lands each drop file unchanged and compares
text in its delta SQL, the flow lands every column as text: ingest
reads the drop's header on the driver (``routed_ingest.probe_drop_header``)
instead of inferring types, so ABN, ACN, postcode and DPID keep their
leading zeros and ingest launches no Spark job. Lake and merged tables
are zstd parquet (``lake.PARQUET_COMPRESSION``). A table landed by an
older, type-inferring version is refused until ``lake.migrate_to_text``
has rewritten it.

Transport concerns (SFTP download, S3 sync, CloudWatch) are out of engine
scope -- the data path is complete. The kill switch mirrors the
reference's s3://bucket/disabled object (abr-etl.go:59-78) as a lake-root
marker file.
"""

from __future__ import annotations

import logging
import os
from dataclasses import InitVar, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from abr_etl_spark.operators import delta, maintenance
from abr_etl_spark.sources import lake, routed_ingest
from abr_etl_spark.sources.abr_schemas import AGENCY_DELTA_KEY

log = logging.getLogger("abr_etl_spark.pipeline")

#: the datasets whose two newest snapshots are compared (and, with
#: merge_dir, merged), as the reference computes only the agency delta
#: (agency-delta.go); their key is AGENCY_DELTA_KEY
_DELTA_DATASETS = ("Agency_Data",)


class PipelineDisabled(RuntimeError):
    pass


@dataclass
class WeeklyConfig:
    drop_dir: str
    lake_root: str
    datasets: tuple[str, ...] = tuple(routed_ingest.FILE_ROUTES)
    export_dir: str | None = None
    #: optional weekly zip drop (the reference's VIC_ABR_Extract.zip,
    #: extract.go:20-27): unzipped into drop_dir before routing.
    zip_path: str | None = None
    #: also land the raw .txt as DATA/<ds>/importdate=<d>/ABR_<ds>.txt.gz
    #: (byte-layout parity with the reference lake, load.go:19-21).
    raw_gz: bool = False
    #: root for materialized current-state tables (<merge_dir>/<ds>):
    #: when set, each delta dataset's computed CDC (updated+added,
    #: removed) is APPLIED via maintenance.merge_snapshot -- the full
    #: downstream half the reference's consumers build by hand. A first
    #: week, and a table that holds no bucket yet (merge_dir first set
    #: on a lake with history), take the week's full snapshot; each
    #: later week merges its delta. The epoch is int(yyyymmdd), so
    #: replaying a week is a per-bucket metadata no-op that also resumes
    #: a crashed commit. A new table's bucket count is sized from its
    #: bytes (see maintenance.MERGE_BUCKETS) and later weeks keep it.
    merge_dir: str | None = None
    results: dict = field(default_factory=dict)
    #: not a setting: the merge writes the buckets it rewrites
    #: compacted. Accepted as True for perfbench's callers.
    compact_merged: InitVar[bool] = True

    def __post_init__(self, compact_merged: bool) -> None:
        if not compact_merged:
            raise ValueError(
                "run_weekly's merge writes merged buckets compacted; "
                "compact_merged=False is not a setting"
            )


def unzip_drop(
    zip_path: str,
    dest_dir: str,
    *,
    max_files: int = 64,
    max_bytes: int = 4 << 30,
) -> list[str]:
    """Bounded driver-side unzip of the weekly drop (the reference shells
    out to /usr/bin/unzip -o, extract.go:57; here stdlib zipfile).

    Driver-side is correct, not a compromise: the weekly zip is ONE
    bounded artifact (8 datasets), not data-scale input -- the 100 TB
    path starts after extraction, when Spark scans the routed text files.
    Guards: entry count and total declared uncompressed size are capped,
    entries are extracted FLAT by basename (zip-slip: absolute paths and
    ``..`` components in archive names never touch the filesystem), and
    two entries flattening to the SAME basename raise instead of silently
    overwriting each other (a dataset file lost with no error).

    Returns the extracted file paths.
    """
    import zipfile

    os.makedirs(dest_dir, exist_ok=True)
    out: list[str] = []
    with zipfile.ZipFile(zip_path) as zf:
        infos = [i for i in zf.infolist() if not i.is_dir()]
        if len(infos) > max_files:
            raise ValueError(
                f"{zip_path}: {len(infos)} entries > max_files={max_files}"
            )
        total = sum(i.file_size for i in infos)
        if total > max_bytes:
            raise ValueError(
                f"{zip_path}: declared uncompressed size {total} "
                f"> max_bytes={max_bytes}"
            )
        # validate ALL flattened basenames BEFORE extracting anything, so
        # a duplicate raises with zero bytes written -- raising mid-loop
        # would leave earlier entries behind as partial state
        flat = [
            (info, base)
            for info in infos
            if (base := os.path.basename(info.filename.replace("\\", "/")))
        ]
        seen: set[str] = set()
        for _, base in flat:
            if base in seen:
                raise ValueError(
                    f"{zip_path}: duplicate basename {base!r} after "
                    "flattening -- entries would overwrite each other"
                )
            seen.add(base)
        for info, base in flat:
            target = os.path.join(dest_dir, base)
            with zf.open(info) as src, open(target, "wb") as dst:
                while chunk := src.read(1 << 20):
                    dst.write(chunk)
            out.append(target)
    return out


def raw_gz_passthrough(drop_dir: str, raw_root: str) -> dict[str, str]:
    """Land each routed raw text file as
    ``<raw_root>/DATA/<ds>/importdate=<date>/ABR_<ds>.txt.gz`` -- the
    byte layout the reference writes (DataKey load.go:19-21, gzip
    GetFile load.go:23-36) -- so consumers of the reference lake mount
    ``raw_root`` as their bucket root and read unchanged. It is a
    SEPARATE root from the parquet lake (run_weekly passes
    ``<lake_root>/RAW``): the engine's primary representation stays
    columnar/predicate-pushdown parquet, and mixing .txt.gz into the
    parquet DATA tree would corrupt the parquet scans. Returns
    dataset -> written path."""
    import gzip
    import shutil

    written: dict[str, str] = {}
    for name in sorted(os.listdir(drop_dir)):
        routed = routed_ingest.match_dataset(name)
        if routed is None:
            continue
        ds, yymmdd = routed
        date = f"20{yymmdd[:2]}-{yymmdd[2:4]}-{yymmdd[4:6]}"
        out_dir = os.path.join(raw_root, "DATA", ds, f"importdate={date}")
        os.makedirs(out_dir, exist_ok=True)
        out_path = os.path.join(out_dir, f"ABR_{ds}.txt.gz")
        with open(os.path.join(drop_dir, name), "rb") as src, gzip.open(
            out_path, "wb"
        ) as dst:
            shutil.copyfileobj(src, dst)
        written[ds] = out_path
    return written


def check_disabled(lake_root: str) -> None:
    """Kill switch: a 'disabled' marker at the lake root aborts the run
    (reference checkDisabledStatus, abr-etl.go:59)."""
    marker = os.path.join(lake_root, "disabled")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == "disabled":
                raise PipelineDisabled(f"ETL disabled -- {marker}")


#: flag column of _weekly_cdc's changed-rows frame (``__`` like the
#: delta operators' own bookkeeping columns, so no feed column clashes)
_ADDED = "__added"


def _weekly_cdc(
    new_df: DataFrame, old_df: DataFrame, key: str
) -> tuple[DataFrame, DataFrame]:
    """(changed, removed_keys) for one snapshot pair.

    ``changed`` is every new row whose key is new or whose row hash
    differs, with a boolean ``__added`` flag (key absent from the old
    snapshot): the merge's upserts are all of it, the UPDATED export the
    rows with the flag false, the ADDED export those with it true.
    run_weekly persists this one frame, so the classify join -- new LEFT
    JOIN old-(key, hash) -- runs once for the merge and both exports. A
    left join keeps the broadcast-hash strategy AQE picks when the
    narrow old side fits; a full outer join cannot broadcast and
    measured slower (weekly medians 8.2 s -> 10.6 s at sf0.1/32c).
    Removed keys stay the narrow anti-join."""
    lj = delta.row_hash(
        new_df, delta._payload_cols(new_df, key, ("importdate",))
    ).withColumnRenamed(delta._HASH_COL, "__h_new").join(
        delta.row_hash(
            old_df, delta._payload_cols(old_df, key, ("importdate",))
        ).select(F.col(key), F.col(delta._HASH_COL).alias("__h_old")),
        on=key,
        how="left_outer",
    )
    changed = lj.where(
        F.col("__h_old").isNull() | (F.col("__h_new") != F.col("__h_old"))
    ).select(*new_df.columns, F.col("__h_old").isNull().alias(_ADDED))
    rem = delta.delta_removed(new_df, old_df, key).select(key)
    return changed, rem


def _require_text_tables(cfg: WeeklyConfig) -> None:
    """Refuse, before anything lands, a lake or merged table that still
    stores inferred types: this flow lands text, and a table mixing the
    two cannot be read (lake.require_text; one footer per table, no
    Spark job)."""
    for ds in cfg.datasets:
        lake.require_text(os.path.join(cfg.lake_root, "DATA", ds))
        if cfg.merge_dir and ds in _DELTA_DATASETS:
            lake.require_text(os.path.join(cfg.merge_dir, ds))


def _require_lake_columns(cfg: WeeklyConfig) -> None:
    """Refuse, before anything lands, a drop whose header lacks a column
    its lake table holds: the narrower week would land, the CDC would
    read the column as NULL in every new row, and the merge would blank
    it in the current-state table. Compares each
    dataset's probed header with the footer of the table's newest
    partition (lake.require_columns; no Spark job). A dataset with no
    file in the drop has nothing to check."""
    for ds in cfg.datasets:
        try:
            header = routed_ingest.probe_drop_header(cfg.drop_dir, ds)
        except FileNotFoundError:
            continue
        lake.require_columns(os.path.join(cfg.lake_root, "DATA", ds), header)


def run_weekly(spark: SparkSession, cfg: WeeklyConfig) -> WeeklyConfig:
    """Execute the weekly flow; per-dataset results land in cfg.results.

    Each dataset lands as text (``routed_ingest.ingest_delimited`` with
    no schema: a driver-side header probe, no Spark job) into zstd
    parquet. Snapshot discovery lists the table's partition directories
    and the CDC reads only the two it compares, with their schema taken
    from the footers on the driver (``lake.read_lake``; no Spark job
    before the CDC's own). A dataset with no file in the drop is
    skipped, and its result says why (``{"skipped": reason}``); any
    other ingest error, such as a zero-byte file, raises. A first week
    (a lake of one snapshot), and a merged table that holds no bucket
    yet on a lake with history, merge the newest full snapshot, read on
    its own so that it sizes a new table; any other week merges its
    delta. Before anything lands, the run raises ValueError on a lake
    or merged table landed with inferred types (naming
    ``lake.migrate_to_text``) and on a drop whose header lacks a column
    of its lake table (naming the columns)."""
    check_disabled(cfg.lake_root)
    _require_text_tables(cfg)

    if cfg.zip_path:
        extracted = unzip_drop(cfg.zip_path, cfg.drop_dir)
        cfg.results["__zip"] = {"extracted": extracted}
    _require_lake_columns(cfg)
    if cfg.raw_gz:
        cfg.results["__raw_gz"] = raw_gz_passthrough(
            cfg.drop_dir, os.path.join(cfg.lake_root, "RAW")
        )

    for ds in cfg.datasets:
        try:
            df = routed_ingest.ingest_delimited(spark, cfg.drop_dir, ds)
        except FileNotFoundError as exc:
            log.info("dataset %s: %s", ds, exc)
            cfg.results[ds] = {"skipped": str(exc)}
            continue
        df = maintenance.apply_transform(ds, df)
        table_path = os.path.join(cfg.lake_root, "DATA", ds)
        lake.write_partitioned(df, table_path)
        cfg.results[ds] = {"table_path": table_path}

        if ds not in _DELTA_DATASETS:
            continue
        merged = os.path.join(cfg.merge_dir, ds) if cfg.merge_dir else None
        try:
            newest, previous = lake.newest_previous(table_path)
        except ValueError as exc:
            log.info("dataset %s: %s", ds, exc)
            dates = lake.discover_partitions_listing(table_path) if merged else []
            if not dates:
                continue
            newest, previous = dates[-1], None
        if merged and (previous is None or not maintenance.bucket_dirs(merged)):
            # the full snapshot goes to a first week, whose replay then
            # resumes a crashed first merge (a committed one is a
            # per-bucket no-op), and to a table holding no bucket on a
            # lake with history. It sizes a new table's buckets, so it
            # is the newest partition read alone: a filter on the CDC's
            # two-partition read keeps both partitions' bytes in the
            # plan's estimate. The week's delta is already in it.
            cfg.results[ds]["merge"] = maintenance.merge_snapshot(
                spark,
                merged,
                lake.read_lake(spark, table_path, [newest]).drop("importdate"),
                None,
                key=AGENCY_DELTA_KEY,
                epoch=int(newest.replace("-", "")),
            )
            merged = None
        if previous is None:
            continue
        new_df, old_df = delta.snapshot_pair(
            lake.read_lake(spark, table_path, [newest, previous]),
            AGENCY_DELTA_KEY,
            newest=newest,
            previous=previous,
        )
        changed, rem = _weekly_cdc(new_df, old_df, AGENCY_DELTA_KEY)
        cfg.results[ds].update(
            {"newest": newest, "previous": previous}
        )
        # The merge reads the upserts twice (bucket stats collect, then
        # the staging write) and the removed keys once more inside the
        # survivor anti-join, and each export filters the changed rows
        # again; persisting the two delta frames turns every read after
        # the first into a cache read. Each is released as soon as its
        # last reader is done, also when a step raises: a cached plan
        # keeps its broadcast relations alive, and the longer it lives
        # the likelier they outlive the run in the old generation.
        changed = changed.persist()
        try:
            if merged:
                rem = rem.persist()
                try:
                    cfg.results[ds]["merge"] = maintenance.merge_snapshot(
                        spark,
                        merged,
                        changed.drop(_ADDED, "importdate"),
                        rem,
                        key=AGENCY_DELTA_KEY,
                        epoch=int(newest.replace("-", "")),
                    )
                finally:
                    rem.unpersist()
            if cfg.export_dir:
                for action, rows in (
                    ("updated", ~F.col(_ADDED)),
                    ("added", F.col(_ADDED)),
                ):
                    out_dir = os.path.join(
                        cfg.export_dir,
                        f"DELTA/{action.upper()}/{ds}/importdate={newest}",
                    )
                    os.makedirs(out_dir, exist_ok=True)
                    path = lake.export_stable_csv(
                        changed.where(rows).drop(_ADDED, "importdate"),
                        out_dir,
                        f"{ds}_{action}.csv",
                    )
                    cfg.results[ds][f"{action}_csv"] = path
        finally:
            changed.unpersist()
    return cfg
