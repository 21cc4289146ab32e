"""Lake maintenance: small-file compaction and per-dataset transforms.

Compaction is THE recurring ops problem of streaming/weekly ingest at
scale: thousands of small files per partition destroy scan throughput
(per-file open cost, tiny row groups, starved vectorized readers).

The transform registry realizes the reference's TransformLocation
placeholder (transform.go:3-7, empty ``locationTransformSQL``): named SQL
transforms applied to a dataset between ingest and lake write.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from abr_etl_spark.sources.lake import PARQUET_COMPRESSION, read_parquet

TARGET_FILE_BYTES = 128 * 1024 * 1024  # cluster-friendly parquet file size


def compact_partition(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Rewrite a lake partition directory into ~target-sized files.

    Sizes the output file count from the actual input bytes (cheap
    filesystem listing, no data read), then stages the rewrite in a
    hidden sibling (``.<name>__compacting``, which Spark's file index
    skips) and swaps it in. A crash mid-way leaves either the staged
    copy without ``_SUCCESS`` next to an intact partition, or a
    finished staged copy next to a partition that may be partly or
    wholly deleted; finish_compactions settles both. Returns the new
    file count. Run per-partition (importdate=...), never on the whole
    table.

    A partition that already IS its target layout -- one data file no
    larger than the target -- is left in place and costs no Spark job
    (returns 1); only a multi-file partition, or one file over the
    target, is rewritten. The weekly flow does not call it:
    merge_snapshot writes each bucket it rewrites as one file under
    AQE, and it settles a compaction of one of its buckets that crashed
    before it reads any marker. The call takes no writer lock, so do
    not run it on a merged table's bucket beside a merge or a vacuum.
    """
    import glob
    import os

    files = {
        f
        for f in glob.glob(os.path.join(path, "*.parquet"))
        + glob.glob(os.path.join(path, "part-*"))
        if os.path.isfile(f)
    }
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))  # ceil div
    if n_out == 1 and len(files) == 1:
        return 1
    df = read_parquet(spark, path)
    tmp = _compact_staging(path)
    # n_out == 1 (several small files): coalesce merges the
    # input splits in ONE task with no shuffle write+read; repartition
    # would round-trip every row through a 1-partition exchange for the
    # same single output file (r16, opt guide 2.4). Multi-file outputs
    # keep repartition so file sizes stay even.
    out = df.coalesce(1) if n_out == 1 else df.repartition(int(n_out))
    out.write.mode("overwrite").option(
        "compression", PARQUET_COMPRESSION
    ).parquet(tmp)
    _swap_in(tmp, path)
    return int(n_out)


def _compact_staging(path: str) -> str:
    import os

    head, name = os.path.split(path.rstrip("/"))
    return os.path.join(head, f".{name}__compacting")


def _swap_in(staged: str, path: str) -> None:
    import os
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.rename(staged, path)


def finish_compactions(table: str) -> int:
    """Settle the staged rewrites that crashed compact_partition calls
    left in ``table``: one with ``_SUCCESS`` holds all of its
    partition's rows and replaces the partition (whose delete may have
    been cut short or done); one without is dropped, its partition
    never having been touched. Reads directory names only, so a table
    with nothing to settle costs one listing. Returns the number
    settled."""
    import os
    import shutil

    settled = 0
    for d in sorted(os.listdir(table)):
        if not (d.startswith(".") and d.endswith("__compacting")):
            continue
        staged = os.path.join(table, d)
        if os.path.exists(os.path.join(staged, "_SUCCESS")):
            _swap_in(staged, os.path.join(table, d[1 : -len("__compacting")]))
        else:
            shutil.rmtree(staged)
        settled += 1
    return settled


# ---------------------------------------------------------------- transforms

TransformFn = Callable[[DataFrame], DataFrame]
_TRANSFORMS: dict[str, TransformFn] = {}


def register_transform(dataset: str) -> Callable[[TransformFn], TransformFn]:
    """Decorator: attach a named transform to a dataset (the post-ingest
    hook the reference left as an empty stub)."""

    def deco(fn: TransformFn) -> TransformFn:
        _TRANSFORMS[dataset] = fn
        return fn

    return deco


def apply_transform(dataset: str, df: DataFrame) -> DataFrame:
    fn = _TRANSFORMS.get(dataset)
    return fn(df) if fn else df


@register_transform("Businesslocation")
def location_transform(df: DataFrame) -> DataFrame:
    """The transform TransformLocation was going to be: normalize state
    codes and postcodes for the location dataset (applied only when the
    columns exist, so partial schemas pass through)."""
    out = df
    if "state" in df.columns:
        out = out.withColumn("state", F.upper(F.trim("state")))
    if "postcode" in df.columns:
        out = out.withColumn(
            "postcode", F.lpad(F.regexp_replace("postcode", "[^0-9]", ""), 4, "0")
        )
    return out


def _bucket_case_sql(col: str, bounds: list[float]) -> str:
    """Unrolled binary search: map ``col`` to its quantile bucket in
    [0, len(bounds)+1) via a depth-log2(B) nested CASE over the LITERAL
    sorted inner boundaries -- log2(B) comparisons per row, pure
    JVM-side arithmetic, no join and no shuffle (the map-side
    range-id assignment a lakehouse OPTIMIZE ZORDER does after its
    boundary-sampling job)."""

    def rec(lo: int, hi: int) -> str:
        if hi - lo == 1:
            return str(lo)
        mid = (lo + hi) // 2
        b = repr(float(bounds[mid - 1]))
        return (
            f"(CASE WHEN {col} < {b} THEN {rec(lo, mid)}"
            f" ELSE {rec(mid, hi)} END)"
        )

    return rec(0, len(bounds) + 1)


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    *,
    bits: int = 8,
    n_files: int = 8,
) -> int:
    """Write ``df`` as parquet clustered on the z-order (Morton)
    interleave of two numeric SQL expressions -- the layout that gives
    every output file a bounded rectangle in BOTH dimensions, so
    per-file (and per-row-group) min/max column stats prune scans
    filtered on either one (the reason lakehouse tables z-order instead
    of sorting by a single key; plans/analytics8.zorder_layout is the
    read-side locality report over the same interleave formula).

    Each dimension is first RANK-BUCKETED into 2^bits quantile buckets:
    one approxQuantile pass per dimension computes the 2^bits - 1 inner
    boundaries (a column-pruned aggregation job, deterministic GK
    summaries, nothing shuffled), and each row's bucket is then an
    unrolled log2-depth binary-search CASE over those literal
    boundaries -- so ARBITRARY key domains (beyond 2^bits, negative,
    skewed) cluster correctly and monotonically; distant values can
    never alias into the same Morton cell the way a raw pmod fold
    would. The Morton interleave runs on the bucket ids, which are
    non-negative and < 2^bits by construction. (Boundary comparison is
    in DOUBLE: above 2^53 adjacent integers may share a bucket --
    still monotonic, so pruning degrades gracefully, never aliases.)

    Mechanics after bucketing: repartitionByRange on the z-key
    (range-sampled boundaries -> balanced files regardless of key skew)
    + sortWithinPartitions, helper columns projected away before the
    write. Two metadata-scale quantile jobs plus the ONE range exchange
    any clustering write needs. Returns the output file count
    (<= n_files; the range partitioner may emit fewer for tiny
    inputs). Locality + file-level pruning contracts are
    pytest-asserted (tests/test_maintenance.py).
    """
    import glob
    import os

    from abr_etl_spark.functions.zorder import zkey_sql

    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    staged = df.withColumn("__zx", F.expr(x).cast("double")).withColumn(
        "__zy", F.expr(y).cast("double")
    )
    bx, by = staged.stat.approxQuantile(
        ["__zx", "__zy"], probs, 1.0 / (4 * n_buckets)
    )
    # materialize the bucket ids ONCE per row -- zkey_sql substitutes its
    # operand text once per bit, which would re-run the binary search
    # 2*bits times per row if handed the CASE expression directly
    bucketed = staged.withColumn(
        "__zxb", F.expr(_bucket_case_sql("__zx", bx)).cast("long")
    ).withColumn("__zyb", F.expr(_bucket_case_sql("__zy", by)).cast("long"))
    zk = zkey_sql("__zxb", "__zyb", " DIV ", bits=bits)
    (
        bucketed.withColumn("__zkey", F.expr(zk))
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey", "__zx", "__zy", "__zxb", "__zyb")
        .write.mode("overwrite")
        .parquet(path)
    )
    files = [
        f
        for f in glob.glob(os.path.join(path, "part-*"))
        if os.path.isfile(f) and not f.endswith(".crc")
    ]
    # plain-column cluster keys get a per-file min/max manifest so
    # read_zordered can do FILE-level pruning (the skipping layer a
    # vanilla parquet scan lacks: Spark only drops row groups inside
    # each reader task, never whole files)
    cols = [c for c in (x, y) if c in df.columns]
    if cols:
        _write_zorder_manifest(path, files, cols, spark=df.sparkSession)
    return len(files)


ZORDER_MANIFEST = "_zorder_manifest.json"


#: file count above which manifest footer reads fan out over executors
#: instead of a driver loop (each footer read is ~1 ms locally but
#: ~10-50 ms against object storage; 10^5 files would serialize minutes
#: on the driver).
DIST_MANIFEST_MIN = 256


#: footer min/max types the JSON manifest can carry verbatim; anything
#: else (timestamp/date/binary pyarrow stats objects) is skipped so the
#: conservative reader simply never prunes on that column.
_JSON_SAFE_STATS = (bool, int, float, str)


def _footer_stats(f: str, cols: list[str]) -> dict:
    """Min/max of ``cols`` for ONE parquet file from its footer only
    (no data pages touched). Conservative on every degenerate input:
    a column absent from the file, with any row group missing stats,
    or whose stats are not JSON-serializable (timestamp/date/binary)
    is omitted -- read_zordered then never prunes on it, it never
    raises (write_stats_manifest is advertised for ANY parquet dir)."""
    import os

    import pyarrow.parquet as pq

    md = pq.ParquetFile(f).metadata
    names = md.schema.names
    stats: dict[str, list] = {}
    for c in cols:
        if c not in names:
            continue
        j = names.index(c)
        mins, maxs = [], []
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(j).statistics
            if (
                st is None
                or not st.has_min_max
                or not isinstance(st.min, _JSON_SAFE_STATS)
                or not isinstance(st.max, _JSON_SAFE_STATS)
            ):
                mins, maxs = [], []
                break
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            stats[c] = [min(mins), max(maxs)]
    return {"file": os.path.basename(f), "stats": stats}


def _manifest_entries_distributed(
    spark: SparkSession, files: list[str], cols: list[str]
) -> list[dict]:
    """Footer reads fanned out over executors (Arrow mapInPandas over
    the FILE LIST, not the data) -- the 100 TB path where 10^5 footers
    would serialize a driver loop. Only (file, stats-json) tuples come
    back; executors must share the filesystem (true of any cluster
    deployment)."""
    import json

    import pandas as pd

    cols_b = list(cols)

    def compute(batches):
        for pdf in batches:
            out = [
                (
                    (e := _footer_stats(p, cols_b))["file"],
                    json.dumps(e["stats"]),
                )
                for p in pdf["path"]
            ]
            yield pd.DataFrame(out, columns=["file", "stats"])

    fdf = spark.createDataFrame(
        [(f,) for f in sorted(files)], "path string"
    ).repartition(min(len(files) // 32 + 1, 64))
    rows = fdf.mapInPandas(compute, "file string, stats string").collect()
    return sorted(
        ({"file": r.file, "stats": json.loads(r.stats)} for r in rows),
        key=lambda e: e["file"],
    )


def _write_zorder_manifest(
    path: str,
    files: list[str],
    cols: list[str],
    spark: SparkSession | None = None,
) -> None:
    """Per-file min/max stats for the cluster columns, from the parquet
    FOOTERS only (no data read) -- the write-time metadata a lakehouse
    table format keeps in its log. Driver-side below DIST_MANIFEST_MIN
    files (metadata-scale loop); fanned out over executors above it."""
    import json
    import os

    if spark is not None and len(files) >= DIST_MANIFEST_MIN:
        entries = _manifest_entries_distributed(spark, files, cols)
    else:
        entries = [_footer_stats(f, cols) for f in sorted(files)]
    with open(os.path.join(path, ZORDER_MANIFEST), "w") as fh:
        json.dump(entries, fh)


def read_zordered(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple] | None = None,
) -> tuple[DataFrame, int]:
    """Read a write_zordered directory with FILE-level min/max pruning:
    files whose manifest rectangle misses every ``{col: (lo, hi)}``
    range are never handed to the scan at all (the reader still applies
    row-group pruning inside the survivors). Pruning is conservative --
    a file is read unless its stats PROVE it irrelevant -- so callers
    apply their .where() as usual. Returns (df, n_files_selected).

    Falls back to the plain directory scan when no manifest exists or a
    queried column has no stats. The file-list decision is driver-side
    over manifest entries (metadata-scale, same as any lakehouse
    planner)."""
    import json
    import os

    manifest = os.path.join(path, ZORDER_MANIFEST)
    if not ranges or not os.path.exists(manifest):
        df = spark.read.parquet(path)
        return df, -1
    with open(manifest) as fh:
        entries = json.load(fh)
    keep = []
    for e in entries:
        ok = True
        for c, (lo, hi) in ranges.items():
            st = e["stats"].get(c)
            if st is not None and (st[1] < lo or st[0] > hi):
                ok = False
                break
        if ok:
            keep.append(os.path.join(path, e["file"]))
    if not keep:  # provably empty result; keep the schema via one file
        df = spark.read.parquet(
            os.path.join(path, entries[0]["file"])
        ).limit(0)
        return df, 0
    return spark.read.parquet(*keep), len(keep)


def write_stats_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> int:
    """Attach a file-level min/max manifest to ANY existing parquet
    directory (not just write_zordered output) -- the lake-wide
    secondary index: run it over a hot partition after compaction and
    read_zordered's pruning reader works there unchanged (it only
    consults the manifest). Stats come from footers only; the read
    fans out over executors past DIST_MANIFEST_MIN files. Returns the
    number of files indexed."""
    import glob
    import os

    files = [
        f
        for pat in ("part-*", "*.parquet")
        for f in glob.glob(os.path.join(path, pat))
        if os.path.isfile(f) and not f.endswith(".crc")
    ]
    files = sorted(set(files))
    if files:
        _write_zorder_manifest(path, files, cols, spark=spark)
    return len(files)


# ------------------------------------------------------------- CDC apply

#: default hash-bucket count for merge_snapshot tables. At 100 TB pick
#: buckets so one bucket's rows fit a comfortable rewrite task set
#: (e.g. 4096 buckets over 100 TB -> ~25 GB per bucket rewrite).
MERGE_BUCKETS = 64

_EPOCH_COL = "__epoch"
_BUCKET_COL = "__bucket"
#: sidecar dir holding one tiny text file per bucket with the last
#: epoch that rewrote it -- the METADATA the idempotence gate reads
#: instead of scanning bucket rows (leading underscore: invisible to
#: Spark's file listing, like _SUCCESS / _zorder_manifest).
_MARKS_DIR = "_epoch_marks"


def _mark_path(path: str, b: int) -> str:
    import os

    return os.path.join(path, _MARKS_DIR, str(int(b)))


def _write_mark(path: str, b: int, epoch: int) -> None:
    """Atomically stamp bucket ``b``'s epoch marker (tmp + rename, so a
    crash never leaves a torn marker -- a missing marker just falls
    back to the row-scan gate)."""
    import os

    d = os.path.join(path, _MARKS_DIR)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp_{int(b)}")
    with open(tmp, "w") as fh:
        fh.write(str(int(epoch)))
    os.replace(tmp, _mark_path(path, b))


def _read_mark(path: str, b: int) -> int | None:
    import os

    p = _mark_path(path, b)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return int(fh.read().strip())


def _bucket_expr(key: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))


@contextmanager
def writer_lock(path: str, *, tag: str = "") -> Iterator[None]:
    """Hold the table's single-writer lease (``<path>.__merge_lock``,
    O_CREAT|O_EXCL -- atomic on every POSIX filesystem) for the
    ``with`` body. A lock whose recorded pid is dead on THIS host is
    stale (the holder crashed between acquire and release) and is
    stolen once; a live holder raises RuntimeError. Held by the
    operations that rename or delete a merged table's directories
    (merge_snapshot, vacuum_snapshot; both settle crashed compactions
    under it) so a vacuum can never race a writer's renames."""
    import os

    lock = path.rstrip("/") + ".__merge_lock"
    parent = os.path.dirname(lock)
    if parent:
        os.makedirs(parent, exist_ok=True)  # bootstrap: table dir's parent
    for attempt in (0, 1):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                with open(lock) as fh:
                    holder = int(fh.read().split("pid=")[1].split()[0])
                os.kill(holder, 0)  # raises if dead
                alive = True
            except (ProcessLookupError, ValueError, IndexError, OSError):
                alive = False
            if alive or attempt == 1:
                raise RuntimeError(
                    f"another writer holds {lock}; concurrent mutations "
                    "on one table are not allowed (remove the lock only "
                    "if the holder is gone)"
                )
            os.unlink(lock)  # stale: holder crashed; steal once
    try:
        os.write(fd, f"pid={os.getpid()} {tag}".encode())
    except BaseException:
        # Failed to record the pid (e.g. ENOSPC): don't leak the fd or
        # leave an empty lock behind that only parses as "stale" by
        # accident -- release both before re-raising.
        os.close(fd)
        try:
            os.unlink(lock)
        except OSError:
            pass
        raise
    os.close(fd)
    try:
        yield
    finally:
        if os.path.exists(lock):
            os.unlink(lock)


def _write_buckets(df: DataFrame, path: str) -> None:
    """Write ``df`` as ``__bucket=<b>/`` dirs, one file per bucket (see
    the Layout note of _merge_snapshot_locked). This write is the
    bucket's only one: no compaction pass follows it. The rebalance
    hint needs AQE; with AQE off Spark drops it and a bucket keeps one
    file per input partition that held its rows. Files are zstd, as in
    the lake (``lake.PARQUET_COMPRESSION``)."""
    (
        df.hint("rebalance", _BUCKET_COL)
        .write.partitionBy(_BUCKET_COL)
        .option("compression", PARQUET_COMPRESSION)
        .parquet(path)
    )


def merge_snapshot(
    spark: SparkSession,
    path: str,
    upserts: DataFrame,
    removed_keys: DataFrame | None,
    *,
    key: str,
    epoch: int,
    n_buckets: int = MERGE_BUCKETS,
) -> dict:
    """Single-writer guard around _merge_snapshot_locked: two merges
    interleaving their staging writes and bucket renames on one table
    would corrupt it silently, so a sidecar lock file
    (``<path>.__merge_lock``, O_CREAT|O_EXCL -- atomic on every POSIX
    filesystem) serializes writers. A lock whose recorded pid is dead
    on THIS host is stale (the holder crashed between acquire and its
    finally) and is stolen once; a live holder raises. At cluster
    scale the same slot is a lease with a TTL in the table's catalog
    entry -- the acquire/validate/steal protocol is identical.

    Under the lock, and before any marker is read, the merge settles a
    compaction of one of the table's buckets that crashed
    (finish_compactions): such a crash can delete a bucket whose marker
    says it is current, and the marker gate would then skip it for
    good. A table with nothing to settle costs one listing.
    See _merge_snapshot_locked for the merge semantics."""
    import os

    with writer_lock(path, tag=f"epoch={epoch}"):
        if os.path.isdir(path):
            finish_compactions(path)
        return _merge_snapshot_locked(
            spark,
            path,
            upserts,
            removed_keys,
            key=key,
            epoch=epoch,
            n_buckets=n_buckets,
        )


def _merge_snapshot_locked(
    spark: SparkSession,
    path: str,
    upserts: DataFrame,
    removed_keys: DataFrame | None,
    *,
    key: str,
    epoch: int,
    n_buckets: int = MERGE_BUCKETS,
) -> dict:
    """Maintain a materialized CURRENT-STATE table from CDC deltas --
    the writer the reference's downstream consumers run weekly
    (agency-delta.go emits deltas precisely so someone can apply them;
    delta_apply_roundtrip proves apply()'s algebra as a query, this is
    the SINK that persists it).

    Layout: parquet hash-partitioned on ``pmod(xxhash64(key),
    n_buckets)`` with every row stamped by the epoch that last rewrote
    its bucket. Each written bucket is ONE file: both the bootstrap and
    the staging write rebalance on the bucket column first (under AQE,
    get_spark's default), so the merge's own job lands the bucket's
    final layout; AQE still splits a bucket above its advisory size
    into several files. A merge touches ONLY the buckets containing
    delta keys:

    1. affected buckets  = distinct bucket ids of the delta's keys
       (<= n_buckets rows collected -- metadata scale). NULL join keys
       are REJECTED here (ValueError): an anti-join can never match a
       NULL key, so a NULL-key upsert would silently append a duplicate
       every epoch instead of replacing -- the contract is keys are
       non-null, enforced at entry;
    2. idempotence gate  = per-bucket epoch MARKER files
       (``_epoch_marks/<bucket>``, one int each) read driver-side --
       pure metadata, no parquet rows touched; buckets already at
       >= epoch are SKIPPED, so re-running a week (checkpoint replay,
       operator retry) costs a few stat calls, not a 25 GB bucket
       scan. Pre-marker tables (bucket dir without a marker) fall back
       to the row-scan ``max(__epoch)`` gate for just those buckets
       and gain markers on their next rewrite;
    3. merge             = (current-bucket rows anti-joined on ALL
       delta keys) UNION upserts -- upsert semantics, so replaying a
       delta against a table that already absorbed it reproduces the
       same table;
    4. commit            = merged buckets land in a staging dir; after
       Spark's ``_SUCCESS`` lands, a ``_OUTCOME.json`` records each
       pending bucket's fate (written vs cleared-empty), and only then
       do the per-bucket swaps run: old dir renamed ASIDE, staged dir
       renamed in, aside deleted, marker stamped. A crash at ANY point
       resumes losslessly on replay: staging without ``_SUCCESS`` is
       discarded and re-merged (no renames ever started); staging with
       ``_SUCCESS`` re-enters the commit loop, which finishes exactly
       the unmarked buckets from the recorded outcome (an interrupted
       swap is healed from the aside copy -- the old dir is never the
       only copy while the new one is in flight).

    Schema evolution (the weekly-feed contract, stated once here and
    enforced in the merge body): ADDITIVE only. Upserts carrying a NEW
    column evolve the table -- survivors in touched buckets are
    NULL-backfilled, untouched buckets keep the old schema on disk and
    ``read_merged_snapshot``'s merged footer schema surfaces the column
    as NULL there. Upserts MISSING a table column, or RETYPING one, raise
    ValueError: a silently narrowed upsert would erase surviving rows'
    data on the next rewrite. (The reference hard-codes 34 columns so
    this is beyond-parity; it is the classic weekly-feed failure.)

    Scale shape: one partition-pruned scan of the affected buckets, one
    anti-join against the (small) delta key set -- AQE broadcasts it in
    the common deltas<<snapshot case -- and one rebalance exchange on
    the bucket column ahead of the write. The exchange is the price of
    one file per bucket, and the merge's write is the bucket's only
    one: nothing reads it back to compact it. A bucket above AQE's
    advisory partition size lands as advisory-sized files, which is
    the layout a compaction would aim for anyway.
    Untouched buckets are never read; a fully-replayed epoch reads no
    buckets at all. The affected buckets' schema is merged from their
    footers on the driver (``lake.read_parquet``), so learning it
    launches no Spark job.

    Returns ``{"written": w, "skipped": s, "cleared": c}`` bucket
    counts.
    """
    import os
    import shutil

    data_cols = [c for c in upserts.columns if c not in (_EPOCH_COL, _BUCKET_COL)]
    stamped = (
        upserts.select(*data_cols)
        .withColumn(_EPOCH_COL, F.lit(epoch).cast("long"))
        .withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets))
    )
    if not os.path.isdir(path):
        if not upserts.select(key).where(F.col(key).isNull()).isEmpty():
            raise ValueError(
                f"merge_snapshot: NULL values in key column {key!r} -- "
                "the upsert contract requires non-null keys"
            )
        _write_buckets(stamped, path)
        # the partitionBy write already materialized one dir per
        # bucket -- list them instead of re-running the upsert lineage
        # through a distinct().collect() (r16: one less evaluation of
        # the ingest+delta plan per bootstrap)
        buckets = []
        for d in os.listdir(path):
            if not d.startswith(f"{_BUCKET_COL}="):
                continue
            raw = d.split("=", 1)[1]
            if not raw.isdigit():
                # name the contract violation instead of a bare int()
                # traceback (r16 ADVICE): _bucket_expr writes integer
                # bucket ids only, so any other partition dir (e.g.
                # __HIVE_DEFAULT_PARTITION__ from a NULL slipping past
                # the pre-write check) means the table is not ours
                raise ValueError(
                    f"merge_snapshot: non-integer bucket partition "
                    f"{d!r} under {path} -- bucket dirs must be "
                    f"{_BUCKET_COL}=<int>"
                )
            buckets.append(int(raw))
        for b in buckets:
            _write_mark(path, b, epoch)
        return {"written": len(buckets), "skipped": 0, "cleared": 0}

    stale = [
        d
        for d in os.listdir(path)
        if d.startswith(".staging_epoch_") and d != f".staging_epoch_{epoch}"
    ]
    if stale:
        raise RuntimeError(
            f"merge_snapshot: unfinished commit(s) {stale} under {path}; "
            "replay those epochs (same call, same delta) before applying "
            "a different one"
        )

    all_keys = upserts.select(key)
    if removed_keys is not None:
        all_keys = all_keys.unionByName(removed_keys.select(key))
    stats = (
        all_keys.select(
            _bucket_expr(key, n_buckets).alias("b"),
            F.col(key).isNull().alias("n"),
        )
        .groupBy("b")
        .agg(F.max("n").alias("has_null"))
        .collect()
    )
    if any(r["has_null"] for r in stats):
        raise ValueError(
            f"merge_snapshot: NULL values in key column {key!r} -- "
            "the upsert contract requires non-null keys"
        )
    affected = sorted(r["b"] for r in stats)
    if not affected:
        return {"written": 0, "skipped": 0, "cleared": 0}

    # ---- idempotence gate: marker files first (metadata-only), row
    # scan only for pre-marker buckets
    done: set[int] = set()
    fallback: list[int] = []
    for b in affected:
        m = _read_mark(path, b)
        if m is not None:
            if m >= epoch:
                done.add(b)
        elif os.path.isdir(f"{path}/{_BUCKET_COL}={b}"):
            fallback.append(b)
    if fallback:
        marks = (
            read_parquet(
                spark,
                *[f"{path}/{_BUCKET_COL}={b}" for b in fallback],
                basePath=path,
            )
            .groupBy(_BUCKET_COL)
            .agg(F.max(_EPOCH_COL).alias("e"))
            .collect()
        )
        done |= {r[_BUCKET_COL] for r in marks if r["e"] >= epoch}
    pending = [b for b in affected if b not in done]
    staging = f"{path}/.staging_epoch_{epoch}"
    if not pending:
        shutil.rmtree(staging, ignore_errors=True)  # fully-committed leftover
        return {"written": 0, "skipped": len(done), "cleared": 0}

    if os.path.isdir(staging):
        if os.path.exists(os.path.join(staging, "_SUCCESS")):
            # crashed AFTER the merged write: resume the rename commit
            w, c = _commit_staging(path, staging, epoch, pending)
            return {"written": w, "skipped": len(done), "cleared": c}
        shutil.rmtree(staging)  # crashed DURING the write: no renames ran

    pending_dirs = [
        f"{path}/{_BUCKET_COL}={b}"
        for b in pending
        if os.path.isdir(f"{path}/{_BUCKET_COL}={b}")
    ]
    fresh = stamped.where(F.col(_BUCKET_COL).isin(pending))
    if pending_dirs:
        # Schema-evolution contract (additive-only): a week that ADDS a
        # column evolves the table -- surviving rows are NULL-backfilled
        # and only the touched buckets are rewritten with the new
        # schema, so reads go through mergeSchema (read_merged_snapshot)
        # until every bucket has been rewritten. A week that DROPS or
        # RETYPES a column is rejected loudly: an upsert silently
        # narrowing the table would destroy surviving rows' data.
        # The read merges the pending buckets' footer schemas (on the
        # driver, read_parquet): they may themselves straddle an
        # earlier evolution boundary.
        current_raw = read_parquet(spark, *pending_dirs, basePath=path)
        tbl_cols = [
            c
            for c in current_raw.columns
            if c not in (_EPOCH_COL, _BUCKET_COL)
        ]
        dropped = [c for c in tbl_cols if c not in data_cols]
        if dropped:
            raise ValueError(
                f"merge_snapshot: upserts are missing table column(s) "
                f"{dropped}; the evolution contract is additive-only -- "
                "new nullable columns evolve the table, dropping or "
                "renaming one requires an explicit rebuild"
            )
        up_types = dict(upserts.select(*data_cols).dtypes)
        cur_types = dict(current_raw.dtypes)
        clash = {
            c: (cur_types[c], up_types[c])
            for c in tbl_cols
            if cur_types[c] != up_types[c]
        }
        if clash:
            raise ValueError(
                f"merge_snapshot: column type change(s) {clash} "
                "(table-type, upsert-type); retyping requires an "
                "explicit rebuild"
            )
        current = current_raw.select(
            *[
                F.col(c)
                if c in tbl_cols
                else F.lit(None).cast(up_types[c]).alias(c)
                for c in data_cols
            ]
        )
        survivors = (
            current.join(F.broadcast(all_keys.distinct()), key, "left_anti")
            .withColumn(_EPOCH_COL, F.lit(epoch).cast("long"))
            .withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets))
        )
        merged = survivors.unionByName(fresh)
    else:
        merged = fresh
    _write_buckets(merged, staging)
    written, cleared = _commit_staging(path, staging, epoch, pending)
    assert written + cleared == len(pending)
    return {"written": written, "skipped": len(done), "cleared": cleared}


def _commit_staging(
    path: str, staging: str, epoch: int, pending: list[int]
) -> tuple[int, int]:
    """Resume-safe rename commit for merge_snapshot.

    Records each pending bucket's outcome (written / cleared) in
    ``staging/_OUTCOME.json`` BEFORE any rename, then swaps buckets in
    one at a time via an aside copy, stamping the bucket's epoch marker
    last. Idempotent at every crash point: already-marked buckets are
    skipped; a swap interrupted between its two renames finds the new
    dir in staging or the old dir aside and finishes from there. The
    old bucket dir is deleted only after the new one is in place.
    """
    import json
    import os
    import shutil

    outcome_p = os.path.join(staging, "_OUTCOME.json")
    if not os.path.exists(outcome_p):
        # first entry (or crash between _SUCCESS and outcome): no rename
        # has run yet, so the marker-derived pending set is authoritative
        outcome = {
            str(b): (
                "written"
                if os.path.isdir(f"{staging}/{_BUCKET_COL}={b}")
                else "cleared"
            )
            for b in pending
        }
        tmp = outcome_p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(outcome, fh)
        os.replace(tmp, outcome_p)
    else:
        with open(outcome_p) as fh:
            outcome = json.load(fh)
    written = cleared = 0
    for b_str, kind in sorted(outcome.items(), key=lambda kv: int(kv[0])):
        b = int(b_str)
        m = _read_mark(path, b)
        if m is not None and m >= epoch:
            continue  # committed before the crash
        src = f"{staging}/{_BUCKET_COL}={b}"
        dst = f"{path}/{_BUCKET_COL}={b}"
        aside = f"{path}/.old_{epoch}_{b}"
        if kind == "written":
            if os.path.isdir(src):
                if os.path.isdir(dst):
                    os.rename(dst, aside)
                os.rename(src, dst)
            # src gone but unmarked: swap finished, crash hit before the
            # marker -- just heal the aside + stamp
            if os.path.isdir(aside):
                shutil.rmtree(aside)
            written += 1
        else:
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            cleared += 1
        _write_mark(path, b, epoch)
    shutil.rmtree(staging, ignore_errors=True)
    return written, cleared


def read_merged_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read a merge_snapshot table as plain data rows (bookkeeping
    columns dropped); bucket partition pruning still applies when a
    caller filters on the key's bucket. The schema merges every
    bucket's footer (mergeSchema's rules, read on the driver by
    ``lake.read_parquet``, no Spark job): after an additive schema
    evolution only the touched buckets carry the new column on disk,
    and the read surfaces it as NULL for the rest."""
    return read_parquet(spark, path).drop(_EPOCH_COL, _BUCKET_COL)


def vacuum_snapshot(path: str) -> dict:
    """VACUUM for a merge_snapshot table: remove the debris crashed or
    superseded commits leave behind, without EVER deleting the only
    copy of live data. Runs under the same single-writer lock as
    merge_snapshot, so it cannot race an in-flight commit's renames.

    Debris classes and their rules (each rule is conservative -- when
    in doubt, KEEP and report):

    - ``.staging_epoch_<e>`` without ``_SUCCESS``: the writer crashed
      DURING the staging write; no rename ever ran and replay discards
      it unread. Always removable.
    - ``.staging_epoch_<e>`` with ``_SUCCESS``: a resumable commit.
      Removable ONLY if every bucket it stages is already marked at
      >= e (the commit finished; the staging dir is a leftover the
      next merge would discard). Otherwise it is the resume state of
      an unfinished commit -- KEPT, counted in ``kept_resumable``.
    - ``.old_<e>_<b>`` aside dirs: mid-swap safety copies. Removable
      once bucket b's marker reaches e (the swap completed and the
      aside is garbage). A marker below e means the crash hit BETWEEN
      the two renames and the aside may be the only copy of the old
      bucket -- KEPT, counted in ``kept_asides``.
    - ``_epoch_marks/.tmp_*``: torn marker writes (os.replace never
      ran). Always removable.
    - ``.<bucket>__compacting``: a crashed compact_partition's staged
      copy, settled by ``finish_compactions`` (swapped in when it has
      ``_SUCCESS``, dropped when not), as the next merge_snapshot
      would. compact_partition takes no lock, so run it on a merged
      bucket only while no vacuum can run.

    At 100 TB this is the nightly janitor: every decision reads only
    file names, marker ints, and ``_OUTCOME.json`` -- no parquet rows.

    Returns counts: removed_staging / kept_resumable / removed_asides /
    kept_asides / removed_tmp / settled_compactions.
    """
    import json
    import os
    import re
    import shutil

    out = {
        "removed_staging": 0,
        "kept_resumable": 0,
        "removed_asides": 0,
        "kept_asides": 0,
        "removed_tmp": 0,
    }
    with writer_lock(path, tag="vacuum"):
        out["settled_compactions"] = finish_compactions(path)
        for d in sorted(os.listdir(path)):
            full = os.path.join(path, d)
            m = re.fullmatch(r"\.staging_epoch_(\d+)", d)
            if m and os.path.isdir(full):
                e = int(m.group(1))
                if not os.path.exists(os.path.join(full, "_SUCCESS")):
                    shutil.rmtree(full)
                    out["removed_staging"] += 1
                    continue
                outcome_p = os.path.join(full, "_OUTCOME.json")
                if not os.path.exists(outcome_p):
                    # No outcome record: the writer crashed between
                    # _SUCCESS and the outcome write. The staged
                    # __bucket= dirs UNDERCOUNT the pending set
                    # ('cleared' buckets stage no dir), so an inferred
                    # list could read as all-done for an epoch that
                    # never committed. Conservative rule: keep it --
                    # replay re-merges from _SUCCESS state.
                    out["kept_resumable"] += 1
                    continue
                with open(outcome_p) as fh:
                    buckets = [int(b) for b in json.load(fh)]
                done = all(
                    (mark := _read_mark(path, b)) is not None and mark >= e
                    for b in buckets
                )
                if done:
                    shutil.rmtree(full)
                    out["removed_staging"] += 1
                else:
                    out["kept_resumable"] += 1
                continue
            m = re.fullmatch(r"\.old_(\d+)_(\d+)", d)
            if m and os.path.isdir(full):
                e, b = int(m.group(1)), int(m.group(2))
                mark = _read_mark(path, b)
                if mark is not None and mark >= e:
                    shutil.rmtree(full)
                    out["removed_asides"] += 1
                else:
                    out["kept_asides"] += 1
        marks = os.path.join(path, _MARKS_DIR)
        if os.path.isdir(marks):
            for f in os.listdir(marks):
                if f.startswith(".tmp_"):
                    os.unlink(os.path.join(marks, f))
                    out["removed_tmp"] += 1
        return out
