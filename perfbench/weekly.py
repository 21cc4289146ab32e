"""The weekly workload: ``run_weekly`` on generated ABR drops.

Set-up generates the feed from the seed and seeds a young lake -- a
bootstrap snapshot and one prior week -- with the program's own
``routed_ingest`` + ``lake.write_partitioned``, and the current-state
table with ``maintenance.merge_snapshot``.  A round lands one new week
through ``pipeline.run_weekly`` with the default ``WeeklyConfig`` merge
(64 buckets), ``compact_merged=True`` and an export directory, then
replays it; only those two calls are timed.  Output checks run between
calls, untimed.
"""

from __future__ import annotations

import csv
import itertools
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from abr_etl_spark import pipeline
from abr_etl_spark.operators import maintenance
from abr_etl_spark.sources import abr_schemas, lake, routed_ingest
from perfbench.abrgen import AbrFeed, WeekTruth
from perfbench.trace import Usage, total

DS = "Agency_Data"


@dataclass(frozen=True)
class WeeklySpec:
    rows: int  # Agency_Data rows per weekly snapshot
    changes: tuple[int, int, int]  # (updated, removed, added) keys per week


CHURN = WeeklySpec(rows=10_000, changes=(500, 100, 100))


def _tree_bytes(*roots: str) -> int:
    n = 0
    for root in roots:
        for d, _, files in os.walk(root):
            n += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return n


@dataclass
class Week:
    drop_dir: str
    truth: WeekTruth
    register: frozenset[str]  # pids of the week's snapshot
    drop_bytes: int


class Lake:
    """One seeded lake + current-state table and the feed that made it."""

    def __init__(self, spark, spec: WeeklySpec, seed: int, root: str):
        self.root = root
        self.lake_root = os.path.join(root, "lake")
        self.merge_dir = os.path.join(root, "merged")
        self.export_dir = os.path.join(root, "export")
        self.table = os.path.join(self.lake_root, "DATA", DS)
        self.feed = AbrFeed(seed, spec.rows)
        seed_drop = os.path.join(root, "seed_drop")
        self.feed.write_drop(seed_drop, datasets=(DS,))
        self.feed.advance(*spec.changes)
        self.feed.write_drop(seed_drop, datasets=(DS,))
        # one scan lands both snapshots, inferring types as run_weekly does
        lake.write_partitioned(
            routed_ingest.ingest_delimited(spark, seed_drop, DS), self.table
        )
        newest = self.feed.date.isoformat()
        snap = (
            lake.read_lake(spark, self.table)
            .where(F.col("importdate") == newest)
            .drop("importdate")
        )
        maintenance.merge_snapshot(
            spark,
            os.path.join(self.merge_dir, DS),
            snap,
            None,
            key="pid",
            epoch=int(newest.replace("-", "")),
        )

    def next_week(self, spec: WeeklySpec, drops: str) -> Week:
        truth = self.feed.advance(*spec.changes)
        d = os.path.join(drops, truth.date)
        nbytes = self.feed.write_drop(d)
        return Week(d, truth, frozenset(self.feed.register), nbytes)

    def config(self, drop_dir: str) -> pipeline.WeeklyConfig:
        return pipeline.WeeklyConfig(
            drop_dir=drop_dir,
            lake_root=self.lake_root,
            merge_dir=self.merge_dir,
            compact_merged=True,
            export_dir=self.export_dir,
        )

    def bytes_on_disk(self) -> int:
        return _tree_bytes(self.lake_root, self.merge_dir)


def _exported_pids(path: str) -> set[str]:
    with open(path, newline="") as fh:
        rows = csv.reader(fh)
        i = next(rows).index("pid")
        return {r[i] for r in rows}


def _content_digest(df) -> tuple[int, int]:
    """(rows, Σ row hash): equal for equal multisets of rows."""
    cols = sorted(df.columns)
    r = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .collect()[0]
    )
    return int(r["n"]), int(r["s"] or 0)


def _check_exports(cfg, week: Week) -> list[str]:
    bad = []
    res = cfg.results.get(DS, {})
    for action in ("updated", "added"):
        path = res.get(f"{action}_csv")
        if path is None or _exported_pids(path) != set(getattr(week.truth, action)):
            bad.append(f"exported {action} pids differ from the truth")
    return bad


def _newest(spark, lk: Lake, week: Week):
    return (
        lake.read_lake(spark, lk.table)
        .where(F.col("importdate") == week.truth.date)
        .drop("importdate")
    )


def check_week(spark, lk: Lake, cfg, week: Week) -> list[str]:
    """Problems with one landed week ([] when its outputs are right)."""
    bad = _check_exports(cfg, week)
    merged = maintenance.read_merged_snapshot(spark, os.path.join(lk.merge_dir, DS))
    pids = [str(r[0]) for r in merged.select("pid").collect()]
    if len(pids) != len(week.register) or set(pids) != week.register:
        bad.append("merged table pids differ from the week's snapshot")
    if _content_digest(merged) != _content_digest(_newest(spark, lk, week)):
        bad.append("merged table content differs from the lake's newest partition")
    return bad


def check_replay(spark, lk: Lake, cfg, week: Week) -> tuple[list[str], int]:
    """(problems, rows the replay added to the newest partition).  A
    replay that rewrites and clears no bucket leaves the merged table the
    week's check already compared; its exports repeat every row, because
    the replay lands the week in the lake a second time -- counted, not
    failed, and the exports compared as sets."""
    bad = _check_exports(cfg, week)
    rep = cfg.results.get(DS, {}).get("merge", {})
    if rep.get("written", 1) or rep.get("cleared", 1):
        bad.append(f"replay rewrote merged buckets: {rep}")
    return bad, _newest(spark, lk, week).count() - len(week.register)


def text_mismatch_rows(spark, lk: Lake, week: Week) -> int:
    """Rows whose landed values, read back as text, differ from the
    drop's text (an inferred numeric type drops leading zeros)."""
    d = week.truth.date
    raw = (
        spark.read.option("sep", "|")
        .option("header", True)
        .schema(abr_schemas.abr_schema(DS))
        .csv(os.path.join(week.drop_dir, f"VIC{d[2:4]}{d[5:7]}{d[8:10]}_ABR_{DS}.txt"))
    )
    landed = lake.read_lake(spark, lk.table).where(F.col("importdate") == d)
    j = raw.alias("r").join(
        landed.alias("l"), F.col("r.pid") == F.col("l.pid").cast("string")
    )
    differs = F.lit(False)
    for c in raw.columns:
        differs = differs | (
            F.coalesce(F.col(f"r.{c}"), F.lit(""))
            != F.coalesce(F.col(f"l.{c}").cast("string"), F.lit(""))
        )
    return j.where(differs).count()


@dataclass
class Round:
    traced: bool
    apply_s: float = 0.0  # run_weekly on the new week
    replay_s: float = 0.0  # run_weekly on the same week again
    cpu_s: float = 0.0  # driver JVM + this process over both calls
    in_bytes: int = 0  # drop bytes of both calls
    grown_bytes: int = 0
    usage: dict[str, Usage] = field(default_factory=dict)
    calls: int = 0
    failed: int = 0  # calls that raised or whose outputs were wrong
    problems: list[str] = field(default_factory=list)
    text_mismatch_rows: int = 0
    replay_dup_rows: int = 0

    @property
    def wall_s(self) -> float:
        return self.apply_s + self.replay_s

    @property
    def op_s(self) -> float:
        return self.apply_s

    @property
    def written_bytes(self) -> int:
        """Task output bytes: lake, merged table, compaction, exports."""
        return total(self.usage)["out_bytes"]


class WeeklyWorkload:
    kind = "weekly"
    min_rounds = 1

    def __init__(self, spec: WeeklySpec = CHURN):
        self.spec = spec

    def setup(self, ctx) -> tuple[Lake, int, list[str]]:
        """Seed the lake; nothing is checked here."""
        return self._lake(ctx, 0), 0, []

    def _lake(self, ctx, r: int) -> Lake:
        return Lake(ctx.spark, self.spec, ctx.seed, os.path.join(ctx.work, f"lake{r}"))

    def rounds(self, ctx, lk: Lake):
        """Yield one Round at a time; the caller decides when to stop.
        Every round after the first seeds its own lake first (untimed): a
        week landed after a replay would read the replay's duplicated
        partition.  Fresh lakes start from the same state, so every round
        lands the same week."""
        week = lk.next_week(self.spec, os.path.join(ctx.work, "drops"))
        for r in itertools.count():
            if r:
                shutil.rmtree(lk.root)
                lk = self._lake(ctx, r)
            ctx.status.take()
            yield self._round(ctx, lk, week, ctx.traced_round(r))

    def _round(self, ctx, lk: Lake, week: Week, traced) -> Round:
        spark, status = ctx.spark, ctx.status
        rnd = Round(traced=traced is not None)
        before = lk.bytes_on_disk()
        for is_replay in (False, True):
            cfg = lk.config(week.drop_dir)
            rnd.calls += 1
            err = None
            with ctx.tracing(traced):
                c0, t0 = ctx.cpu_s(), time.perf_counter()
                try:
                    pipeline.run_weekly(spark, cfg)
                except Exception as exc:  # noqa: BLE001 - counted as a failure
                    err = f"run_weekly raised {exc!r}"
                wall = time.perf_counter() - t0
                rnd.cpu_s += ctx.cpu_s() - c0
            for g, u in status.take().items():
                rnd.usage.setdefault(g, Usage()).add(u)
            rnd.in_bytes += week.drop_bytes
            if is_replay:
                rnd.replay_s = wall
            else:
                rnd.apply_s = wall
            if err:
                rnd.failed += 1
                rnd.problems.append(err)
                continue
            if is_replay:
                problems, rnd.replay_dup_rows = check_replay(spark, lk, cfg, week)
            else:
                problems = check_week(spark, lk, cfg, week)
                if rnd.traced:
                    rnd.text_mismatch_rows = text_mismatch_rows(spark, lk, week)
            rnd.failed += bool(problems)
            rnd.problems += problems
            status.take()  # the checks' own jobs are not the program's
        rnd.grown_bytes = lk.bytes_on_disk() - before
        return rnd
