"""Engine counters and layer spans, taken from outside the program.

``SparkStatus`` reads finished jobs and stages from the driver's status
store (``sc._jsc.sc().statusStore()``, readable with the UI off) and
hands back only what finished since the previous read, so the store's
retention limit never drops a job the benchmark has not seen.

``Tracer`` wraps public functions of the program's modules with spans:
each call records (name, start, end, thread) in memory and labels the
Spark jobs it launches with ``sc.setJobGroup(<span name>)`` in the
calling thread, so jobs launched from the compaction thread pool carry
their span too.  ``Tracer.uninstall`` puts every wrapped attribute back.
"""

from __future__ import annotations

import functools
import inspect
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: stage counters summed per job group, in the status store's names.
STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "in_records": "inputRecords",
    "in_bytes": "inputBytes",
    "out_records": "outputRecords",
    "out_bytes": "outputBytes",
    "shuffle_write": "shuffleWriteBytes",
    "shuffle_read": "shuffleReadBytes",
    "spill": "diskBytesSpilled",
}


@dataclass
class Usage:
    """Spark work of one job group (or of everything) in one window."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    counters: dict[str, int] = field(default_factory=lambda: defaultdict(int))

    def add(self, other: "Usage") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        for k, v in other.counters.items():
            self.counters[k] += v

    def __getitem__(self, name: str) -> int:
        return self.counters.get(name, 0)


class SparkStatus:
    """Incremental reader of the status store of one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gw = self._sc._gateway
        self._stage_args = (
            None,
            False,
            False,
            gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        )
        self._job_mark = -1
        self._stage_mark = -1
        self.take()  # start from now

    def take(self) -> dict[str, Usage]:
        """Usage per job group ("" for unlabelled jobs) of the jobs that
        finished since the last call."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        owner: dict[int, str] = {}
        out: dict[str, Usage] = defaultdict(Usage)
        newest_job = self._job_mark
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._job_mark:
                break
            newest_job = max(newest_job, jid)
            g = j.jobGroup()
            group = g.get() if g.isDefined() else ""
            out[group].jobs += 1
            sids = j.stageIds()
            for k in range(sids.size()):
                # jobs come newest first, so a stage two jobs share ends
                # up owned by the older one, which ran it
                owner[sids.apply(k)] = group
        self._job_mark = newest_job
        stages = self._store.stageList(*self._stage_args)  # newest first
        newest_stage = self._stage_mark
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._stage_mark:
                break
            newest_stage = max(newest_stage, sid)
            if s.status().toString() == "SKIPPED":
                continue
            u = out[owner.get(sid, "")]
            u.stages += 1
            u.tasks += s.numCompleteTasks()
            for name, getter in STAGE_FIELDS.items():
                u.counters[name] += getattr(s, getter)()
        self._stage_mark = newest_stage
        return dict(out)


def total(usages: dict[str, Usage]) -> Usage:
    u = Usage()
    for v in usages.values():
        u.add(v)
    return u


@dataclass
class Span:
    name: str
    start: float
    end: float
    thread: str
    info: dict = field(default_factory=dict)


class Tracer:
    """Spans around module functions, and the result-cache observer;
    installed only around traced rounds."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []
        self.cache_registrations = 0
        self.cache_hits = 0
        self.peak_storage_mb = 0.0

    def _observe_cache(self, family: str, already_cached: bool, eager: bool) -> None:
        with self._lock:
            self.cache_registrations += 1
            self.cache_hits += bool(already_cached)

    def sample_storage(self) -> None:
        """Track the peak of cached RDD/Dataset storage."""
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        self.peak_storage_mb = max(self.peak_storage_mb, mb)

    def install(self, weekly_spans: bool) -> None:
        """Observe the result-cache registry and, with ``weekly_spans``,
        span every public function of the weekly flow."""
        from abr_etl_spark import pipeline
        from abr_etl_spark.functions import cache
        from abr_etl_spark.operators import maintenance
        from abr_etl_spark.sources import lake, routed_ingest

        self._saved.append((cache, "_OBSERVER", cache._OBSERVER))
        cache.set_cache_observer(self._observe_cache)
        if not weekly_spans:
            return
        self.wrap(routed_ingest, "ingest_delimited", "ingest")
        self.wrap(lake, "write_partitioned", "lake.write", info=_new_files)
        self.wrap(lake, "read_lake", "lake.discover")
        self.wrap(lake, "newest_previous", "lake.discover")
        self.wrap(lake, "export_stable_csv", "lake.export")
        self.wrap(maintenance, "merge_snapshot", "merge", info=_merge_report)
        self.wrap(maintenance, "compact_partition", "compact", info=_compacted_files)
        self.wrap(pipeline, "run_weekly", "week")

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _label(self, name: str | None) -> None:
        if name is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(name, name)

    def call(self, name: str, fn, *args, info=None, **kwargs):
        """Run ``fn`` inside a span.  ``info(arguments)`` runs first on
        the call's arguments by parameter name and returns
        ``finish(result) -> dict`` of fields for the span."""
        finish = None
        if info is not None:
            finish = info(inspect.signature(fn).bind(*args, **kwargs).arguments)
        stack = self._stack()
        stack.append(name)
        self._label(name)
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self._label(stack[-1] if stack else None)
        span = Span(name, t0, t1, threading.current_thread().name)
        if finish is not None:
            span.info = finish(result)
        with self._lock:
            self.spans.append(span)
        return result

    def wrap(self, module, attr: str, name: str, info=None) -> None:
        """Replace ``module.attr`` with a spanned version until uninstall."""
        orig = getattr(module, attr)
        self._saved.append((module, attr, orig))

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.call(name, orig, *args, info=info, **kwargs)

        setattr(module, attr, traced)

    def uninstall(self) -> None:
        while self._saved:
            module, attr, orig = self._saved.pop()
            setattr(module, attr, orig)

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _files(root: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.startswith("part-")}


def _new_files(a):
    before = _files(a["path"])
    return lambda _result: {"files": len(_files(a["path"]) - before)}


def _compacted_files(a):
    n_in = len(_files(a["path"]))
    return lambda _result: {"files_in": n_in, "files_out": len(_files(a["path"]))}


def _merge_report(_a):
    return lambda rep: {"written": rep["written"], "skipped": rep["skipped"]}


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    done, last = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= last:
            continue
        done += b - max(a, last)
        last = b
    return done


def self_s(spans: list[Span], outer: str) -> float:
    """Σ over ``outer`` spans of their wall minus the part other spans
    (any thread) cover."""
    out = 0.0
    for o in (s for s in spans if s.name == outer):
        inner = [
            (max(s.start, o.start), min(s.end, o.end))
            for s in spans
            if s is not o and s.name != outer and s.end > o.start and s.start < o.end
        ]
        out += (o.end - o.start) - union_s(inner)
    return out
