#!/usr/bin/env python3
"""Benchmark of the weekly ABR run and the catalog query mix.

    python3 perfbench/run.py --workload weekly_churn --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout: it imports the program from there
and builds everything else from ``--seed``.  One closed-loop client (this
process) calls the program's public entry points one after another on
``session.get_spark`` at ``local[<usable cores>]``.  Set-up, timed rounds
and output checks all run in one process; the last line of standard
output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the first round runs untraced and the rest run with spans
and Spark job groups around each layer, and the metrics are the
per-layer ones.  Scratch files live under ``.perfbench/`` in the
checkout and are removed on exit; ``--trace 1`` also leaves the spans in
``.perfbench/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.getcwd()
DEADLINE_S = 170  # a run that hangs exits non-zero before 180 s


def _usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> dict[str, str]:
    """Everything the benchmark sets; no program knob is added."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(_usable_cores()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


def workloads():
    from perfbench.catalog import CatalogWorkload
    from perfbench.weekly import WeeklyWorkload

    return {"weekly_churn": WeeklyWorkload(), "catalog_mix": CatalogWorkload()}


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    from perfbench.catalog import KEYS

    names = [("session.start_s", "s"), ("run.wall_s", "s"), ("run.op_s", "s")]
    names += [("ingest.calls", "count"), ("ingest.s", "s"), ("ingest.jobs", "count")]
    names += [("ingest.text_mismatch_rows", "rows")]
    names += [
        ("lake.write.s", "s"),
        ("lake.write.jobs", "count"),
        ("lake.write.tasks", "count"),
        ("lake.write.records_read", "rows"),
        ("lake.write.bytes_read", "bytes"),
        ("lake.write.rows_written", "rows"),
        ("lake.write.bytes_written", "bytes"),
        ("lake.write.files", "count"),
        ("lake.discover.s", "s"),
        ("lake.discover.jobs", "count"),
        ("lake.export.s", "s"),
        ("lake.export.jobs", "count"),
        ("lake.export.rows", "rows"),
        ("lake.space_amp", "ratio"),
        ("lake.replay_dup_rows", "rows"),
    ]
    names += [
        ("merge.s", "s"),
        ("merge.jobs", "count"),
        ("merge.stages", "count"),
        ("merge.shuffle_bytes", "bytes"),
        ("merge.bytes_written", "bytes"),
        ("merge.buckets_written", "count"),
        ("merge.buckets_skipped", "count"),
        ("compact.calls", "count"),
        ("compact.busy_s", "s"),
        ("compact.wall_s", "s"),
        ("compact.jobs", "count"),
        ("compact.bytes_rewritten", "bytes"),
        ("compact.files_in", "count"),
        ("compact.files_out", "count"),
        ("week.self_s", "s"),
        ("week.replay_s", "s"),
    ]
    names += [
        ("catalog.build_s", "s"),
        ("catalog.plan_s", "s"),
        ("catalog.exec_s", "s"),
        ("catalog.jobs", "count"),
        ("catalog.stages", "count"),
        ("catalog.tasks", "count"),
        ("catalog.shuffle_bytes", "bytes"),
        ("catalog.spill_bytes", "bytes"),
    ]
    for k in KEYS:
        names += [(f"catalog.{k}.s", "s"), (f"catalog.{k}.jobs", "count")]
    names += [
        ("cache.registrations", "count"),
        ("cache.hits", "count"),
        ("cache.hit_ratio", "ratio"),
        ("cache.peak_storage_mb", "MB"),
    ]
    names += [
        ("spark.jobs", "count"),
        ("spark.tasks", "count"),
        ("spark.executor_run_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.spill_bytes", "bytes"),
        ("spark.slot_util", "ratio"),
        ("spark.peak_rss_mb", "MB"),
        ("trace.overhead_frac", "ratio"),
    ]
    return names


END_TO_END = (
    ("setup_s", "s"),
    ("cpu_s", "s"),
    ("write_amp", "ratio"),
    ("live_heap_mb", "MB"),
)


class Ctx:
    """What a workload needs from the run: session, paths, seed, clock
    budget, the status-store reader and (traced runs) the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: int, trace: bool, kind: str):
        from perfbench.trace import SparkStatus, Tracer

        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.status = SparkStatus(spark)
        self.tracer = Tracer(spark) if trace else None
        self.weekly_spans = kind == "weekly"

    def cpu_s(self) -> float:
        """CPU seconds so far of the driver JVM and of this process."""
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        own = os.times()
        return (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK") + own.user + own.system

    def traced_round(self, r: int):
        """The tracer for round ``r``: every round but the first of a
        traced run, so the first one prices the tracing."""
        return self.tracer if self.tracer is not None and r >= 1 else None

    @contextlib.contextmanager
    def tracing(self, tracer):
        if tracer is None:
            yield
            return
        tracer.install(self.weekly_spans)
        try:
            yield
        finally:
            tracer.uninstall()


def _jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the gateway process)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


def _live_heap_mb(spark) -> float:
    """Driver heap still in use after a full collection: what the run
    retains (caches, status, leaks), free of the collector's sizing
    choices that make the resident peak vary by a fifth between runs.
    Spark's context cleaner frees broadcast and shuffle blocks only after
    a collection has cleared their handles, so the heap is read after a
    second collection that follows the cleaner's pass."""
    gc.collect()  # drop Python proxies, so the JVM objects they pin can go
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        used.append(bean.getHeapMemoryUsage().getUsed())
    return min(used) / 2**20


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def measure(workload, ctx, session_s: float) -> dict:
    """Set up, then run rounds for ``ctx.seconds``; returns the raw
    outcome the metrics are made from."""
    t0 = time.perf_counter()
    state, attempted, problems = workload.setup(ctx)
    setup_s = time.perf_counter() - t0
    failed = len(problems)
    ctx.status.take()
    rounds, timed = [], 0.0
    # a traced run needs an untraced round to price the tracing
    min_rounds = 2 if ctx.tracer is not None else workload.min_rounds
    for rnd in workload.rounds(ctx, state):
        rounds.append(rnd)
        attempted += rnd.calls
        failed += rnd.failed
        problems += rnd.problems
        timed += rnd.wall_s
        if timed >= ctx.seconds and len(rounds) >= min_rounds:
            break
    print(
        f"\nperfbench: session {session_s:.2f} s, set-up {setup_s:.2f} s, rounds "
        f"{[round(r.wall_s, 2) for r in rounds]} s",
        file=sys.stderr,
    )
    return {
        "session_s": session_s,
        "setup_s": session_s + setup_s,
        "rounds": rounds,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
    }


def end_to_end(out: dict, spark) -> dict[str, float]:
    # the best round: a weekly run has one; see CatalogWorkload.min_rounds
    rounds = [r for r in out["rounds"] if not r.traced]
    return {
        "setup_s": out["setup_s"],
        "cpu_s": min(r.cpu_s for r in rounds),
        "write_amp": sum(r.written_bytes for r in rounds) / sum(r.in_bytes for r in rounds),
        "live_heap_mb": _live_heap_mb(spark),
    }


def per_layer(workload, out: dict, ctx) -> dict[str, float]:
    from perfbench.trace import Usage, self_s, total, union_s

    tracer = ctx.tracer
    m = {name: 0.0 for name, _ in per_layer_names()}
    m["session.start_s"] = out["session_s"]
    traced = [r for r in out["rounds"] if r.traced]
    plain = [r for r in out["rounds"] if not r.traced]
    m["run.wall_s"] = min(r.wall_s for r in plain)
    m["run.op_s"] = min(r.op_s for r in plain)
    n = len(traced)
    groups: dict[str, Usage] = {}
    for r in traced:
        for g, u in r.usage.items():
            groups.setdefault(g, Usage()).add(u)
    g = lambda name: groups.get(name, Usage())  # noqa: E731
    spans = tracer.spans

    def span_s(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name) / n

    def info_sum(name: str, key: str) -> float:
        return sum(s.info.get(key, 0) for s in spans if s.name == name) / n

    if workload.kind == "weekly":
        m["ingest.calls"] = len(tracer.of("ingest")) / n
        m["ingest.s"] = span_s("ingest")
        m["ingest.jobs"] = g("ingest").jobs / n
        m["ingest.text_mismatch_rows"] = max(r.text_mismatch_rows for r in traced)
        w = g("lake.write")
        m["lake.write.s"] = span_s("lake.write")
        m["lake.write.jobs"] = w.jobs / n
        m["lake.write.tasks"] = w.tasks / n
        m["lake.write.records_read"] = w["in_records"] / n
        m["lake.write.bytes_read"] = w["in_bytes"] / n
        m["lake.write.rows_written"] = w["out_records"] / n
        m["lake.write.bytes_written"] = w["out_bytes"] / n
        m["lake.write.files"] = info_sum("lake.write", "files")
        m["lake.discover.s"] = span_s("lake.discover")
        m["lake.discover.jobs"] = g("lake.discover").jobs / n
        m["lake.export.s"] = span_s("lake.export")
        m["lake.export.jobs"] = g("lake.export").jobs / n
        m["lake.export.rows"] = g("lake.export")["out_records"] / n
        rounds = out["rounds"]
        m["lake.space_amp"] = sum(r.grown_bytes for r in rounds) / sum(
            r.in_bytes for r in rounds
        )
        m["lake.replay_dup_rows"] = max(r.replay_dup_rows for r in rounds)
        mg = g("merge")
        m["merge.s"] = span_s("merge")
        m["merge.jobs"] = mg.jobs / n
        m["merge.stages"] = mg.stages / n
        m["merge.shuffle_bytes"] = mg["shuffle_write"] / n
        m["merge.bytes_written"] = mg["out_bytes"] / n
        m["merge.buckets_written"] = info_sum("merge", "written")
        m["merge.buckets_skipped"] = info_sum("merge", "skipped")
        cp = g("compact")
        m["compact.calls"] = len(tracer.of("compact")) / n
        m["compact.busy_s"] = span_s("compact")
        m["compact.wall_s"] = union_s([(s.start, s.end) for s in tracer.of("compact")]) / n
        m["compact.jobs"] = cp.jobs / n
        m["compact.bytes_rewritten"] = cp["out_bytes"] / n
        m["compact.files_in"] = info_sum("compact", "files_in")
        m["compact.files_out"] = info_sum("compact", "files_out")
        m["week.self_s"] = self_s(spans, "week") / n
        m["week.replay_s"] = _median([r.replay_s for r in traced])
    else:
        cat = Usage()
        for name, u in groups.items():
            if name.startswith("catalog."):
                cat.add(u)
        m["catalog.build_s"] = sum(r.build_s for r in traced) / n
        m["catalog.plan_s"] = sum(r.plan_s for r in traced) / n
        m["catalog.exec_s"] = sum(r.exec_s for r in traced) / n
        m["catalog.jobs"] = cat.jobs / n
        m["catalog.stages"] = cat.stages / n
        m["catalog.tasks"] = cat.tasks / n
        m["catalog.shuffle_bytes"] = cat["shuffle_write"] / n
        m["catalog.spill_bytes"] = cat["spill"] / n
        for k in workload.keys:
            m[f"catalog.{k}.s"] = sum(r.key_s.get(k, 0.0) for r in traced) / n
            m[f"catalog.{k}.jobs"] = g(f"catalog.{k}").jobs / n
    m["cache.registrations"] = tracer.cache_registrations / n
    m["cache.hits"] = tracer.cache_hits / n
    m["cache.hit_ratio"] = (
        tracer.cache_hits / tracer.cache_registrations if tracer.cache_registrations else 0.0
    )
    m["cache.peak_storage_mb"] = tracer.peak_storage_mb
    everything = total(groups)
    wall = sum(r.wall_s for r in traced)
    m["spark.jobs"] = everything.jobs / n
    m["spark.tasks"] = everything.tasks / n
    m["spark.executor_run_s"] = everything["run_ms"] / 1000 / n
    m["spark.gc_s"] = everything["gc_ms"] / 1000 / n
    m["spark.spill_bytes"] = everything["spill"] / n
    m["spark.slot_util"] = everything["run_ms"] / 1000 / (wall * _usable_cores())
    m["spark.peak_rss_mb"] = _jvm_peak_rss_mb(ctx.spark)
    m["trace.overhead_frac"] = _median([r.wall_s for r in traced]) / _median(
        [r.wall_s for r in plain]
    ) - 1
    return m


def _write_spans(tracer, path: str) -> None:
    with open(path, "w") as fh:
        for s in tracer.spans:
            fh.write(
                json.dumps(
                    {"name": s.name, "start": s.start, "end": s.end, "thread": s.thread, **s.info}
                )
                + "\n"
            )


def run(args, work: str) -> dict:
    os.environ.update(_environment(work))
    from abr_etl_spark.session import get_spark

    workload = workloads()[args.workload]
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, work, args.seed, args.seconds, bool(args.trace), workload.kind)
        out = measure(workload, ctx, session_s)
        for p in out["problems"]:
            print(f"perfbench: {args.workload}: {p}", file=sys.stderr)
        if args.trace:
            metrics = per_layer(workload, out, ctx)
            units = dict(per_layer_names())
            _write_spans(
                ctx.tracer,
                os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"),
            )
        else:
            metrics = end_to_end(out, spark)
            units = dict(END_TO_END)
    finally:
        _stop(spark)
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isdir("abr_etl_spark") and os.path.isfile("__spark_entry__.py")):
        print("perfbench: run from the root of an abr-etl-spark checkout", file=sys.stderr)
        return 2
    # the program and this package import from the checkout root, not
    # from this script's directory
    sys.path[0] = ROOT
    if args.workload not in workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
