#!/usr/bin/env python3
"""Paired A/B bench harness: one queries() key, two versions of the code.

The box drifts 1.3-2x within a session, so two medians taken an hour
apart cannot prove a 20% win. This harness alternates the two arms'
reps inside ONE run (A B A B ...), so ambient drift hits both arms
equally, and reports the per-pair ratios plus a sign summary -- a win
is real when (nearly) every pair agrees on the sign, regardless of the
absolute level the box happens to be at.

Usage:
    python tools/bench_ab.py A B KEY [pairs] [warm]
where each of A and B is a git ref (extracted with ``git archive`` into
a temp dir that is removed on exit) or ``.`` (this working tree as it
is, uncommitted edits included), e.g.
    python tools/bench_ab.py 2e75ac9 . rule_ancestor_prune 5

One interpreter cannot import two versions of ``abr_etl_spark``, so each
arm is one long-lived worker process with its own SparkSession, its cwd
and ``sys.path[0]`` set to its tree. The parent sends a worker one
command per rep and reads the wall time of ``KEY(spark, sf_dir).count()``
back.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (bench contract defaults).
Both arms run once untimed first (JVM/codegen warm-up). Default (cold)
mode then releases every result cache, and again after every pair, so
each rep pays its own cache builds. Warm mode never releases: every rep
reads the caches its arm built in the warm-up, which is the bench-median
contrast. The arms never share a cache: each has its own JVM.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in the arm's tree. Replies go to a private copy of stdout; fd 1
# is pointed at stderr before Spark starts, so nothing the JVM or the
# query code prints can corrupt the protocol.
_WORKER = r"""
import os, sys, time
tree, key, sf_dir, cpus = sys.argv[1:]
sys.path[0] = tree
reply = os.fdopen(os.dup(1), "w")
os.dup2(2, 1)
import __spark_entry__ as entry
from abr_etl_spark.functions.cache import release_result_caches
from abr_etl_spark.session import get_spark
fn = entry.queries()[key]
spark = get_spark("abr-bench-ab", master=f"local[{cpus}]")
for line in sys.stdin:
    cmd, _, label = line.strip().partition(" ")
    if cmd == "run":
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        reply.write(f"{time.perf_counter() - t0}\n")
    else:
        release_result_caches()
        reply.write("ok\n")
    reply.flush()
spark.stop()
"""


def _start(stack: contextlib.ExitStack, ref: str, argv: list[str]):
    """Start the worker for ``ref``; ``stack`` stops it and removes its
    tree on exit."""
    tree = ROOT
    if ref != ".":
        tree = stack.enter_context(tempfile.TemporaryDirectory(prefix="bench_ab_"))
        archive = subprocess.Popen(
            ["git", "-C", ROOT, "archive", ref], stdout=subprocess.PIPE
        )
        tar = subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout)
        archive.stdout.close()
        if archive.wait() or tar.returncode:
            raise SystemExit(f"cannot extract git ref {ref!r}")
    proc = subprocess.Popen(
        [sys.executable, "-c", _WORKER, tree, *argv],
        cwd=tree,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    stack.callback(_stop, proc)

    def ask(cmd: str) -> str:
        proc.stdin.write(cmd + "\n")
        proc.stdin.flush()
        answer = proc.stdout.readline()
        if not answer:
            raise SystemExit(f"arm {ref}: worker exited during {cmd!r}")
        return answer

    return ask


def _stop(proc: subprocess.Popen) -> None:
    try:
        proc.stdin.close()  # ends the worker's command loop
        proc.wait(timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit(__doc__)
    a_ref, b_ref, key = sys.argv[1:4]
    pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 5
    warm = len(sys.argv) > 5 and sys.argv[5] == "warm"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(2 * int(cpus)))

    rows = []
    with contextlib.ExitStack() as stack:
        a, b = (_start(stack, ref, [key, sf_dir, cpus]) for ref in (a_ref, b_ref))
        for ask in (a, b):  # JVM/codegen warm-up, outside the measurement
            ask("run AB warm-up")
            if not warm:
                ask("release")
        for i in range(pairs):
            ta = float(a(f"run AB pair {i}: A={a_ref}"))
            tb = float(b(f"run AB pair {i}: B={b_ref}"))
            if not warm:
                a("release")
                b("release")
            rows.append((round(ta, 3), round(tb, 3)))
            print(f"  pair {i}: A={ta:.3f}s B={tb:.3f}s  B/A={tb / ta:.3f}",
                  file=sys.stderr)

    ratios = [b / a for a, b in rows]
    payload = {
        "a": a_ref,
        "b": b_ref,
        "key": key,
        "sf_dir": sf_dir,
        "cpus": int(cpus),
        "mode": "warm" if warm else "cold",
        "pairs": rows,
        "a_median": round(statistics.median(r[0] for r in rows), 3),
        "b_median": round(statistics.median(r[1] for r in rows), 3),
        "ratio_median": round(statistics.median(ratios), 3),
        "b_wins": sum(1 for r in ratios if r < 1.0),
        "n": pairs,
    }
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
