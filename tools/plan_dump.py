#!/usr/bin/env python3
"""Dump .explain('formatted') for the named queries() keys to
plans/<tag>/<key>_<suffix>.txt and optionally time each key.

Usage:
  python tools/plan_dump.py [--tag dumps] [--suffix before] [--time N] key...

plans/<tag>/ is scratch output (git-ignored): regenerate a dump when a
plan claim needs one instead of keeping it.

Timing methodology matches bench.py (.count(), median of N reps) so
numbers here are comparable to BENCH_PERKEY.json.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--tag", default="dumps")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--time", type=int, default=0, help="timing reps (0=off)")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(2 * int(cpus)))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from abr_etl_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark("abr-etl-plan-dump", master=f"local[{cpus}]")
    qs = entry_mod.queries()
    outdir = os.path.join(repo, "plans", args.tag)
    os.makedirs(outdir, exist_ok=True)

    timings: dict[str, list[float]] = {}
    for key in args.keys:
        fn = qs.get(key)
        if fn is None:
            print(f"!! unknown key {key}", file=sys.stderr)
            continue
        df = fn(spark, args.sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{key}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        txt = buf.getvalue()
        n_ex = txt.count("Exchange")
        n_reuse = txt.count("ReusedExchange")
        print(f"{key}: Exchange={n_ex} (reused {n_reuse}) "
              f"BHJ={txt.count('BroadcastHashJoin')} "
              f"SMJ={txt.count('SortMergeJoin')} "
              f"SHJ={txt.count('ShuffledHashJoin')} "
              f"Py={txt.count('EvalPython') + txt.count('MapInPandas') + txt.count('MapInArrow')} "
              f"-> {path}", file=sys.stderr)
        if args.time:
            spark.sparkContext.setJobDescription(f"plan_dump:{key}")
            samples = []
            for _ in range(args.time):
                t0 = time.perf_counter()
                fn(spark, args.sf_dir).count()
                samples.append(round(time.perf_counter() - t0, 3))
            timings[key] = sorted(samples)
            print(f"  {key}: median {samples and sorted(samples)[len(samples)//2]}s runs={sorted(samples)}",
                  file=sys.stderr)
    if timings:
        print(json.dumps(timings))
    spark.stop()


if __name__ == "__main__":
    main()
