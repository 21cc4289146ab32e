"""Self-tests that need no Spark: seeded inputs, trace restore, the
BENCHMARK.json metric lists, and refusing to run outside a checkout."""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import types

import pytest

from perfbench import abrgen, catgen, run
from perfbench.trace import Span, Tracer, self_s, union_s

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _weeks(seed: int, root: str) -> list:
    feed = abrgen.AbrFeed(seed, 400)
    feed.write_drop(os.path.join(root, "w0"))
    truths = []
    for k in (1, 2):
        truths.append(feed.advance(20, 4, 4))
        feed.write_drop(os.path.join(root, f"w{k}"))
    return truths


def test_same_seed_gives_identical_drops_and_truth(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert _weeks(7, a) == _weeks(7, b)
    for w in ("w0", "w1", "w2"):
        names = sorted(os.listdir(os.path.join(a, w)))
        assert len(names) == 8
        match, mismatch, errors = filecmp.cmpfiles(
            os.path.join(a, w), os.path.join(b, w), names, shallow=False
        )
        assert match == names and not mismatch and not errors
    assert _weeks(8, c) != _weeks(7, a)


def test_truth_describes_the_register(tmp_path):
    feed = abrgen.AbrFeed(3, 400)
    before = dict(feed.register)
    t = feed.advance(20, 4, 4)
    assert len(t.updated) == 20 and len(t.removed) == 4 and len(t.added) == 4
    assert t.removed <= set(before) and not t.removed & set(feed.register)
    assert t.added.isdisjoint(before) and t.added <= set(feed.register)
    assert all(feed.register[p] != before[p] for p in t.updated)
    assert t.rows == len(feed.register) == 400


def test_drop_fields_keep_their_shape(tmp_path):
    feed = abrgen.AbrFeed(5, 2000)
    feed.write_drop(str(tmp_path))
    for ds, cols in abrgen.DATASET_COLUMNS.items():
        (name,) = [n for n in os.listdir(tmp_path) if n.endswith(f"_ABR_{ds}.txt")]
        lines = (tmp_path / name).read_text().splitlines()
        assert lines[0].split("|") == list(cols)
        assert all(len(line.split("|")) == len(cols) for line in lines[1:])
    rows = [r.split("|") for r in feed.register.values()]
    cols = abrgen.DATASET_COLUMNS["Agency_Data"]
    pc, acn = cols.index("son_pc"), cols.index("acn")
    assert all(len(r[pc]) == 4 and r[pc].isdigit() for r in rows)
    assert any(r[pc].startswith("0") for r in rows)  # NT / ACT postcodes
    assert any(r[acn].startswith("0") for r in rows)
    assert all(len(r[acn]) in (0, 9) for r in rows)


def test_same_seed_gives_identical_tables():
    a, b = catgen.tables(1, 0.05), catgen.tables(1, 0.05)
    assert set(a) == set(b) and all(a[t].equals(b[t]) for t in a)
    assert not catgen.tables(2, 0.05)["orders"].equals(a["orders"])


class _Context:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, desc):
        self.calls.append(group)

    @property
    def _jsc(self):
        return types.SimpleNamespace(clearJobGroup=lambda: self.calls.append(None))


def test_tracer_restores_what_it_wraps():
    from abr_etl_spark import pipeline
    from abr_etl_spark.functions import cache
    from abr_etl_spark.operators import maintenance
    from abr_etl_spark.sources import lake, routed_ingest

    attrs = [
        (routed_ingest, "ingest_delimited"),
        (lake, "write_partitioned"),
        (lake, "read_lake"),
        (lake, "newest_previous"),
        (lake, "export_stable_csv"),
        (maintenance, "merge_snapshot"),
        (maintenance, "compact_partition"),
        (pipeline, "run_weekly"),
        (cache, "_OBSERVER"),
    ]
    before = [getattr(m, a) for m, a in attrs]
    tracer = Tracer(types.SimpleNamespace(sparkContext=_Context()))
    tracer.install(weekly_spans=True)
    assert all(getattr(m, a) is not b for (m, a), b in zip(attrs, before))
    tracer.uninstall()
    assert all(getattr(m, a) is b for (m, a), b in zip(attrs, before))


def test_spans_label_jobs_and_restore_the_parent_label():
    ctx = _Context()
    tracer = Tracer(types.SimpleNamespace(sparkContext=ctx))
    tracer.call("week", lambda: tracer.call("merge", lambda: 1))
    assert ctx.calls == ["week", "merge", "week", None]
    assert [s.name for s in tracer.spans] == ["merge", "week"]


def test_span_fields_bind_arguments_by_name(tmp_path):
    from perfbench.trace import _new_files

    def write(df, path, *, mode="append"):
        (tmp_path / f"part-{df}").write_text("x")

    mod = types.SimpleNamespace(write=write)
    tracer = Tracer(types.SimpleNamespace(sparkContext=_Context()))
    tracer.wrap(mod, "write", "lake.write", info=_new_files)
    mod.write(1, str(tmp_path))
    mod.write(2, path=str(tmp_path))
    tracer.uninstall()
    assert [s.info for s in tracer.spans] == [{"files": 1}, {"files": 1}]
    assert mod.write is write


def test_self_time_subtracts_covered_time():
    spans = [
        Span("week", 0.0, 10.0, "main"),
        Span("compact", 2.0, 5.0, "t1"),
        Span("compact", 4.0, 6.0, "t2"),
        Span("merge", 8.0, 9.0, "main"),
    ]
    assert union_s([(2.0, 5.0), (4.0, 6.0)]) == 4.0
    assert self_s(spans, "week") == pytest.approx(10.0 - 4.0 - 1.0)


def test_benchmark_json_lists_what_the_run_reports():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    names = {w["name"] for w in spec["workloads"]}
    assert names <= set(run.workloads())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(REPO, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
