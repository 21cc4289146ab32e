"""The bench tools: their key lists name real queries() keys, and the
paired A/B harness runs end to end."""

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_key_lists_name_registry_keys():
    """A renamed key must fail here, not as a KeyError partway through
    an sf100 run."""
    import __spark_entry__ as entry
    import bench
    from tools import bench_scale

    qs = entry.queries()
    families = entry.cache_families()
    schedule = bench.release_schedule(bench.HEADLINERS, families)
    lists = {
        "HEADLINERS": bench.HEADLINERS,
        "R1_SUBSET": bench.R1_SUBSET,
        "CACHE_FAMILIES": list(families),
        "release schedule": list(schedule),
        **{f"bench_scale {n}": f["keys"] for n, f in bench_scale.FAMILIES.items()},
    }
    for name, keys in lists.items():
        assert [k for k in keys if k not in qs] == [], name
        assert len(keys) == len(set(keys)), name
    assert set(schedule) <= set(bench.HEADLINERS)


def test_release_schedule_frees_each_family_after_its_last_consumer():
    """Whatever the order of HEADLINERS (every rotation of it, forward
    and reversed), the derived schedule releases each family that a
    key declares exactly once: after a key that declares it, and never
    before a key that still reads it."""
    import __spark_entry__ as entry
    import bench

    families = entry.cache_families()
    h = bench.HEADLINERS
    for base in (h, h[::-1]):
        for i in range(len(base)):
            keys = base[i:] + base[:i]
            schedule = bench.release_schedule(keys, families)
            released: set[str] = set()
            for k in keys:
                reads = set(families.get(k, ()))
                assert not reads & released, (i, k, reads & released)
                frees = set(schedule.get(k, ()))
                assert frees <= reads, (i, k)
                released |= frees
            assert released == {f for k in keys for f in families.get(k, ())}
            assert released, "no headliner declares a cache family"


@pytest.mark.slow
def test_bench_ab_runs_a_ref_against_the_working_tree(tmp_path):
    """HEAD (extracted with git archive) against the working tree: exit
    0, one JSON line with the payload fields, temp trees removed. The
    harness runs from a copy committed to a fresh git repository, so the
    test also passes in a tree that is not a git checkout."""
    import shutil

    tree = tmp_path / "tree"
    ignore = shutil.ignore_patterns("__pycache__", "*.pyc")
    shutil.copytree(os.path.join(ROOT, "abr_etl_spark"), tree / "abr_etl_spark", ignore=ignore)
    (tree / "tools").mkdir()
    shutil.copy(os.path.join(ROOT, "tools", "bench_ab.py"), tree / "tools")
    shutil.copy(os.path.join(ROOT, "__spark_entry__.py"), tree)
    git = ["git", "-C", str(tree)]
    ident = ["-c", "user.name=bench", "-c", "user.email=bench@localhost"]
    subprocess.run([*git, "init", "-q"], check=True)
    subprocess.run([*git, "add", "-A"], check=True)
    subprocess.run(
        [*git, *ident, "-c", "commit.gpgsign=false", "commit", "-q", "-m", "tree"],
        check=True,
    )
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": SF_SMOKE,
        "SPARK_GRAFT_CPUS": "2",
        "TMPDIR": str(tmp_path),
    }
    run = subprocess.run(
        [sys.executable, "tools/bench_ab.py", "HEAD", ".", "q1_pricing_summary", "1"],
        cwd=tree,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0
    out = json.loads(run.stdout.strip().splitlines()[-1])
    assert set(out) == {
        "a", "b", "key", "sf_dir", "cpus", "mode", "pairs",
        "a_median", "b_median", "ratio_median", "b_wins", "n",
    }
    assert (out["a"], out["b"], out["key"]) == ("HEAD", ".", "q1_pricing_summary")
    assert out["mode"] == "cold" and out["n"] == 1 and len(out["pairs"]) == 1
    assert all(t > 0 for t in out["pairs"][0])
    assert not any(p.name.startswith("bench_ab_") for p in tmp_path.iterdir())
