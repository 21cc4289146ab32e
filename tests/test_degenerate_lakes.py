"""r10 robustness nets past the empty-table case (r9 verdict item 5).

Two degenerate-but-plausible lakes a 100 TB deployment will eventually
produce:

- **all-NULL payloads**: every non-key column NULL (a corrupt upstream
  export, or a projection bug that kept keys and dropped values). The
  delta family's NULL-safe hash compare must classify NULL==NULL as
  unchanged, and no key may raise.
- **bit-identical snapshots**: a week with no changes (orders filtered
  so the derived new/old CDC snapshots coincide exactly). The delta
  family must emit empty deltas and SCD2 one open interval per key.

Plus cross-engine parity pytests for the two r9 ADVICE divergence
classes the empty net could not see: a BPE learner that runs out of
adjacent pairs before BPE_MERGES steps, and a source whose kept
(canonical) token mass is zero.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_matches_oracle

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

#: join/grouping keys each table keeps in the all-NULL lake; everything
#: else becomes a typed NULL.
_KEEP = {
    "region": {"r_regionkey"},
    "nation": {"n_nationkey", "n_regionkey"},
    "customer": {"c_custkey", "c_nationkey"},
    "supplier": {"s_suppkey", "s_nationkey"},
    "part": {"p_partkey"},
    "orders": {"o_orderkey", "o_custkey"},
    "lineitem": {"l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"},
    "events": {"event_id", "user_id"},
    "documents": {"doc_id"},
    "embeddings": {"vec_id"},
}

_SRC = "/root/testdata/sf0.001"


def _registry():
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    return entry.queries()


@pytest.fixture(scope="module")
def null_lake(spark, tmp_path_factory):
    """sf0.001 with every payload column replaced by a typed NULL."""
    root = tmp_path_factory.mktemp("null_lake")
    for t in TABLES:
        df = spark.read.parquet(f"{_SRC}/{t}.parquet")
        keep = _KEEP[t]
        df.select(
            *[
                F.col(c)
                if c in keep
                else F.lit(None).cast(df.schema[c].dataType).alias(c)
                for c in df.columns
            ]
        ).coalesce(1).write.mode("overwrite").parquet(
            str(root / f"{t}.parquet")
        )
    return str(root)


@pytest.fixture(scope="module")
def no_change_lake(spark, tmp_path_factory):
    """sf0.001 with orders filtered so the derived CDC snapshots are
    bit-identical: etl_parity derives new=%7!=0 and old=%5!=0(+shift on
    %3==0), so keeping only keys coprime to 3, 5 and 7 makes new == old
    byte for byte."""
    root = tmp_path_factory.mktemp("no_change_lake")
    for t in TABLES:
        df = spark.read.parquet(f"{_SRC}/{t}.parquet")
        if t == "orders":
            df = df.where(
                (F.col("o_orderkey") % 3 != 0)
                & (F.col("o_orderkey") % 5 != 0)
                & (F.col("o_orderkey") % 7 != 0)
            )
        df.coalesce(1).write.mode("overwrite").parquet(
            str(root / f"{t}.parquet")
        )
    return str(root)


@pytest.mark.slow
def test_all_registry_keys_survive_all_null_payloads(spark, null_lake):
    """EVERY queries() key must run on the all-NULL-payload lake --
    catches NULL-unsafe arithmetic/indexing the empty net (zero rows)
    never executes."""
    from tests.conftest import run_registry_parallel

    failures = run_registry_parallel(
        _registry().items(),
        lambda name, fn: fn(spark, null_lake).collect(),
    )
    assert not failures, failures


def test_delta_family_on_all_null_payloads(spark, null_lake):
    """NULL payloads equal on both sides are UNCHANGED, never updated:
    the hash compare's NULL sentinel must agree with itself (the
    reference's literal != would also skip them, but by accident of
    three-valued logic)."""
    from abr_etl_spark.plans import etl_parity as ep

    assert ep.QUERIES["delta_updated"](spark, null_lake).collect() == []
    counts = {
        r["change"]: r["n"]
        for r in ep.QUERIES["delta_unchanged_count"](
            spark, null_lake
        ).collect()
    }
    assert counts.get("updated", 0) == 0
    assert counts.get("unchanged", 0) > 0


@pytest.mark.slow
def test_all_registry_keys_survive_identical_snapshots(
    spark, no_change_lake
):
    """EVERY queries() key must run on the no-change lake; the delta
    family must report exactly zero added/removed/updated rows."""
    from tests.conftest import run_registry_parallel

    failures = run_registry_parallel(
        _registry().items(),
        lambda name, fn: fn(spark, no_change_lake).collect(),
    )
    assert not failures, failures


def test_delta_family_on_identical_snapshots(spark, no_change_lake):
    from abr_etl_spark.plans import etl_parity as ep

    for key in ("delta_updated", "delta_added", "delta_removed"):
        assert ep.QUERIES[key](spark, no_change_lake).collect() == [], key
    counts = {
        r["change"]: r["n"]
        for r in ep.QUERIES["delta_unchanged_count"](
            spark, no_change_lake
        ).collect()
    }
    assert counts.get("added", 0) == 0
    assert counts.get("removed", 0) == 0
    assert counts.get("updated", 0) == 0


def test_scd2_identical_snapshot_series_one_open_interval(spark):
    """SCD2 over N bit-identical snapshots collapses to ONE interval per
    key, open-ended, effective from the earliest importdate."""
    from abr_etl_spark.operators.delta import scd2

    rows = [(k, 100.0 + k) for k in range(1, 6)]
    snaps = None
    for d in ("2024-01-01", "2024-01-08", "2024-01-15"):
        s = spark.createDataFrame(
            [(k, v, d) for k, v in rows],
            "pid long, price double, importdate string",
        )
        snaps = s if snaps is None else snaps.unionByName(s)
    out = scd2(snaps, "pid", snapshot_col="importdate").collect()
    assert len(out) == len(rows)
    for r in out:
        assert r["valid_from"] == "2024-01-01"
        assert r["valid_to"] is None


# ---------------------------------------------------------- ADVICE parity


def _docs_lake(spark, tmp_path, rows):
    """documents + empty embeddings with the production schemas."""
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet/*.parquet')"
        )
    return con


def test_bpe_encode_degenerate_merges_matches_oracle(spark, tmp_path):
    """A corpus that exhausts its adjacent pairs before BPE_MERGES
    steps: the missing merges must be no-ops on BOTH engines (r9 ADVICE
    item 1 -- Spark's empty per-step frame used to annihilate every row
    while DuckDB NULLed the words)."""
    import __spark_entry__ as entry

    rows = [
        (1, "ab ab ab", "en", "web", 8),
        (2, "ab ab", "en", "web", 5),
    ]
    con = _docs_lake(spark, tmp_path, rows)
    try:
        got = entry.queries()["bpe_encode_corpus"](spark, str(tmp_path))
        out = got.collect()
        assert len(out) == 1 and out[0]["n_words"] == 5, (
            "degenerate corpus must still produce the per-source report"
        )
        assert_matches_oracle(
            got,
            con,
            entry.oracle_sql()["bpe_encode_corpus"],
            key="bpe_encode_corpus/degenerate",
        )
    finally:
        con.close()


def test_dup_inflation_zero_token_source_matches_oracle(spark, tmp_path):
    """A source whose docs are ALL duplicates of another source's
    (canonicals live elsewhere, tokens_kept = 0) must report NULL
    inflation on both engines, not an ANSI divide-by-zero (r9 ADVICE
    item 2)."""
    import __spark_entry__ as entry

    rows = [
        (1, "alpha beta gamma delta", "en", "a", 22),
        (2, "alpha beta gamma delta", "en", "b", 22),
        (3, "alpha beta gamma delta", "en", "b", 22),
    ]
    con = _docs_lake(spark, tmp_path, rows)
    try:
        got = entry.queries()["dup_inflation_report"](spark, str(tmp_path))
        by_src = {r["source"]: r for r in got.collect()}
        assert by_src["b"]["tokens_kept"] == 0
        assert by_src["b"]["inflation_e4"] is None
        assert by_src["a"]["inflation_e4"] == 10000
        assert_matches_oracle(
            got,
            con,
            entry.oracle_sql()["dup_inflation_report"],
            key="dup_inflation_report/zero-token-source",
        )
    finally:
        con.close()
