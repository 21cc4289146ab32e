"""Part-3 LLM pipeline queries vs the DuckDB oracle, plus sketch-error
and containment-vs-jaccard properties."""

import pytest
from pyspark.sql import functions as F

from abr_etl_spark.operators import dedup
from abr_etl_spark.plans import llm_pipeline3 as lp3
from abr_etl_spark.sources.lake import load_table
from tests.conftest import SF_ORACLE, assert_matches_oracle


@pytest.mark.parametrize("key", sorted(lp3.QUERIES))
def test_llm_pipeline3_vs_oracle(spark, ddb, key):
    df = lp3.QUERIES[key](spark, SF_ORACLE)
    assert_matches_oracle(df, ddb, lp3.ORACLES[key], key)


def test_kmv_estimate_within_sketch_error(spark):
    """KMV standard error is ~1/sqrt(k-1) (~6.3% at k=256); allow 4
    sigma. The exact distinct count (a full-vocab shuffle the production
    sketch deliberately avoids) is computed HERE, at test scale, as the
    ground truth. Also asserts the premise (domain > k) so the sketch is
    meaningful."""
    row = lp3.kmv_distinct(spark, SF_ORACLE).first()
    exact = (
        lp3._kmv_hash_stream(load_table(spark, SF_ORACLE, "documents"))
        .distinct()
        .count()
    )
    assert exact > lp3.KMV_K
    assert row["k"] == lp3.KMV_K
    rel_err = abs(row["est_distinct"] - exact) / exact
    assert rel_err < 4.0 / (lp3.KMV_K - 1) ** 0.5


def test_kmv_threshold_prefilter_is_value_neutral(spark):
    """The 8x-safety threshold path must return EXACTLY the unfiltered
    sketch (k smallest distinct hashes) -- the filter is a plan
    optimization, never an answer change."""
    ev = lp3._kmv_hash_stream(load_table(spark, SF_ORACLE, "documents"))
    unfiltered = (
        ev.distinct()
        .orderBy(F.col("h").asc())
        .limit(lp3.KMV_K)
        .agg(F.max("h").alias("kth_hash"), F.count("*").alias("k"))
        .first()
    )
    got = lp3.kmv_distinct(spark, SF_ORACLE).first()
    assert got["kth_hash"] == unfiltered["kth_hash"]
    assert got["k"] == unfiltered["k"]


def test_bigram_probabilities_are_valid(spark):
    out = lp3.bigram_lm(spark, SF_ORACLE).collect()
    assert len(out) == lp3.BIGRAM_TOP
    for r in out:
        assert 0 < r["p_e4"] <= 10000
        assert r["n"] <= r["n_w1"]


def test_containment_supersets_jaccard_pairs(spark):
    """Every jaccard-0.9 pair is also a containment-0.8 pair
    (jaccard <= containment pointwise), but containment finds MORE
    (the asymmetric quote-inclusion dups)."""
    d = load_table(spark, SF_ORACLE, "documents")
    cont = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.containment_pairs(d, threshold=0.8).collect()
    }
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.9).collect()
    }
    assert jac and jac <= cont


def test_containment_catches_quote_inclusion(spark):
    """A short doc pasted verbatim inside a long one: containment ~1
    even though jaccard is tiny -- the pair containment exists to
    catch."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"tok{i} tok{i + 1} mid{i}" for i in range(40))
    rows = [(1, short), (2, f"{filler} {short} {filler}")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = dedup.containment_pairs(df, threshold=0.8).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1, 2)]
    assert got[0]["cont_e4"] == 10000
    # and jaccard at 0.9 misses it
    assert dedup.ngram_jaccard_pairs(df, threshold=0.9).count() == 0


def test_incr_index_cache_keeps_live_entries_evicts_dead(spark):
    """A session_memo miss (here dedup_incremental_probe's corpus index)
    must spare entries owned by LIVE contexts (a second session
    in-process) and drop only entries whose context is gone or
    stopped."""
    import weakref

    from abr_etl_spark.functions import cache
    from abr_etl_spark.plans import llm_pipeline3 as lp3

    memo = cache._SESSION_MEMO
    memo.pop((spark.sparkContext.applicationId, "dedup_incr", SF_ORACLE), None)
    # a fake "sibling live session" entry: same live context, foreign app id
    sentinel = object()
    memo[("other-live-app", "f", "x")] = (sentinel, weakref.ref(spark.sparkContext))

    class _DeadSC:
        _jsc = None

    stopped = _DeadSC()  # alive in Python, but its JVM context is gone
    memo[("stopped-app", "f", "z")] = (object(), weakref.ref(stopped))
    dead = _DeadSC()
    memo[("dead-app", "f", "y")] = (object(), weakref.ref(dead))
    del dead  # weakref now returns None too

    lp3.dedup_incremental_probe(spark, SF_ORACLE).count()
    keys = set(memo)
    assert ("other-live-app", "f", "x") in keys, "live sibling entry evicted"
    assert ("dead-app", "f", "y") not in keys, "dead entry not evicted"
    assert ("stopped-app", "f", "z") not in keys, "stopped entry not evicted"
    assert memo[("other-live-app", "f", "x")][0] is sentinel
    memo.pop(("other-live-app", "f", "x"))
