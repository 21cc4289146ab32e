"""Edge cases the 100 TB runs will hit: null keys, empty snapshots,
unicode text, single-token docs, empty embeddings handled upstream."""

import pytest
from pyspark.sql import functions as F

from abr_etl_spark.operators import dedup, delta, text


def _snap(spark, rows):
    return spark.createDataFrame(rows, "pid string, v string, importdate string")


def test_delta_with_empty_old_snapshot(spark):
    new = _snap(spark, [("k1", "a", "d2"), ("k2", "b", "d2")])
    old = _snap(spark, []).where(F.lit(False))
    assert delta.delta_added(new, old, "pid").count() == 2
    assert delta.delta_updated(new, old, "pid").count() == 0
    assert delta.delta_removed(new, old, "pid").count() == 0


def test_delta_null_key_rows_kept_distinct(spark):
    """NULL keys never equi-join; they classify as added+removed (the
    safe CDC interpretation -- a keyless row can't be 'the same' row)."""
    new = _snap(spark, [(None, "a", "d2"), ("k1", "x", "d2")])
    old = _snap(spark, [(None, "a", "d1"), ("k1", "x", "d1")])
    classified = delta.delta_classify(new, old, "pid")
    by = {r["change"] for r in classified.collect()}
    assert "unchanged" in by  # k1
    added = delta.delta_added(new, old, "pid").count()
    removed = delta.delta_removed(new, old, "pid").count()
    assert (added, removed) == (1, 1)


def test_dedup_exact_unicode_and_whitespace(spark):
    df = spark.createDataFrame(
        [
            (1, "Héllo  Wörld"),
            (2, "héllo wörld"),
            (3, "中文 文本"),
            (4, "中文  文本"),
            (5, "distinct"),
        ],
        "doc_id long, text string",
    )
    out = {r["kept_id"]: r["n_copies"] for r in dedup.dedup_exact(df).collect()}
    assert out == {1: 2, 3: 2, 5: 1}


def test_shingles_shorter_than_n(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "single"), (3, "one two")],
        "doc_id long, text string",
    )
    sh = {r["doc_id"]: r["shingles"] for r in dedup.shingle_df(df, n=3).collect()}
    # short docs produce exactly one whole-doc shingle hash; identical
    # text -> identical hash, different text -> different hash
    assert len(sh[1]) == len(sh[2]) == 1
    assert sh[1] == sh[3] and sh[1] != sh[2]


def test_jaccard_identical_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_quality_score_empty_text(spark):
    df = spark.createDataFrame([(1, ""), (2, "the of and")], "doc_id long, text string")
    rows = {r["doc_id"]: r["quality"] for r in text.with_quality(df).collect()}
    assert rows[1] >= 0  # no division-by-zero under ANSI mode
    assert rows[2] > rows[1]


def test_scd2_single_snapshot(spark):
    df = _snap(spark, [("k1", "a", "2024-01-01")])
    hist = delta.scd2(df, "pid").collect()
    assert len(hist) == 1 and hist[0]["is_current"]


def test_ngram_df_cap_keeps_rare_shingle_pairs(spark):
    """VERDICT r1 item 4: a hot shingle (boilerplate in every doc) must
    not blow up the candidate set, and a true near-dup pair sharing rare
    shingles must survive the cap with EXACT jaccard."""
    boiler = "lorem ipsum dolor sit amet consectetur"
    rows = [
        (i, f"unique text {i} alpha beta gamma delta epsilon zeta " + boiler)
        for i in range(20)
    ]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog again and again today"),
        (101, "the quick brown fox jumps over the lazy dog again and again tonight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.ngram_jaccard_pairs(df, threshold=0.8, df_cap=5).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in out] == [(100, 101, 0.8333)]


def test_ngram_prefix_filter_is_lossless_vs_bruteforce(spark):
    """AllPairs prefix filtering must find every pair >= tau that brute
    force finds (losslessness is a theorem; pin it against drift)."""
    import itertools

    words = ["w%d" % i for i in range(12)]
    rows = []
    for i in range(30):
        # overlapping rotations -> many medium-similarity pairs
        toks = [words[(i + j) % 12] for j in range(8)]
        rows.append((i, " ".join(toks)))
    rows.append((200, rows[0][1]))  # exact dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    # brute force in python
    def sh(text):
        t = text.split()
        return {tuple(t[i : i + 3]) for i in range(len(t) - 2)}

    texts = dict(rows)
    want = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = sh(texts[a]), sh(texts[b])
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.5:
            want[(a, b)] = round(j, 4)
    assert got == want


def test_result_cache_lifecycle(spark):
    """Pair operators register their materialized result caches with
    functions/cache.py; release_result_caches() frees every one (r5 advice:
    nothing previously unpersisted them, leaking one cache per distinct
    operator input for session lifetime)."""
    from abr_etl_spark.functions import cache as result_cache
    from abr_etl_spark.operators import dedup as dd
    from abr_etl_spark.sources.lake import load_table

    result_cache.release_result_caches()  # start clean
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = dd.simhash_pairs(d)
    assert pairs.storageLevel.useMemory, "result should be materialized"
    assert len(result_cache._RESULT_CACHES) >= 1
    released = result_cache.release_result_caches()
    assert released >= 1
    assert not result_cache._RESULT_CACHES
    assert not pairs.storageLevel.useMemory, "release must unpersist"
    # the DataFrame itself must stay usable post-release (lineage intact)
    assert pairs.count() >= 0


def _tagged_frame(spark, tag):
    """37 rows under a plan no other test caches (CacheManager dedups
    by plan), rebuilt identically from the same ``tag``."""
    return spark.range(37).select(
        F.lit(tag).alias("tag"), (F.col("id") % 5).alias("m")
    )


def _cache_builder(df):
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).get().cachedRepresentation().cacheBuilder()


def test_session_memo_reowns_released_frame(spark):
    """A memoized frame that a family release unpersisted is registered
    again on its next hit, so a second release frees it again."""
    import uuid

    from abr_etl_spark.functions import cache

    fam = "test_memo_reown"
    key = uuid.uuid4().hex
    df = _tagged_frame(spark, key)
    built = cache.session_memo(
        spark, fam, key, lambda: cache.register_cache(df, family=fam)
    )
    assert cache.release_result_caches(fam) == 1
    assert not built.storageLevel.useMemory

    def rebuild():
        raise AssertionError("a hit must not rebuild")

    again = cache.session_memo(spark, fam, key, rebuild)
    assert again is built
    assert (fam, built) in cache._RESULT_CACHES
    assert built.storageLevel.useMemory
    assert cache.release_result_caches(fam) == 1
    assert not built.storageLevel.useMemory


def test_session_memo_builds_each_key_once_under_threads(spark):
    """16 threads on 2 keys: each key is built exactly once and every
    caller gets that one value; the two keys' builds overlap (a barrier
    both builds must reach), so one key's build never blocks another."""
    import sys
    import threading
    import time
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    from abr_etl_spark.functions import cache

    fam = f"test_memo_threads_{uuid.uuid4().hex}"
    both_building = threading.Barrier(2, timeout=30)
    builds = []
    lock = threading.Lock()

    def build(key):
        with lock:
            builds.append(key)
        both_building.wait()
        time.sleep(0.2)  # a window for a racing caller of the same key
        return object()

    def call(i):
        key = i % 2
        return key, cache.session_memo(spark, fam, key, lambda: build(key))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            got = list(pool.map(call, range(64), timeout=60))
    finally:
        sys.setswitchinterval(old)
    assert sorted(builds) == [0, 1]
    assert len({id(v) for k, v in got if k == 0}) == 1
    assert len({id(v) for k, v in got if k == 1}) == 1


def test_count_memo_recounts_unpopulated_cache(spark):
    """A lazily re-persisted plan has a cache entry but no blocks: the
    next materialize_result must count (populating it), not serve the
    count memoized before the release."""
    import uuid

    from abr_etl_spark.functions import cache

    fam = "test_count_memo"
    df = _tagged_frame(spark, uuid.uuid4().hex)
    assert cache.materialize_result(df, family=fam)._abr_result_count == 37
    cache.release_result_caches(fam)
    cache.register_cache(df, family=fam)
    assert not _cache_builder(df).isCachedColumnBuffersLoaded()
    out = cache.materialize_result(df, family=fam)
    assert _cache_builder(out).isCachedColumnBuffersLoaded()
    assert out._abr_result_count == df.count()
    cache.release_result_caches(fam)


def test_count_memo_hit_launches_no_job(spark):
    """Repeat materialize_result of a plan whose cache is still
    populated reuses the memoized count: no Spark job."""
    import uuid

    from abr_etl_spark.functions import cache
    from tests.conftest import group_jobs, job_group

    fam = "test_count_memo_hit"
    tag = uuid.uuid4().hex
    first = cache.materialize_result(_tagged_frame(spark, tag), family=fam)
    same_plan = _tagged_frame(spark, tag)
    group = f"count-memo-{uuid.uuid4().hex}"
    with job_group(spark, group):
        again = cache.materialize_result(same_plan, family=fam)
    assert group_jobs(spark, group) == 0
    assert again._abr_result_count == first._abr_result_count == 37
    cache.release_result_caches(fam)


def test_ntile_distributed_degenerate_inputs(spark):
    """Distributed ntile on n < tiles and on an all-equal metric must
    still produce valid tiles (ties split purely by the key)."""
    from abr_etl_spark.plans.analytics5 import _ntile_distributed

    tiny = spark.createDataFrame(
        [(1, 5), (2, 5)], "o_custkey long, m long"
    )
    got = {
        r["o_custkey"]: r["__tile"]
        for r in _ntile_distributed(tiny, "m", ascending=True).collect()
    }
    assert got == {1: 1, 2: 2}
    flat = spark.createDataFrame(
        [(i, 7) for i in range(8)], "o_custkey long, m long"
    )
    tiles = [
        r["__tile"]
        for r in _ntile_distributed(flat, "m", ascending=False)
        .orderBy("o_custkey")
        .collect()
    ]
    assert tiles == [1, 1, 2, 2, 3, 3, 4, 4]


def test_time_weighted_avg_constant_value_user(spark, monkeypatch):
    """A user whose value never changes must report exactly that value
    (trapezoids of a constant)."""
    from abr_etl_spark.plans import analytics6 as a6

    df = spark.createDataFrame(
        [
            (1, 100, "2024-01-01 00:00:00", 2.5),
            (2, 100, "2024-01-01 01:00:00", 2.5),
            (3, 100, "2024-01-01 05:00:00", 2.5),
        ],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    monkeypatch.setattr(a6, "load_table", lambda s, d, t: df)
    rows = a6.time_weighted_avg(spark, "ignored").collect()
    assert len(rows) == 1 and rows[0]["twa_e4"] == 25000


def test_unzip_drop_empty_zip(tmp_path):
    """An empty weekly zip extracts to an empty drop, not an error."""
    import zipfile

    from abr_etl_spark import pipeline

    zp = tmp_path / "empty.zip"
    zipfile.ZipFile(zp, "w").close()
    assert pipeline.unzip_drop(str(zp), str(tmp_path / "out")) == []


def test_weighted_sample_single_heavy_item(spark, monkeypatch):
    """One item holding nearly all weight must be picked ~K times."""
    from abr_etl_spark.plans import analytics7 as a7

    df = spark.createDataFrame(
        [(1, 1000000.0)] + [(i, 0.01) for i in range(2, 12)],
        "o_orderkey long, o_totalprice double",
    )
    monkeypatch.setattr(a7, "load_table", lambda s, d, t: df)
    rows = a7.weighted_sample_systematic(spark, "ignored").collect()
    total = sum(r["n_picks"] for r in rows)
    heavy = {r["o_orderkey"]: r["n_picks"] for r in rows}[1]
    assert total == a7.WS_K and heavy >= a7.WS_K - 1


# ---------------------------------------------------------------- round 8

def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_session_gap_boundary_exact(spark, tmp_path):
    """gap == SESSION_GAP_S stays ONE session; gap+1 splits -- the
    boundary must agree with the oracle's strict > rule."""
    import datetime as dt

    from abr_etl_spark.plans import analytics8 as a8

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    gap = a8.SESSION_GAP_S
    sf = _write_events(
        spark,
        tmp_path,
        [
            (1, t0, 7, "view", 0.0, "{}"),
            (2, t0 + dt.timedelta(seconds=gap), 7, "click", 0.0, "{}"),
            (3, t0 + dt.timedelta(seconds=2 * gap + 1), 7, "purchase", 0.0, "{}"),
        ],
    )
    paths = {
        r.path: r.n_sessions
        for r in a8.session_paths_topk(spark, sf).collect()
    }
    assert paths == {"view>click": 1, "purchase": 1}


def test_source_divergence_single_source_is_zero(spark, tmp_path):
    from abr_etl_spark.plans import llm_pipeline6 as lp6

    sf = _write_docs(
        spark,
        tmp_path,
        [(1, "a b c", "en", "web", 5), (2, "c d", "en", "web", 3)],
    )
    rows = lp6.source_divergence_tv(spark, sf).collect()
    assert len(rows) == 1 and rows[0].tv_e6 == 0


def test_simpson_degenerate_docs(spark, tmp_path):
    from abr_etl_spark.plans import llm_pipeline6 as lp6

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "word", "en", "s", 4),        # single token -> 0
            (2, "x x x x", "en", "s", 7),      # one type -> 0
            (3, "a b", "en", "s", 3),          # two distinct -> 1/2
        ],
    )
    got = {
        r.doc_id: r.simpson_e6
        for r in lp6.simpson_diversity(spark, sf).collect()
    }
    assert got == {1: 0, 2: 0, 3: 500_000}


def test_zorder_interleave_roundtrip(spark):
    """zkey_sql agrees with a bit-level Python reference (decode by
    de-interleaving) on awkward values: 0, max, alternating bits."""
    from abr_etl_spark.functions.zorder import zkey_sql

    def py_zkey(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    cases = [(0, 0), (65535, 0), (0, 65535), (21845, 43690), (1, 2), (12345, 54321)]
    rows = spark.createDataFrame(cases, "x long, y long").selectExpr(
        "x", "y", f"{zkey_sql('x', 'y', ' DIV ')} AS z"
    ).collect()
    for r in rows:
        assert r.z == py_zkey(r.x, r.y), (r.x, r.y)


def test_hll_rank_extremes(spark):
    from abr_etl_spark.plans.analytics8 import _HLL_W_BITS, _hll_rank_sql

    got = spark.sql(
        "SELECT "
        + ", ".join(
            f"{_hll_rank_sql(str(w))} AS r{i}"
            for i, w in enumerate([0, 1, 2, 1 << (_HLL_W_BITS - 1)])
        )
    ).collect()[0]
    assert got.r0 == _HLL_W_BITS + 1      # w = 0 -> max rank
    assert got.r1 == _HLL_W_BITS          # w = 1
    assert got.r2 == _HLL_W_BITS - 1      # w = 2
    assert got.r3 == 1                    # top bit set -> rank 1


def test_bloom_positions_in_range(spark):
    from abr_etl_spark.plans.analytics8 import BLOOM_K, BLOOM_M, _bloom_pos_sql

    exprs = ", ".join(
        f"{_bloom_pos_sql(str(key), i)} AS p_{key}_{i}"
        for key in (0, 1, 2**40, 2**62)
        for i in range(BLOOM_K)
    )
    row = spark.sql(f"SELECT {exprs}").collect()[0]
    assert all(0 <= v < BLOOM_M for v in row)


def test_winsor_floor_negative_sum_parity(spark):
    """The sign-safe pmod floor equals Python's // (floor) for negative
    numerators AND the DuckDB-side floor expression the oracles use --
    DuckDB 1.0's bare // TRUNCATES toward zero (-7 // 2 = -3), so the
    oracle must build the floor explicitly, exactly like Spark's DIV."""
    import duckdb

    cases = [(-123, 7), (-1, 4), (123, 7), (-700, 7)]
    rows = spark.createDataFrame(
        cases, "sw long, n long"
    ).selectExpr(
        "sw", "n",
        "((2 * sw * 100 + n) - pmod(2 * sw * 100 + n, 2 * n))"
        " DIV (2 * n) AS w"
    ).collect()
    con = duckdb.connect()
    # DuckDB's bare // truncates toward zero -- the very divergence the
    # oracles must not carry
    assert con.execute("SELECT -7 // 2").fetchone()[0] == -3
    for r in rows:
        want = (2 * r.sw * 100 + r.n) // (2 * r.n)  # Python floors
        assert r.w == want, r
        got_ddb = con.execute(
            "SELECT ((2 * $sw * 100 + $n)"
            "        - (((2 * $sw * 100 + $n) % (2 * $n) + 2 * $n)"
            "           % (2 * $n)))"
            "       // (2 * $n)",
            {"sw": r.sw, "n": r.n},
        ).fetchone()[0]
        assert got_ddb == want, (r, got_ddb)
    con.close()


def test_recall_handles_probe_with_empty_bucket(spark, tmp_path):
    """A probe alone in its LSH bucket yields n_ann = 0 and recall 0 --
    the left-join path must keep the row."""
    from abr_etl_spark.plans import llm_pipeline6 as lp6

    base = [0.1 * ((i * 7) % 13 - 6) for i in range(64)]
    neg = [-v for v in base]
    rows = [(0, [float(v) for v in base], 0)] + [
        (i, [float(v) for v in neg], 0) for i in range(1, 6)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {r.query_id: r for r in
           lp6.recall_at_k_eval(spark, str(tmp_path)).collect()}
    assert 0 in out
    r = out[0]
    assert r.n_ann == 0 and r.n_common == 0 and r.recall_e4 == 0
    assert r.n_true > 0


def test_set_and_experiment_ops_degenerate_inputs(spark, tmp_path):
    """Click-only event streams (no purchases anywhere): the KMV set
    algebra returns an exact empty side, the funnel reports zero
    qualified users, and the A/B z-test returns NULL instead of a
    divide-by-zero (ANSI mode) or inf (DuckDB)."""
    import datetime as dt

    from abr_etl_spark.plans import analytics8 as a8

    sf = _write_events(
        spark,
        tmp_path,
        [
            (i, dt.datetime(2024, 1, 1, 10, 0, i), i % 3, "click", 1.0, "{}")
            for i in range(20)
        ],
    )
    kmv = a8.kmv_set_ops(spark, sf).collect()[0]
    assert (kmv.k_b, kmv.est_b, kmv.est_intersection) == (0, 0.0, 0.0)
    assert kmv.est_a == 3.0 and kmv.est_union == 3.0
    fun = a8.funnel_time_bounded(spark, sf).collect()[0]
    assert (fun.n_users_qualified, fun.n_qualifying_clicks) == (0, 0)
    ab = a8.ab_test_conversion(spark, sf).collect()[0]
    assert ab.z is None
    assert ab.conv_a == 0 and ab.conv_b == 0


def test_zorder_interleave_is_bijective_hypothesis(spark):
    """Property: the Morton interleave is a bijection on 16-bit pairs --
    decode(encode(x, y)) == (x, y) for arbitrary values (hypothesis),
    evaluated through the SHARED SQL text in one Spark call."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from abr_etl_spark.functions.zorder import zkey_sql

    def decode(z, bits=16):
        x = y = 0
        for i in range(bits):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        return x, y

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 65535), st.integers(0, 65535)
            ),
            min_size=1,
            max_size=16,
        )
    )
    def check(pairs):
        rows = spark.createDataFrame(
            pairs, "x long, y long"
        ).selectExpr("x", "y", f"{zkey_sql('x', 'y', ' DIV ')} AS z").collect()
        for r in rows:
            assert decode(r.z) == (r.x, r.y)

    check()


@pytest.mark.slow
def test_pca_family_survives_constant_corpus(spark, tmp_path):
    """A constant embedding column (zero scatter -- e.g. a stubbed
    encoder) must NOT kill the job with an ANSI divide-by-zero: the
    power loop falls back to the seed basis vector on a null matvec and
    whitening defines z = 0 along zero-variance directions."""
    from abr_etl_spark.plans import llm_pipeline5 as lp5

    vec = [0.25] * 64
    spark.createDataFrame(
        [(i, [float(v) for v in vec], 0) for i in range(50)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    sf = str(tmp_path)
    pca = lp5.embedding_pca_topk(spark, sf).collect()
    assert len(pca) == lp5.EIG_K * lp5.EIG_D
    # each component collapses to its seed basis vector
    for r in pca:
        want = 1.0 if r.dim == r.component else 0.0
        assert r.weight == want, r
    wh = lp5.embedding_whiten_topk(spark, sf).collect()
    assert len(wh) == min(50, lp5.WHITEN_TOP)
    assert all(r.wnorm2 == 0.0 for r in wh)


@pytest.mark.slow
def test_lp7_keys_survive_empty_tables(spark, tmp_path):
    """An empty documents/embeddings partition (a plausible upstream
    filter result at 100 TB) must produce empty reports, never an ANSI
    divide-by-zero."""
    from abr_etl_spark.plans import llm_pipeline7 as lp7

    spark.createDataFrame(
        [], "doc_id long, text string, source string, lang string, "
        "props string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    for name, fn in lp7.QUERIES.items():
        assert fn(spark, str(tmp_path)).collect() == [], name


@pytest.mark.slow
def test_all_registry_keys_survive_empty_tables(spark, tmp_path):
    """EVERY queries() key must run (not necessarily return rows) on a
    lake of empty tables with the production schemas -- the all-filtered
    partition / fresh-tenant case. Catches the ANSI divide-by-zero /
    invalid-index class (kmv_set_ops and histogram_equi_depth fell to it
    before their guards)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    src = "/root/testdata/sf0.001"
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        spark.read.parquet(f"{src}/{t}.parquet").limit(0).coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / f"{t}.parquet"))
    from tests.conftest import run_registry_parallel

    failures = run_registry_parallel(
        entry.queries().items(),
        lambda name, fn: fn(spark, str(tmp_path)).collect(),
    )
    assert not failures, failures
