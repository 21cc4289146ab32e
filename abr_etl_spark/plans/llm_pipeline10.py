"""Round-12 LLM-pipeline operators: the MinHash permutation-count axis,
sparse lexical (tf-idf) cosine pairs, distribution-drift (KS) and
Zipf-tail corpus monitors, token-entropy quality, and the t-closeness
privacy audit completing the k-anonymity / l-diversity trio.

Every key is DuckDB-oracle-checked; integer folds end-to-end with at
most one final float expression per row, so both engines hash
bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from abr_etl_spark.functions import texthash as th
from abr_etl_spark.functions.cache import register_cache
from abr_etl_spark.sources.lake import load_table

QUERIES: dict = {}
ORACLES: dict = {}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "minhash_perm_sweep": ("minhash_sweep",),
}

# --------------------------------------------------- minhash_perm_sweep

#: permutation-count ladder; prefix-consistent (perm_seeds(k) is the
#: first k of perm_seeds(128)), so ONE 128-perm signature serves every
#: grid row as a slice.
MH_PERM_GRID = [16, 32, 64, 128]
#: pair-population threshold: lower than the dedup tau=0.9 so the error
#: statistic sees the estimator across the band the s-curve must
#: discriminate, not only saturated near-1 pairs.
MH_SWEEP_TAU = 0.5
#: document-frequency cap on the candidate gram join (same role as
#: dedup.ngram_jaccard_pairs' df_cap).
MH_SWEEP_DF_CAP = 1000


def minhash_perm_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The permutation-count axis of MinHash sizing (lsh_band_sweep
    fixes K=64 and varies the banding; this varies K): for each k in
    {MH_PERM_GRID}, the mean and max absolute error of the k-perm
    estimate vs exact Jaccard over the tau>=0.5 pair population --
    (k, n_pairs, mean_err_e4, max_err_e4). Error shrinks ~1/sqrt(k);
    THE table an operator reads before paying 128 perms of signature
    width at 100 TB when 32 hold the tau band.

    Cross-engine contract: the dedup production path hashes shingles
    with engine-native xxhash64 (its oracle checks verified OUTPUT
    pairs, hash-free), but this sweep's OUTPUT is signature-level, so
    everything here runs on the oracle-replayable polyhash chain
    (token polyhash -> gram fold -> LCG permutations, texthash.py both
    dialects); ONE 128-perm signature pass, sliced per grid row.

    Scale shape: pair candidates come from a df-capped gram equi-join
    (fan-out <= cap^2 per gram, never all-pairs); gram sets ride ONE
    map-only pass; the 128-perm signature is computed ONLY for docs in
    a tau-SURVIVING pair (exact-jaccard filter first, then a semi-join
    -- survivor-scaled, not corpus-scaled); the per-k expansion
    multiplies the (tiny) verified pair frame by 4, not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    # Persist barrier between the token hashing and the gram fold
    # (r17; opt guide 4.4 -- duplicated expensive expression):
    # sp_gram_hashes_from_token_hashes documents that its input must be
    # a MATERIALIZED column, because a token-hash EXPRESSION captured
    # inside the per-gram transform lambda re-evaluates the whole
    # char-level polyhash chain once per gram (~|doc| times per doc);
    # this call site passed the expression, and the cold build paid
    # ~25 s at sf0.1 for what is ~1 s of actual hashing. The cached
    # (doc_id, token-hash array) frame makes the lambda capture a bound
    # column reference -- hash VALUES unchanged.
    toks = register_cache(
        d.select(
            "doc_id",
            F.expr(th.sp_token_hashes(th.sp_tokens("text"))).alias(
                "__th"
            ),
        ),
        family="minhash_sweep",
    )
    base = toks.select(
        "doc_id",
        F.expr(th.sp_gram_hashes_from_token_hashes("__th", 3)).alias(
            "grams"
        ),
    )
    # Registered (family-owned) persists: these are CORPUS-scale frames
    # (every doc's gram array) -- the r16 32-core bench showed unowned
    # persists like these accumulating until execution memory thrashed
    # the very caches in use (minhash_perm_sweep 1.0 -> 11.7 s).
    base = register_cache(base, family="minhash_sweep")
    ex = base.select("doc_id", F.explode("grams").alias("g"))
    w_df = Window.partitionBy("g")
    flagged = ex.withColumn("df", F.count("*").over(w_df))
    kept = flagged.where(F.col("df") <= MH_SWEEP_DF_CAP)
    # COUNT-BASED exact verification (r17; opt guide 2.3 -- shuffle
    # counts, not payloads; the containment_pairs r13 trade applied
    # here): grams are distinct per doc, so the df-capped equi-join
    # emits exactly one row per shared NON-hot gram -- counting rows
    # per pair IS |A cap B| over the capped vocabulary, and the few
    # shared HOT grams are added back by joining the surviving pairs
    # against each doc's (id, hot-gram) rows (pair-bounded). The old
    # formulation shipped BOTH full gram arrays through two joins onto
    # every candidate pair; same integers, same output.
    common_kept = (
        kept.select(F.col("doc_id").alias("doc_a"), "g")
        .join(kept.select(F.col("doc_id").alias("doc_b"), "g"), "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("__ck"))
    )
    hot = flagged.where(F.col("df") > MH_SWEEP_DF_CAP).select(
        "doc_id", "g"
    )
    common_hot = (
        common_kept.select("doc_a", "doc_b")
        .join(hot.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(hot.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("__ch"))
    )
    sizes = base.select("doc_id", F.size("grams").alias("n_g"))
    pairs_exact = (
        common_kept.join(common_hot, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n_g").alias("n_a")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n_g").alias("n_b")
            ),
            "doc_b",
        )
        .withColumn(
            "common",
            (F.col("__ck") + F.coalesce(F.col("__ch"), F.lit(0))).cast(
                "int"
            ),
        )
        .withColumn(
            "exact_e4",
            F.expr(
                "CAST((2 * 10000 * common + (n_a + n_b - common))"
                " DIV (2 * (n_a + n_b - common)) AS BIGINT)"
            ),
        )
        .where(F.col("exact_e4") >= int(MH_SWEEP_TAU * 10000))
        .select("doc_a", "doc_b", "exact_e4")
    )
    pairs_exact = register_cache(pairs_exact, family="minhash_sweep")
    pair_ids = (
        pairs_exact.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs_exact.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    side = base.join(pair_ids, "doc_id", "left_semi").select(
        "doc_id", F.expr(th.sp_minhash("grams", 128)).alias("sig")
    )
    pairs = pairs_exact.join(
        side.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("s_a")),
        "doc_a",
    ).join(
        side.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("s_b")),
        "doc_b",
    )
    kg = spark.createDataFrame([(k,) for k in MH_PERM_GRID], "k int")
    est = (
        pairs.crossJoin(broadcast(kg))
        .withColumn(
            "m",
            F.expr(
                "aggregate(transform(sequence(1, k), i -> "
                "IF(element_at(s_a, i) = element_at(s_b, i), 1, 0)), "
                "0, (acc, x) -> acc + x)"
            ),
        )
        .withColumn(
            "err",
            F.expr(
                "abs(CAST((2 * 10000 * m + k) DIV (2 * k) AS BIGINT)"
                " - exact_e4)"
            ),
        )
    )
    return (
        est.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "CAST((2 * sum(err) + count(*)) DIV (2 * count(*))"
                " AS BIGINT)"
            ).alias("mean_err_e4"),
            F.max("err").cast("long").alias("max_err_e4"),
        )
        .orderBy("k")
    )


QUERIES["minhash_perm_sweep"] = minhash_perm_sweep


def _minhash_perm_sweep_oracle() -> str:
    grams = th.dk_gram_hashes_from_token_hashes(
        th.dk_token_hashes(th.dk_tokens("text")), 3
    )
    return f"""
        WITH base AS MATERIALIZED (
            SELECT doc_id, {grams} AS grams FROM documents
        ), ex AS MATERIALIZED (
            SELECT doc_id, unnest(grams) AS g FROM base
        ), kept AS MATERIALIZED (
            SELECT doc_id, g FROM (
                SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df
                FROM ex
            ) WHERE df <= {MH_SWEEP_DF_CAP}
        ), cand AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        ), pairs_exact AS MATERIALIZED (
            SELECT doc_a, doc_b, exact_e4 FROM (
                SELECT c.doc_a, c.doc_b,
                       CAST((2 * 10000 * len(list_intersect(x.grams, y.grams))
                             + (x.n_g + y.n_g
                                - len(list_intersect(x.grams, y.grams))))
                            // (2 * (x.n_g + y.n_g
                                     - len(list_intersect(x.grams, y.grams))))
                            AS BIGINT) AS exact_e4
                FROM cand c
                JOIN (SELECT doc_id, grams, len(grams) AS n_g FROM base) x
                    ON x.doc_id = c.doc_a
                JOIN (SELECT doc_id, grams, len(grams) AS n_g FROM base) y
                    ON y.doc_id = c.doc_b
            ) WHERE exact_e4 >= {int(MH_SWEEP_TAU * 10000)}
        ), sigs AS MATERIALIZED (
            SELECT doc_id, {th.dk_minhash_from_hashes('grams', 128)} AS sig
            FROM base
            WHERE doc_id IN (SELECT doc_a FROM pairs_exact
                             UNION SELECT doc_b FROM pairs_exact)
        ), pairs AS MATERIALIZED (
            SELECT p.doc_a, p.doc_b, p.exact_e4,
                   x.sig AS s_a, y.sig AS s_b
            FROM pairs_exact p
            JOIN sigs x ON x.doc_id = p.doc_a
            JOIN sigs y ON y.doc_id = p.doc_b
        ), kg AS (
            SELECT CAST(unnest([{', '.join(str(k) for k in MH_PERM_GRID)}])
                        AS INTEGER) AS k
        ), est AS (
            SELECT k,
                   abs(CAST((2 * 10000 * m + k) // (2 * k) AS BIGINT)
                       - exact_e4) AS err
            FROM (
                SELECT kg.k, pairs.exact_e4,
                       list_sum(list_transform(range(1, kg.k + 1), i ->
                           CASE WHEN s_a[i] = s_b[i] THEN 1 ELSE 0 END))
                           AS m
                FROM pairs, kg
            )
        )
        SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST((2 * sum(err) + count(*)) // (2 * count(*)) AS BIGINT)
                   AS mean_err_e4,
               CAST(max(err) AS BIGINT) AS max_err_e4
        FROM est GROUP BY k ORDER BY k
    """


ORACLES["minhash_perm_sweep"] = _minhash_perm_sweep_oracle()

# --------------------------------------------------- tfidf_cosine_pairs

#: number of reported top lexical pairs (data-independent output bound:
#: on a template-heavy corpus ~every pair clears any fixed cosine
#: threshold, so the report is the global top-N by cosine, ties broken
#: by ids -- deterministic on both engines).
TFIDF_TOP_N = 100
#: document-frequency cap: tokens in more docs than this are treated as
#: corpus boilerplate and excluded from the similarity (stopword
#: semantics, stated in the contract -- not an approximation of an
#: uncapped cosine).
TFIDF_DF_CAP = 1000


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_N} LEXICAL cosine-similar pairs: docs as tf-idf
    vectors over token hashes, reported as (doc_a, doc_b, cosine_e4)
    by cosine desc (ties by ids). The third similarity geometry beside
    set-overlap (Jaccard family) and dense embeddings (ANN family):
    term-frequency-weighted, so a doc repeating another's rare
    vocabulary scores high even when shingle order differs. Weights
    are the integer idf surrogate w = N DIV df
    (dedup_weighted_jaccard's); dot and squared norms are exact BIGINT
    sums over (tf_a * tf_b * w^2); the ONLY float is the final cosine
    = dot / sqrt(na2 * nb2), one expression from three integers --
    bit-identical cross-engine.

    Contract: tokens with df > {TFIDF_DF_CAP} are stopwords -- excluded
    from dot AND norms (self-consistent capped cosine), which is also
    what bounds the postings self-join fan-out at cap^2 per token.

    Scale shape: one tokenize pass -> (doc, token, tf) postings ->
    df-capped self-join on the token hash (8 bytes on the wire),
    aggregated straight to per-pair dot -- candidate work linear in
    postings, never all-pairs; norms ride a per-doc aggregate of the
    same postings frame; the top-N is a TakeOrdered (per-partition
    partial top + one merge), never a global sort."""
    d = load_table(spark, sf_dir, "documents")
    post = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(th.sp_token_hashes(th.sp_tokens("text")))
            ).alias("t"),
        )
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = d.agg(F.count("*").alias("__n"))
    wdf = (
        post.groupBy("t")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") <= TFIDF_DF_CAP)
        .crossJoin(broadcast(n_docs))
        .select("t", F.expr("__n DIV df").alias("w"))
    )
    kept = post.join(wdf, "t").select(
        "doc_id", "t", "tf", "w", (F.col("tf") * F.col("w")).alias("tw")
    )
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.expr("tw * tw")).alias("n2")
    )
    dots = (
        kept.select(F.col("doc_id").alias("doc_a"), "t", F.col("tw").alias("twa"))
        .join(
            kept.select(
                F.col("doc_id").alias("doc_b"), "t", F.col("tw").alias("twb")
            ),
            "t",
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.expr("twa * twb")).alias("dot"))
    )
    return (
        dots.join(
            norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2")),
            "doc_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2")),
            "doc_b",
        )
        .withColumn(
            "cosine_e4",
            F.expr(
                "CAST(round(dot / sqrt(CAST(na2 AS DOUBLE) *"
                " CAST(nb2 AS DOUBLE)) * 10000, 0) AS BIGINT)"
            ),
        )
        .select("doc_a", "doc_b", "cosine_e4")
        .orderBy(
            F.col("cosine_e4").desc(), F.col("doc_a"), F.col("doc_b")
        )
        .limit(TFIDF_TOP_N)
    )


QUERIES["tfidf_cosine_pairs"] = tfidf_cosine_pairs


def _tfidf_cosine_pairs_oracle() -> str:
    toks = th.dk_token_hashes(th.dk_tokens("text"))
    return f"""
        WITH post AS MATERIALIZED (
            SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM (
                SELECT doc_id, unnest({toks}) AS t FROM documents
            ) GROUP BY doc_id, t
        ), n AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        ), wdf AS MATERIALIZED (
            SELECT t, (SELECT n FROM n) // CAST(count(DISTINCT doc_id)
                       AS BIGINT) AS w
            FROM post GROUP BY t
            HAVING count(DISTINCT doc_id) <= {TFIDF_DF_CAP}
        ), kept AS MATERIALIZED (
            SELECT p.doc_id, p.t, p.tf * w.w AS tw
            FROM post p JOIN wdf w USING (t)
        ), norms AS (
            SELECT doc_id, CAST(sum(tw * tw) AS BIGINT) AS n2
            FROM kept GROUP BY doc_id
        ), dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.tw * b.tw) AS BIGINT) AS dot
            FROM kept a JOIN kept b ON a.t = b.t AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(round(dot / sqrt(CAST(na.n2 AS DOUBLE) *
                    CAST(nb.n2 AS DOUBLE)) * 10000, 0) AS BIGINT)
                   AS cosine_e4
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
        ORDER BY cosine_e4 DESC, doc_a, doc_b
        LIMIT {TFIDF_TOP_N}
    """


ORACLES["tfidf_cosine_pairs"] = _tfidf_cosine_pairs_oracle()

# --------------------------------------------------- ks_drift_by_source


def ks_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift monitor: for each source,
    the KS statistic (sup-norm CDF distance, 1e-4 units) between ITS
    doc-length distribution and the REST of the corpus -- the standard
    'did this feed change shape' alarm a curation pipeline runs per
    ingest batch. Output (source, n, ks_e4) ordered by source.

    Integer algebra: at evaluation point x,
    |F_s(x) - F_rest(x)| = |cum_s * (N - n_s) - (cum_g - cum_s) * n_s|
    / (n_s * (N - n_s)) -- numerator and denominator exact BIGINTs, so
    ks_e4 is an integer DIV, no float CDFs to diverge cross-engine.

    Scale shape: ONE grouped count per (source, length) (map-side
    combined), densified over the global value grid (|sources| x
    |distinct lengths| rows -- value-cardinality-bounded, NOT row
    count; bucketize continuous metrics first), then two running sums
    per source. No self-joins, nothing quadratic."""
    d = load_table(spark, sf_dir, "documents")
    sv = d.groupBy("source", F.col("n_chars").alias("x")).agg(
        F.count("*").alias("c")
    )
    vals = sv.select("x").distinct()
    srcs = sv.groupBy("source").agg(F.sum("c").alias("n_s"))
    tot = d.agg(F.count("*").alias("n_g"))
    dense = (
        srcs.crossJoin(vals)
        .join(sv, ["source", "x"], "left")
        .select(
            "source",
            "n_s",
            "x",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    w_s = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gx = (
        d.groupBy(F.col("n_chars").alias("x"))
        .agg(F.count("*").alias("cg"))
        .withColumn(
            "cum_g",
            F.sum("cg").over(
                Window.orderBy("x").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .select("x", "cum_g")
    )
    diffs = (
        dense.withColumn("cum_s", F.sum("c").over(w_s))
        .join(gx, "x")
        .crossJoin(broadcast(tot))
        .withColumn(
            "d_e4",
            F.expr(
                "CAST((10000 * abs(cum_s * (n_g - n_s)"
                " - (cum_g - cum_s) * n_s))"
                " DIV (n_s * (n_g - n_s)) AS BIGINT)"
            ),
        )
    )
    return (
        diffs.groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n"),
            F.max("d_e4").cast("long").alias("ks_e4"),
        )
        .orderBy("source")
    )


QUERIES["ks_drift_by_source"] = ks_drift_by_source

ORACLES["ks_drift_by_source"] = """
    WITH sv AS MATERIALIZED (
        SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY source, n_chars
    ), vals AS (SELECT DISTINCT x FROM sv),
    srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sv GROUP BY source),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_g FROM documents),
    dense AS (
        SELECT s.source, s.n_s, v.x, COALESCE(sv.c, 0) AS c
        FROM srcs s CROSS JOIN vals v
        LEFT JOIN sv ON sv.source = s.source AND sv.x = v.x
    ), gx AS (
        SELECT x, sum(cg) OVER (ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g
        FROM (
            SELECT n_chars AS x, CAST(count(*) AS BIGINT) AS cg
            FROM documents GROUP BY n_chars
        )
    ), diffs AS (
        SELECT source, n_s,
               CAST((10000 * abs(cum_s * (n_g - n_s)
                     - (cum_g - cum_s) * n_s))
                    // (n_s * (n_g - n_s)) AS BIGINT) AS d_e4
        FROM (
            SELECT source, n_s, x, c,
                   sum(c) OVER (PARTITION BY source ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_s
            FROM dense
        ) JOIN gx USING (x) CROSS JOIN tot
    )
    SELECT source, CAST(max(n_s) AS BIGINT) AS n,
           CAST(max(d_e4) AS BIGINT) AS ks_e4
    FROM diffs GROUP BY source ORDER BY source
"""

# --------------------------------------------------- t_closeness_report

#: total-variation thresholds (1e-4 units) for the t-closeness audit.
TCLOSE_GRID_E4 = [2000, 3500, 5000]


def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007), completing the k-anonymity /
    l-diversity privacy trio on the SAME release: QI = (nation, market
    segment), sensitive = the account-balance thousand-bucket. A QI
    group can be k-anonymous AND l-diverse yet still leak when its
    sensitive DISTRIBUTION sits far from the global one; t-closeness
    bounds the total-variation distance. Per t in {TCLOSE_GRID_E4}
    (1e-4 units): groups whose TV distance EXCEEDS t, rows inside
    them, and the half-up row share_e4 -- every grid row present.

    Integer algebra: TV = sum_v |c_gv*N - C_v*n_g| / (2*n_g*N); absent
    values contribute C_v*n_g, folded in closed form as
    sum_present (|c_gv*N - C_v*n_g| - C_v*n_g) + N*n_g, so the
    threshold test 10000*TVnum > t * 2*n_g*N is pure BIGINT (widen to
    DECIMAL(38,0) past N ~ 3e9 rows).

    Scale shape: one (QI, sensitive) grouped count joined to the
    broadcast per-value global counts, collapsed to one row per QI
    group, then the broadcast t grid -- |QI| rows after the first
    aggregate, nothing quadratic."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").alias("v"),
    )
    gv = base.groupBy("c_nationkey", "c_mktsegment", "v").agg(
        F.count("*").alias("c_gv")
    )
    glob = base.groupBy("v").agg(F.count("*").alias("c_v"))
    tot = base.agg(F.count("*").alias("n_rows"))
    # n_g isn't known until the group closes, so two passes over the
    # (tiny) per-(QI, v) frame: close n_g first, then fold the TV
    # numerator with it -- one extra join on |QI x v| rows.
    per_vg = gv.join(
        gv.groupBy("c_nationkey", "c_mktsegment").agg(
            F.sum("c_gv").alias("n_g")
        ),
        ["c_nationkey", "c_mktsegment"],
    )
    tv = (
        per_vg.join(broadcast(glob), "v")
        .crossJoin(broadcast(tot))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.max("n_g").alias("n_g"),
            F.max("n_rows").alias("n_rows"),
            (
                F.sum(
                    F.expr(
                        "abs(c_gv * n_rows - c_v * n_g) - c_v * n_g"
                    )
                )
                + F.max(F.expr("n_rows * n_g"))
            ).alias("tv_num"),
        )
    )
    tg = spark.createDataFrame(
        [(t,) for t in TCLOSE_GRID_E4], "t_e4 int"
    )
    risk = (
        tv.crossJoin(broadcast(tg))
        .where(
            F.expr("10000 * tv_num > CAST(t_e4 AS BIGINT) * 2 * n_g * n_rows")
        )
        .groupBy("t_e4")
        .agg(
            F.count("*").cast("long").alias("n_groups_at_risk"),
            F.sum("n_g").cast("long").alias("n_rows_at_risk"),
        )
    )
    return (
        tg.join(broadcast(risk), "t_e4", "left")
        .crossJoin(broadcast(tv.agg(F.max("n_rows").alias("n_rows"))))
        .select(
            "t_e4",
            F.coalesce("n_groups_at_risk", F.lit(0))
            .cast("long")
            .alias("n_groups_at_risk"),
            F.coalesce("n_rows_at_risk", F.lit(0))
            .cast("long")
            .alias("n_rows_at_risk"),
            F.expr(
                "CAST((2 * 10000 * coalesce(n_rows_at_risk, 0) + n_rows)"
                " DIV (2 * n_rows) AS BIGINT)"
            ).alias("share_e4"),
        )
        .orderBy("t_e4")
    )


QUERIES["t_closeness_report"] = t_closeness_report

ORACLES["t_closeness_report"] = f"""
    WITH base AS MATERIALIZED (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS v
        FROM customer
    ), gv AS MATERIALIZED (
        SELECT c_nationkey, c_mktsegment, v,
               CAST(count(*) AS BIGINT) AS c_gv
        FROM base GROUP BY 1, 2, 3
    ), gvals AS (SELECT v, CAST(count(*) AS BIGINT) AS c_v FROM base GROUP BY v),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM base),
    ng AS (
        SELECT c_nationkey, c_mktsegment, CAST(sum(c_gv) AS BIGINT) AS n_g
        FROM gv GROUP BY 1, 2
    ), tv AS MATERIALIZED (
        SELECT g.c_nationkey, g.c_mktsegment, any_value(ng.n_g) AS n_g,
               any_value(t.n_rows) AS n_rows,
               sum(abs(g.c_gv * t.n_rows - gl.c_v * ng.n_g)
                   - gl.c_v * ng.n_g)
                   + any_value(t.n_rows) * any_value(ng.n_g) AS tv_num
        FROM gv g
        JOIN ng USING (c_nationkey, c_mktsegment)
        JOIN gvals gl USING (v) CROSS JOIN tot t
        GROUP BY 1, 2
    ), tg AS (
        SELECT CAST(unnest([{', '.join(str(t) for t in TCLOSE_GRID_E4)}])
                    AS INTEGER) AS t_e4
    ), risk AS (
        SELECT t_e4, CAST(count(*) AS BIGINT) AS n_groups_at_risk,
               CAST(sum(n_g) AS BIGINT) AS n_rows_at_risk
        FROM tv, tg
        WHERE 10000 * tv_num > CAST(t_e4 AS BIGINT) * 2 * n_g * n_rows
        GROUP BY t_e4
    )
    SELECT tg.t_e4,
           CAST(COALESCE(r.n_groups_at_risk, 0) AS BIGINT)
               AS n_groups_at_risk,
           CAST(COALESCE(r.n_rows_at_risk, 0) AS BIGINT)
               AS n_rows_at_risk,
           CAST((2 * 10000 * COALESCE(r.n_rows_at_risk, 0)
                 + (SELECT n_rows FROM tot))
                // (2 * (SELECT n_rows FROM tot)) AS BIGINT) AS share_e4
    FROM tg LEFT JOIN risk r USING (t_e4) ORDER BY tg.t_e4
"""

# --------------------------------------------------- doc_entropy_quality


def doc_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level Shannon entropy per document (nats, 1e-4 units) --
    the repetition-aware quality signal: boilerplate and
    template-stamped docs carry low entropy relative to their length,
    natural prose sits near ln(n_tokens) for mostly-distinct tokens.
    Output (doc_id, n_tokens, n_types, entropy_e4).

    Float discipline: H = ln(n) - (1/n) * sum_t c_t ln(c_t) from exact
    integer token counts; the sum folds over the SORTED count list via
    a higher-order function, so both engines add the same doubles in
    the same order and the rounded e4 value is bit-identical.

    Scale shape: one tokenize + per-doc count fold -- map-only, no
    shuffle beyond the per-(doc, token) combine; output is one row per
    doc."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(
            "doc_id",
            F.explode(F.expr(th.sp_tokens("text"))).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sort_array(F.collect_list("c")).alias("cs"),
        )
    )
    return counts.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.expr(
            "CAST(round((ln(CAST(n_tokens AS DOUBLE)) - "
            "aggregate(cs, CAST(0.0 AS DOUBLE), (acc, c) -> "
            "acc + c * ln(CAST(c AS DOUBLE))) / n_tokens) * 10000, 0)"
            " AS BIGINT)"
        ).alias("entropy_e4"),
    ).orderBy("doc_id")


QUERIES["doc_entropy_quality"] = doc_entropy_quality


def _doc_entropy_oracle() -> str:
    toks = th.dk_tokens("text")
    return f"""
        WITH counts AS MATERIALIZED (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_types,
                   list_sort(list(c)) AS cs
            FROM (
                SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM (
                    SELECT doc_id, unnest({toks}) AS tok FROM documents
                ) GROUP BY doc_id, tok
            ) GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, n_types,
               CAST(round((ln(CAST(n_tokens AS DOUBLE)) -
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(cs, c ->
                            c * ln(CAST(c AS DOUBLE)))),
                        (acc, x) -> acc + x) / n_tokens) * 10000, 0)
                   AS BIGINT) AS entropy_e4
        FROM counts ORDER BY doc_id
    """


ORACLES["doc_entropy_quality"] = _doc_entropy_oracle()

# --------------------------------------------------- zipf_tail_by_source

#: rank anchors for the tail-slope estimate: slope between the
#: ZIPF_R_LO-th and ZIPF_R_HI-th most frequent term.
ZIPF_R_LO = 3
ZIPF_R_HI = 20


def zipf_tail_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf tail-slope monitor per source: natural text follows
    freq(rank) ~ rank^-s with s near 1; template-stamped or synthetic
    feeds flatten (s -> 0) or cliff. Estimated as the two-anchor slope
    s = -(ln f_hi - ln f_lo) / (ln {ZIPF_R_HI} - ln {ZIPF_R_LO}) --
    anchors instead of a least-squares fit so the ONLY float math is
    one expression over two exact BIGINT frequencies (a cross-engine
    double SUM of logs has engine-dependent addition order; two
    scalars do not). Output (source, n_types, f_lo, f_hi, slope_e4)
    for sources with >= {ZIPF_R_HI} distinct terms.

    Scale shape: one (source, token) grouped count, one row_number
    window per source, two rank anchors kept -- |sources| output rows;
    the window input is type-cardinality-bounded, not corpus-bounded."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "source",
            F.explode(F.expr(th.sp_tokens("text"))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("f"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("f").desc(), F.col("tok").asc()
    )
    ranked = tf.withColumn("rk", F.row_number().over(w))
    types = tf.groupBy("source").agg(
        F.count("*").cast("long").alias("n_types")
    )
    anchors = (
        ranked.where(F.col("rk").isin(ZIPF_R_LO, ZIPF_R_HI))
        .groupBy("source")
        .agg(
            F.max(F.when(F.col("rk") == ZIPF_R_LO, F.col("f"))).alias(
                "f_lo"
            ),
            F.max(F.when(F.col("rk") == ZIPF_R_HI, F.col("f"))).alias(
                "f_hi"
            ),
        )
        .where(F.col("f_hi").isNotNull())
    )
    return (
        anchors.join(types, "source")
        .select(
            "source",
            "n_types",
            F.col("f_lo").cast("long").alias("f_lo"),
            F.col("f_hi").cast("long").alias("f_hi"),
            F.expr(
                "CAST(round((ln(CAST(f_lo AS DOUBLE)) -"
                " ln(CAST(f_hi AS DOUBLE))) /"
                f" (ln({ZIPF_R_HI}.0) - ln({ZIPF_R_LO}.0))"
                " * 10000, 0) AS BIGINT)"
            ).alias("slope_e4"),
        )
        .orderBy("source")
    )


QUERIES["zipf_tail_by_source"] = zipf_tail_by_source


def _zipf_oracle() -> str:
    toks = th.dk_tokens("text")
    return f"""
        WITH tf AS MATERIALIZED (
            SELECT source, tok, CAST(count(*) AS BIGINT) AS f FROM (
                SELECT source, unnest({toks}) AS tok FROM documents
            ) GROUP BY source, tok
        ), ranked AS (
            SELECT source, f,
                   row_number() OVER (PARTITION BY source
                       ORDER BY f DESC, tok ASC) AS rk
            FROM tf
        ), types AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_types
            FROM tf GROUP BY source
        ), anchors AS (
            SELECT source,
                   max(CASE WHEN rk = {ZIPF_R_LO} THEN f END) AS f_lo,
                   max(CASE WHEN rk = {ZIPF_R_HI} THEN f END) AS f_hi
            FROM ranked WHERE rk IN ({ZIPF_R_LO}, {ZIPF_R_HI})
            GROUP BY source
        )
        SELECT a.source, t.n_types,
               CAST(a.f_lo AS BIGINT) AS f_lo,
               CAST(a.f_hi AS BIGINT) AS f_hi,
               CAST(round((ln(CAST(a.f_lo AS DOUBLE)) -
                    ln(CAST(a.f_hi AS DOUBLE))) /
                    (ln({ZIPF_R_HI}.0) - ln({ZIPF_R_LO}.0)) * 10000, 0)
                   AS BIGINT) AS slope_e4
        FROM anchors a JOIN types t USING (source)
        WHERE a.f_hi IS NOT NULL
        ORDER BY a.source
    """


ORACLES["zipf_tail_by_source"] = _zipf_oracle()

# --------------------------------------------------- dup_span_coverage

#: span window (tokens) -- dup_spans' W, reused so the two keys read
#: the same duplication signal.
SPAN_W = 20


def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each source is DUPLICATED TEXT: dup_spans finds the
    shared {SPAN_W}-token spans; this rolls them up to the question a
    curation review actually asks -- per source, what fraction of
    tokens sits inside at least one cross-document duplicated span.
    Overlapping spans are merged per doc (gaps-and-islands interval
    union) so a long verbatim block counts once, not once per stride
    offset. Output (source, n_docs_hit, dup_tokens, total_tokens,
    share_e4).

    Scale shape: span explode -> grouped distinct-doc count on the
    span (hash at 100 TB) -> survivors joined back (only duplicated
    spans travel) -> per-doc interval union via ONE window (sort by
    start, running max of end, island sum) -> per-source rollup.
    Interval math is all BIGINT token positions; no floats until the
    final share fold."""
    d = load_table(spark, sf_dir, "documents")
    t = th.sp_tokens("text")
    spans = (
        f"transform(sequence(0, greatest(size({t}) - {SPAN_W}, 0)), "
        f"i -> named_struct('pos', i, 'span', "
        f"array_join(slice({t}, i + 1, {SPAN_W}), ' ')))"
    )
    ex = (
        d.select(
            "doc_id",
            "source",
            F.explode(F.expr(spans)).alias("s"),
        )
        .select(
            "doc_id", "source", F.col("s.pos").alias("pos"), F.col("s.span").alias("span")
        )
        .where(F.length("span") > 0)
    )
    dup = (
        ex.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("span")
    )
    hits = ex.join(dup, "span").select(
        "doc_id",
        "source",
        F.col("pos").alias("lo"),
        (F.col("pos") + F.lit(SPAN_W - 1)).alias("hi"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("lo")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        hits.withColumn(
            "new_island",
            F.when(
                F.col("lo") > F.coalesce(F.max("hi").over(w), F.lit(-1)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                Window.partitionBy("doc_id")
                .orderBy("lo")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "source", "island")
        .agg((F.max("hi") - F.min("lo") + 1).alias("ilen"))
    )
    per_doc = islands.groupBy("doc_id", "source").agg(
        F.sum("ilen").alias("dup_toks")
    )
    totals = d.select(
        "doc_id", "source", F.expr(f"size({t})").alias("n_toks")
    )
    return (
        totals.join(per_doc.select("doc_id", "dup_toks"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.col("dup_toks")).cast("long").alias("n_docs_hit"),
            F.coalesce(F.sum("dup_toks"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "share_e4",
            F.expr(
                "CAST((2 * 10000 * dup_tokens + total_tokens)"
                " DIV (2 * total_tokens) AS BIGINT)"
            ),
        )
        .orderBy("source")
    )


QUERIES["dup_span_coverage"] = dup_span_coverage


def _dup_span_coverage_oracle() -> str:
    toks = th.dk_tokens("text")
    return f"""
        WITH ex AS MATERIALIZED (
            SELECT doc_id, source, i AS pos,
                   array_to_string(list_slice(tk, i + 1, i + {SPAN_W}), ' ')
                       AS span
            FROM (
                SELECT doc_id, source, {toks} AS tk FROM documents
            ), unnest(range(0, greatest(len(tk) - {SPAN_W}, 0) + 1))
                AS u(i)
            WHERE array_to_string(list_slice(tk, i + 1, i + {SPAN_W}), ' ')
                  <> ''
        ), dup AS MATERIALIZED (
            SELECT span FROM ex GROUP BY span
            HAVING count(DISTINCT doc_id) >= 2
        ), hits AS MATERIALIZED (
            SELECT doc_id, source, pos AS lo,
                   pos + {SPAN_W - 1} AS hi
            FROM ex JOIN dup USING (span)
        ), islands AS (
            SELECT doc_id, source, island,
                   max(hi) - min(lo) + 1 AS ilen
            FROM (
                SELECT doc_id, source, lo, hi,
                       sum(new_island) OVER (PARTITION BY doc_id
                           ORDER BY lo ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
                FROM (
                    SELECT doc_id, source, lo, hi,
                           CASE WHEN lo > COALESCE(max(hi) OVER (
                               PARTITION BY doc_id ORDER BY lo
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), -1)
                           THEN 1 ELSE 0 END AS new_island
                    FROM hits
                )
            ) GROUP BY doc_id, source, island
        ), per_doc AS (
            SELECT doc_id, CAST(sum(ilen) AS BIGINT) AS dup_toks
            FROM islands GROUP BY doc_id
        ), totals AS (
            SELECT doc_id, source,
                   CAST(len({toks}) AS BIGINT) AS n_toks
            FROM documents
        )
        SELECT t.source,
               CAST(count(p.dup_toks) AS BIGINT) AS n_docs_hit,
               CAST(COALESCE(sum(p.dup_toks), 0) AS BIGINT) AS dup_tokens,
               CAST(sum(t.n_toks) AS BIGINT) AS total_tokens,
               CAST((2 * 10000 * COALESCE(sum(p.dup_toks), 0)
                     + sum(t.n_toks)) // (2 * sum(t.n_toks)) AS BIGINT)
                   AS share_e4
        FROM totals t LEFT JOIN per_doc p USING (doc_id)
        GROUP BY t.source ORDER BY t.source
    """


ORACLES["dup_span_coverage"] = _dup_span_coverage_oracle()

# --------------------------------------------------- lang_entropy_by_source


def lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix entropy per source: H(lang | source) in nats (1e-4
    units), the single-number answer to 'is this feed monolingual or a
    mixture' -- 0 for a single language, ln(k) for a uniform k-way mix.
    Pairs with lang_mix_by_source (which lists the shares); this is
    the rollup a mixture dashboard thresholds on. Output (source,
    n_docs, n_langs, h_e4).

    Float discipline: H folds over the SORTED per-language counts via
    a higher-order function (same addition order both engines), one
    final round -- the doc_entropy_quality contract applied at the
    (source, lang) grain.

    Scale shape: one (source, lang) grouped count, collapsed per
    source -- |sources| rows out, map-side combined, no window."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.groupBy("source", "lang")
        .agg(F.count("*").alias("c"))
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_docs"),
            F.count("*").alias("n_langs"),
            F.sort_array(F.collect_list("c")).alias("cs"),
        )
    )
    return counts.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_langs").cast("long").alias("n_langs"),
        F.expr(
            "CAST(round((ln(CAST(n_docs AS DOUBLE)) - "
            "aggregate(cs, CAST(0.0 AS DOUBLE), (acc, c) -> "
            "acc + c * ln(CAST(c AS DOUBLE))) / n_docs) * 10000, 0)"
            " AS BIGINT)"
        ).alias("h_e4"),
    ).orderBy("source")


QUERIES["lang_entropy_by_source"] = lang_entropy_by_source

ORACLES["lang_entropy_by_source"] = """
    WITH counts AS MATERIALIZED (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_langs,
               list_sort(list(c)) AS cs
        FROM (
            SELECT source, lang, CAST(count(*) AS BIGINT) AS c
            FROM documents GROUP BY source, lang
        ) GROUP BY source
    )
    SELECT source, n_docs, n_langs,
           CAST(round((ln(CAST(n_docs AS DOUBLE)) -
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(cs, c -> c * ln(CAST(c AS DOUBLE)))),
                    (acc, x) -> acc + x) / n_docs) * 10000, 0)
               AS BIGINT) AS h_e4
    FROM counts ORDER BY source
"""
