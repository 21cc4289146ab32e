"""LLM-training-data pipeline, part 6 (round 8).

- ``simpson_diversity``: per-document lexical diversity as the
  Gini-Simpson index 1 - sum(p_i^2) -- the libm-free stand-in for
  token entropy (exact rational in 1e-6 units, so both engines agree
  bit-for-bit where a log-based entropy could drift in the last ulp).
  The repetition/diversity axis of quality filtering.
- ``source_divergence_tv``: per-source unigram distribution drift vs
  the whole corpus as TOTAL-VARIATION distance -- the corpus-mix
  monitoring metric (KL needs log; TV is exact integer arithmetic and
  bounds KL via Pinsker). Absent-token mass is folded in arithmetically
  (t * (T - sum of present corpus counts)), so no vocab x source join.
- ``recall_at_k_eval``: the ANN evaluation harness -- recall@k of the
  LSH index against the brute-force ground truth, per probe. The
  eval-loop query every index deployment runs before trusting a
  sketch; both sides are the engine's own ann operators, and the
  oracle recomputes both pipelines independently.
- ``term_lift_topk``: collocation discovery by lift (the libm-free,
  rank-identical PMI surrogate) over a broadcast head vocabulary.
- ``embedding_outlier_report``: bottom-k cosine-to-centroid vectors --
  the embedding-space curation filter.
- ``multimodal_content_address``: md5-at-the-scan content manifest for
  binary payloads + per-content copy counts (exact media dedup).
- ``lang_id_confusion``: confusion matrix of the language-ID heuristic
  vs ground truth (the recall_at_k_eval pattern for the text stack).
- ``dedup_threshold_sweep``: verified-pair census per similarity
  bucket from one low-floor pair build -- the tau-tuning report.

Reference parity: the reference (abr-etl, Go) has no corpus tooling;
these extend SURVEY.md §2.C.

Scale notes: diversity and divergence collapse token streams map-side
into (doc, token) / (source, token) count tables -- one narrow shuffle
each, bounded second aggregates; the recall harness reuses the ANN
operators' broadcast-query shapes (probe side is a literal handful of
vectors) and joins two k-row-per-probe frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from abr_etl_spark.functions import texthash as th
from abr_etl_spark.plans.llm_pipeline import (
    ANN_K,
    N_QUERY_VECS,
    ORACLES as _LP1_ORACLES,
)
from abr_etl_spark.sources.lake import load_table


def _simpson_e6_sql(*, engine: str) -> str:
    """Half-up 1e6-unit Gini-Simpson over columns (n_tokens, s2) --
    one formula text for both engines (the _bm25_term_sql discipline):
    the SPARK side carries n^2 and the 1e6 numerator in DECIMAL(38,0)
    so billion-token docs can't wrap int64 (DIV lands back in BIGINT);
    the DuckDB oracle keeps plain BIGINT -- it only replays small-sf
    data and raises (not wraps) on overflow. Bit-identical wherever
    both are in range; boundary pytest in tests/test_int_headroom.py.
    """
    if engine == "spark":
        div, nt = " DIV ", "CAST(n_tokens AS DECIMAL(38,0))"
    else:
        div, nt = " // ", "n_tokens"
    nt2 = f"({nt} * n_tokens)"
    return (
        f"((2 * (1000000 * ({nt2} - s2)) + {nt2})"
        f"{div}(2 * {nt2}))"
    )


def simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gini-Simpson token diversity: (doc_id, n_tokens,
    n_distinct, simpson_e6) with

        simpson_e6 = 1e6 * (1 - sum c_i^2 / n^2)   [half-up integer]

    0 for a one-token-type doc, -> 1 for all-distinct. Exact rational;
    the squares and the 1e6 numerator ride DECIMAL(38,0) on the Spark
    side (_simpson_e6_sql) so arbitrarily long docs can't wrap.

    Scale shape: tokens collapse map-side into per-(doc, token) counts
    (one shuffle), then one doc-keyed aggregate -- the same two-level
    shape as every token statistic here; nothing is O(vocab x docs).
    """
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(
            "doc_id", F.explode(F.expr(th.sp_tokens("text"))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            # c widened BEFORE the square: a one-type billion-token doc
            # has c^2 ~ 1e18 at the int64 edge already
            F.sum(
                F.col("c").cast("decimal(38,0)") * F.col("c")
            ).alias("s2"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.expr(_simpson_e6_sql(engine="spark")).alias("simpson_e6"),
        )
        .orderBy("doc_id")
    )


def source_divergence_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram drift vs the corpus: (source, n_tokens,
    tv_e6) where TV = 0.5 * sum_i |p_i - q_i| over the UNION vocabulary
    (p = source distribution, q = corpus), in half-up 1e-6 units:

        tv_e6 = 1e6 * sum_i |c_i*T - C_i*t| / (2*t*T)

    Tokens absent from a source contribute C_i*t each; their total is
    folded in arithmetically as t * (T - sum of present-token corpus
    counts) -- an identity, not an approximation -- so the plan never
    builds the vocab x source cross product.

    Scale shape: one (source, token) count shuffle; corpus totals per
    token come from a window over the SAME token key; per-source
    reduction is bounded by source count. The c_i*T / C_i*t products
    and the final 1e6 numerator ride DECIMAL(38,0) on the Spark side
    (_tv_e6_sql, the bm25 discipline) so 100 TB token totals can't
    wrap int64.
    """
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select(
            "source", F.explode(F.expr(th.sp_tokens("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    # src_t / corpus_t, not t / T: Spark resolves column names
    # case-insensitively, so t and T would be ambiguous after the join
    tagged = st.withColumn(
        "ct", F.sum("c").over(Window.partitionBy("tok"))
    ).withColumn("src_t", F.sum("c").over(Window.partitionBy("source")))
    tot = st.agg(F.sum("c").alias("corpus_t"))
    dev = (
        tagged.crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.first("src_t").alias("src_t"),
            F.first("corpus_t").alias("corpus_t"),
            # widened BEFORE the cross-products: c*T and C*t both reach
            # ~1e19 at 100 TB token totals
            F.sum(
                F.abs(
                    F.col("c").cast("decimal(38,0)") * F.col("corpus_t")
                    - F.col("ct").cast("decimal(38,0)") * F.col("src_t")
                )
            ).alias("present_dev"),
            F.sum(F.col("ct")).alias("present_ct"),
        )
    )
    return dev.select(
        "source",
        F.col("src_t").alias("n_tokens"),
        F.expr(_tv_e6_sql(engine="spark")).alias("tv_e6"),
    ).orderBy("source")


def _tv_e6_sql(*, engine: str) -> str:
    """Half-up 1e6-unit total-variation over columns (present_dev,
    src_t, corpus_t, present_ct) -- one formula text for both engines;
    the SPARK side widens the src_t products to DECIMAL(38,0) (bm25
    discipline; DIV lands back in BIGINT), the DuckDB oracle keeps
    BIGINT and fails loudly past range. Boundary pytest in
    tests/test_int_headroom.py."""
    if engine == "spark":
        div, st = " DIV ", "CAST(src_t AS DECIMAL(38,0))"
    else:
        div, st = " // ", "src_t"
    den = f"(2 * {st} * corpus_t)"
    return (
        f"((2 * (1000000 * (present_dev + {st} * (corpus_t"
        f" - present_ct))) + {den}){div}(2 * {den}))"
    )


def recall_at_k_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index evaluation: recall@{ANN_K} of the single-probe LSH
    index vs brute-force cosine ground truth, per probe vector:
    (query_id, n_true, n_ann, n_common, recall_e4). The harness an
    index rollout gates on -- and because both rankings and the recall
    arithmetic are deterministic, the whole EVALUATION replays
    bit-for-bit cross-engine (try that with a random-projection
    library index).

    Scale shape: both ANN operators broadcast the literal probe set and
    stream the corpus once each (their own audited shapes); the eval
    joins two <= k-rows-per-probe frames and aggregates per probe.
    """
    from abr_etl_spark.operators import similarity

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERY_VECS)
    bf = similarity.cosine_topk(e, q, k=ANN_K).select(
        "query_id", "neighbor_id"
    )
    lsh = similarity.lsh_ann_topk(e, q, k=ANN_K).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor")
    )
    common = (
        bf.join(
            lsh,
            (bf.query_id == lsh.query_id)
            & (bf.neighbor_id == lsh.ann_neighbor),
        )
        .groupBy(bf.query_id)
        .agg(F.count("*").alias("n_common"))
    )
    n_true = bf.groupBy("query_id").agg(F.count("*").alias("n_true"))
    n_ann = lsh.groupBy("query_id").agg(F.count("*").alias("n_ann"))
    return (
        n_true.join(n_ann, "query_id", "left")
        .join(common, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            F.coalesce("n_ann", F.lit(0)).alias("n_ann"),
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.expr(
                "(2 * 10000 * coalesce(n_common, 0) + n_true)"
                " DIV (2 * n_true)"
            ).alias("recall_e4"),
        )
        .orderBy("query_id")
    )


#: outlier report depth.
OUTLIER_K = 20


def embedding_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outliers for corpus curation: the {OUTLIER_K}
    vectors LEAST aligned with the corpus centroid -- (vec_id,
    cos_centroid), ascending. Corrupted/anomalous documents sit far
    from the bulk direction; this is the embedding-side quality filter
    (the geometric sibling of quality_score's lexical heuristics).

    Exactness: embeddings quantize to 1e-4 integers; the centroid
    direction is the exact integer SUM vector (cosine is
    scale-invariant, so cos(v, sum) == cos(v, mean) with zero division
    noise); the cosine itself is the shared sequential-order double
    expression (sp_cosine/dk_cosine) -- bit-identical cross-engine.

    Scale shape: per-dim sums collapse map-side (64 cells, one
    exchange); the 1-row centroid array broadcasts; scoring is one
    map-side expression per vector and the report is
    TakeOrderedAndProject.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "cast(floor(cast(x as double) * 10000 + 0.5) as bigint))"
        ).alias("q"),
    )
    s = (
        q.select(F.posexplode("q").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("s"))
    )
    cent = s.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, s))), x -> x.s)"
        ).alias("cent")
    )
    return (
        q.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            F.round(F.expr(th.sp_cosine("q", "cent")), 6).alias(
                "cos_centroid"
            ),
        )
        .orderBy(F.col("cos_centroid").asc(), F.col("vec_id").asc())
        .limit(OUTLIER_K)
    )


#: co-occurrence lift: vocabulary cap, min pair support, report depth.
LIFT_VOCAB = 30
LIFT_MIN_SUPPORT = 5
LIFT_TOP = 20


def _lift_e4_sql(*, engine: str) -> str:
    """Half-up 1e4-unit lift over columns (n_ab, N, df_a, df_b) -- one
    formula text for both engines; the SPARK side widens n_ab*N and
    df_a*df_b to DECIMAL(38,0) (bm25 discipline; DIV lands back in
    BIGINT), the DuckDB oracle keeps BIGINT and fails loudly past
    range. Boundary pytest in tests/test_int_headroom.py."""
    if engine == "spark":
        div = " DIV "
        nab, dfa = "CAST(n_ab AS DECIMAL(38,0))", "CAST(df_a AS DECIMAL(38,0))"
    else:
        div, nab, dfa = " // ", "n_ab", "df_a"
    den = f"({dfa} * df_b)"
    return f"((2 * 10000 * {nab} * N + {den}){div}(2 * {den}))"


def term_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LIFT_TOP} co-occurring term pairs by LIFT over the
    {LIFT_VOCAB}-term head vocabulary: (term_a, term_b, n_ab, lift_e4)
    with lift = P(a,b)/(P(a)P(b)) = n_ab*N / (df_a*df_b) in half-up
    1e-4 units -- the libm-free PMI surrogate (PMI = log lift, so lift
    ranks identically) behind collocation discovery and topic seeding.
    Pairs need support >= {LIFT_MIN_SUPPORT}; ordering (lift desc,
    pair asc) is fully deterministic.

    Scale shape: the vocabulary is a TakeOrdered({LIFT_VOCAB}) head
    broadcast to the (doc, term) stream, so the within-doc self-join
    fans out at most C({LIFT_VOCAB},2) pairs per doc -- bounded by the
    vocab, not the corpus; pair counts collapse map-side. The n_ab*N
    and df_a*df_b products ride DECIMAL(38,0) on the Spark side
    (_lift_e4_sql, the bm25 discipline) so billion-doc corpora can't
    wrap int64.
    """
    d = load_table(spark, sf_dir, "documents")
    doc_tok = (
        d.select(
            "doc_id", F.explode(F.expr(th.sp_tokens("text"))).alias("tok")
        )
        .select("doc_id", F.lower("tok").alias("term"))
        .distinct()
    )
    n_docs = d.agg(F.count("*").alias("N"))
    vocab = (
        doc_tok.groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(LIFT_VOCAB)
    )
    dv = doc_tok.join(F.broadcast(vocab), "term")
    a = dv.select(
        "doc_id", F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    b = dv.select(
        "doc_id", F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(
            F.count("*").alias("n_ab"),
            F.first("df_a").alias("df_a"),
            F.first("df_b").alias("df_b"),
        )
        .where(F.col("n_ab") >= LIFT_MIN_SUPPORT)
        .crossJoin(F.broadcast(n_docs))
    )
    return (
        pairs.select(
            "term_a",
            "term_b",
            "n_ab",
            F.expr(_lift_e4_sql(engine="spark")).alias("lift_e4"),
        )
        .orderBy(
            F.col("lift_e4").desc(),
            F.col("term_a").asc(),
            F.col("term_b").asc(),
        )
        .limit(LIFT_TOP)
    )


def multimodal_content_address(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed manifest of binary payloads: (doc_id,
    payload_md5, n_bytes, n_copies) -- every payload keyed by the MD5
    of its bytes, with the per-content copy count. THE dedup primitive
    for opaque media columns (for images/audio the same plumbing hashes
    the decoded canonical bytes; here the payload is the utf-8 text
    bytes, so the result is oracle-checkable end-to-end). Exact
    byte-level dedup, storage dedup ratios, and cache keys all read
    from this manifest.

    Scale shape: the hash evaluates AT THE SCAN (bytes never shuffle --
    the exchange carries 16-byte digests); one hash-keyed window for
    the copy count. md5 is content-defined, so the manifest is
    partition- and cluster-layout-independent.
    """
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    hashed = d.select(
        "doc_id",
        F.md5(payload).alias("payload_md5"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )
    w = Window.partitionBy("payload_md5")
    return (
        hashed.withColumn("n_copies", F.count("*").over(w))
        .orderBy("doc_id")
    )


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval harness for the language-ID heuristic: the
    confusion matrix of lang_id's prediction against the dataset's
    ground-truth ``lang`` column -- (lang_true, lang_pred, n), plus the
    per-true-language total so precision/recall fall out by division.
    The recall_at_k_eval pattern applied to the text stack: a filter
    you can't audit is a filter you can't trust.

    Scale shape: the heuristic evaluates map-side at the scan (the
    lang_id expression); the confusion matrix is ONE aggregate to
    (|langs|^2) cells.
    """
    from abr_etl_spark.operators import text as text_ops

    d = load_table(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("lang_true"),
        text_ops.lang_id("text").alias("lang_pred"),
    )
    cells = pred.groupBy("lang_true", "lang_pred").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("lang_true")
    return (
        cells.withColumn("n_true_total", F.sum("n").over(w))
        .orderBy("lang_true", "lang_pred")
    )


#: sweep floor: pairs verified once at this tau, bucketed upward.
SWEEP_TAU = 0.05


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning report for the Jaccard dedup family: verified
    pair counts per similarity bucket, from ONE pair computation at the
    {SWEEP_TAU} floor -- (tau_bucket_e1, n_pairs, n_pairs_at_or_above).
    ``tau_bucket_e1`` = floor(jaccard*10) (so 5 means [0.5, 0.6));
    the low floor keeps the far tail visible (the generated corpus is
    bimodal: shared-template pairs near 0 and planted near-dups at 0.9+);
    ``n_pairs_at_or_above`` is the running total from the top -- the
    number of pairs a dedup run at that threshold would collapse. THE
    report an operator reads before committing a tau: the r7 census
    keys show what tau=0.9 does; this shows every alternative at once.

    Scale shape: one pair build at the sweep floor (the same df-capped
    PPJoin machinery, its own materialized cache entry); the census is
    a ~5-row aggregate plus a window over those buckets.
    """
    from abr_etl_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, threshold=SWEEP_TAU)
    buckets = (
        pairs.select(
            F.floor(F.col("jaccard") * 10).cast("long").alias("tau_bucket_e1")
        )
        .groupBy("tau_bucket_e1")
        .agg(F.count("*").alias("n_pairs"))
    )
    # single-partition window is BOUNDED: input is the tau-bucket
    # census (<= 10 rows by construction), never pair-scale
    w = Window.orderBy(F.col("tau_bucket_e1").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        buckets.withColumn(
            "n_pairs_at_or_above", F.sum("n_pairs").over(w)
        )
        .orderBy("tau_bucket_e1")
    )


QUERIES = {
    "simpson_diversity": simpson_diversity,
    "term_lift_topk": term_lift_topk,
    "multimodal_content_address": multimodal_content_address,
    "lang_id_confusion": lang_id_confusion,
    "dedup_threshold_sweep": dedup_threshold_sweep,
    "source_divergence_tv": source_divergence_tv,
    "recall_at_k_eval": recall_at_k_eval,
    "embedding_outlier_report": embedding_outlier_report,
}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "dedup_threshold_sweep": ("pairs:n3:t0.05",),
}

_DK_TOK = th.dk_tokens("text")

ORACLES = {
    "simpson_diversity": f"""
        WITH counts AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest({_DK_TOK}) AS tok
                  FROM documents)
            GROUP BY doc_id, tok
        ), agg AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(sum(c * c) AS BIGINT) AS s2
            FROM counts GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, n_distinct,
               CAST({_simpson_e6_sql(engine="duckdb")} AS BIGINT)
                   AS simpson_e6
        FROM agg ORDER BY doc_id
    """,
    "source_divergence_tv": f"""
        WITH st AS (
            SELECT source, tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT source, unnest({_DK_TOK}) AS tok
                  FROM documents)
            GROUP BY source, tok
        ), tagged AS (
            SELECT source, tok, c,
                   CAST(sum(c) OVER (PARTITION BY tok) AS BIGINT) AS ct,
                   CAST(sum(c) OVER (PARTITION BY source) AS BIGINT)
                       AS src_t
            FROM st
        ), tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS corpus_t FROM st
        ), dev AS (
            SELECT source,
                   CAST(any_value(src_t) AS BIGINT) AS src_t,
                   CAST(any_value(tot.corpus_t) AS BIGINT) AS corpus_t,
                   CAST(sum(abs(c * tot.corpus_t - ct * src_t))
                        AS BIGINT) AS present_dev,
                   CAST(sum(ct) AS BIGINT) AS present_ct
            FROM tagged, tot
            GROUP BY source
        )
        SELECT source, src_t AS n_tokens,
               CAST({_tv_e6_sql(engine="duckdb")} AS BIGINT)
                   AS tv_e6
        FROM dev ORDER BY source
    """,
}

_DK_SH = th.dk_shingles("text", 3)

ORACLES["dedup_threshold_sweep"] = f"""
    WITH t AS (
        SELECT doc_id, {_DK_SH} AS sh FROM documents
    ), ex AS (
        SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM t
    ), common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b,
               count(*) AS c
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pr AS (
        SELECT round(c::DOUBLE / (n_a + n_b - c), 4) AS j
        FROM common
        WHERE c::DOUBLE / (n_a + n_b - c) >= {SWEEP_TAU}
    ), b AS (
        SELECT CAST(floor(j * 10) AS BIGINT) AS tau_bucket_e1,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pr GROUP BY 1
    )
    SELECT tau_bucket_e1, n_pairs,
           CAST(sum(n_pairs) OVER (
               ORDER BY tau_bucket_e1 DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_pairs_at_or_above
    FROM b ORDER BY tau_bucket_e1
"""


def _lang_confusion_oracle() -> str:
    from abr_etl_spark.plans.llm_pipeline import _dk_hits, _LANG_CASE, _LANGS

    hits = ", ".join(f"{_dk_hits(g)} AS h_{g}" for g in _LANGS)
    return f"""
        WITH p AS (
            SELECT lang AS lang_true, {_LANG_CASE} AS lang_pred FROM (
                SELECT lang, {hits} FROM documents
            )
        ), cells AS (
            SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
            FROM p GROUP BY 1, 2
        )
        SELECT lang_true, lang_pred, n,
               CAST(sum(n) OVER (PARTITION BY lang_true) AS BIGINT)
                   AS n_true_total
        FROM cells ORDER BY lang_true, lang_pred
    """


ORACLES["lang_id_confusion"] = _lang_confusion_oracle()

ORACLES["multimodal_content_address"] = """
    WITH h AS (
        -- DuckDB md5() takes VARCHAR (strings are utf-8, so this IS the
        -- digest of the same bytes Spark hashes via encode(text, 'utf-8'))
        SELECT doc_id, md5(text) AS payload_md5,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    )
    SELECT doc_id, payload_md5, CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(count(*) OVER (PARTITION BY payload_md5) AS BIGINT)
               AS n_copies
    FROM h ORDER BY doc_id
"""

ORACLES["term_lift_topk"] = f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, lower(tok) AS term
        FROM (SELECT doc_id, unnest({_DK_TOK}) AS tok FROM documents)
    ), nd AS (
        SELECT CAST(count(*) AS BIGINT) AS N FROM documents
    ), vocab AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM dt GROUP BY term
        ORDER BY df DESC, term ASC LIMIT {LIFT_VOCAB}
    ), dv AS (
        SELECT dt.doc_id, dt.term, vocab.df
        FROM dt JOIN vocab USING (term)
    ), pairs AS (
        SELECT a.term AS term_a, b.term AS term_b,
               CAST(count(*) AS BIGINT) AS n_ab,
               CAST(any_value(a.df) AS BIGINT) AS df_a,
               CAST(any_value(b.df) AS BIGINT) AS df_b
        FROM dv a JOIN dv b ON a.doc_id = b.doc_id
         AND a.term < b.term
        GROUP BY a.term, b.term
        HAVING count(*) >= {LIFT_MIN_SUPPORT}
    )
    SELECT term_a, term_b, n_ab,
           CAST({_lift_e4_sql(engine="duckdb")} AS BIGINT) AS lift_e4
    FROM (SELECT pairs.*, nd.N AS N FROM pairs, nd)
    ORDER BY lift_e4 DESC, term_a ASC, term_b ASC
    LIMIT {LIFT_TOP}
"""

ORACLES["embedding_outlier_report"] = f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 10000
                                              + 0.5) AS BIGINT)) AS q
        FROM embeddings
    ), sdim AS MATERIALIZED (
        SELECT i, CAST(sum(q[i + 1]) AS BIGINT) AS s
        FROM q, generate_series(0, 63) g(i) GROUP BY i
    ), cent AS MATERIALIZED (
        SELECT list_transform(list_sort(list(struct_pack(i := i,
                   s := s))), x -> x['s']) AS cent
        FROM sdim
    )
    SELECT vec_id, round({th.dk_cosine('q', 'cent')}, 6)
               AS cos_centroid
    FROM q, cent
    ORDER BY cos_centroid ASC, vec_id ASC LIMIT {OUTLIER_K}
"""

ORACLES["recall_at_k_eval"] = f"""
    WITH bf AS ({_LP1_ORACLES["ann_bruteforce"]}),
    lsh AS ({_LP1_ORACLES["ann_lsh"]}),
    common AS (
        SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_common
        FROM bf JOIN lsh ON bf.query_id = lsh.query_id
         AND bf.neighbor_id = lsh.neighbor_id
        GROUP BY bf.query_id
    ), nt AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_true
        FROM bf GROUP BY query_id
    ), na AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_ann
        FROM lsh GROUP BY query_id
    )
    SELECT nt.query_id, nt.n_true,
           CAST(coalesce(na.n_ann, 0) AS BIGINT) AS n_ann,
           CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
           CAST((2 * 10000 * coalesce(c.n_common, 0) + nt.n_true)
                // (2 * nt.n_true) AS BIGINT) AS recall_e4
    FROM nt
    LEFT JOIN na ON na.query_id = nt.query_id
    LEFT JOIN common c ON c.query_id = nt.query_id
    ORDER BY nt.query_id
"""
