"""LLM-training-data pipeline queries (SURVEY.md §2 C-block).

Dedup / similarity / text-analysis operators exposed through the driver
contract, with DuckDB oracles. Two oracle styles:

- *replicated*: the oracle replays the exact algorithm (minhash seeds,
  hyperplane LSH buckets, simhash math are deterministic constants
  inlined into both engines from functions/texthash.py).
- *semantic*: the oracle computes the ground truth a cheaper way
  (brute-force exact jaccard / hamming pairs); the Spark side uses the
  scalable algorithm (LSH banding, pigeonhole hamming bands) that is
  exact-or-near-exact by construction. dedup_minhash_lsh's miss
  probability at the 0.9 verify threshold is (1-0.9^4)^16 ~ 3e-4 per
  pair; simhash banding is pigeonhole-EXACT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from abr_etl_spark.functions import texthash as th
from abr_etl_spark.operators import dedup, similarity, text
from abr_etl_spark.sources.lake import load_table

JACCARD_TAU = 0.9
COS_TAU = 0.45
ANN_K = 5
N_QUERY_VECS = 10
#: IVF seed-cell rule: every {STRIDE}-th vec_id, CAPPED at {MAX_CELLS}
#: cells. The cap is the scale fix the sf1 rehearsal forced: an
#: uncapped `vec_id % 50 == 0` grows the cell count WITH the corpus,
#: making the assignment pass O(n^2 / 50) -- measured 39.6x wall at
#: 10x data (BENCH_sf1.json, r12). With the cap, assignment is
#: O(n * MAX_CELLS) and per-query candidates are n / MAX_CELLS --
#: both linear. At sf <= 0.1 fewer than MAX_CELLS seeds exist, so
#: every committed result is unchanged. (Production would train
#: ~4*sqrt(n) k-means cells -- ann_ivf_kmeans's path; this rule is the
#: deterministic oracle-replayable stand-in.)
IVF_SEED_STRIDE = 50
IVF_MAX_CELLS = 64
#: shared Spark/DuckDB predicate text selecting the seed centroids.
IVF_SEED_PRED = (
    f"vec_id % {IVF_SEED_STRIDE} = 0"
    f" AND vec_id < {IVF_SEED_STRIDE * IVF_MAX_CELLS}"
)
KMEANS_K = 10
# One Lloyd iteration: measured recall@5 at nprobe=1 on the test corpus is
# 0.86 for iters=1 vs 0.80 for iters=2 (and 0.30 for the raw subset
# quantizer) -- further iterations shrink boundary cells without helping
# single-probe recall, and each iteration costs a full assign+mean pass.
KMEANS_ITERS = 1
EMB_DIM = 64


# ------------------------------------------------------------------ helpers

def _docs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact copies of doc_id < 50 (ids shifted +10000) so
    exact dedup has something to find; the oracle plants identically."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.where(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    return d.unionByName(planted)


_PLANT_CTE = """
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50
    )
"""


# ------------------------------------------------------------------ queries

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over normalized text with planted copies; keep min id."""
    return dedup.dedup_exact(_docs_with_planted_dups(spark, sf_dir))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs via shingle equi-join."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, threshold=JACCARD_TAU)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact Jaccard."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, threshold=JACCARD_TAU)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole hamming bands (exact, d<=3)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, max_hamming=3)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with cosine >= tau."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_dup_pairs(e, threshold=COS_TAU)


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors: broadcast query set, JVM dot products."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERY_VECS)
    return similarity.cosine_topk(e, q, k=ANN_K)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-probe hyperplane-LSH ANN; oracle replays identical buckets."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERY_VECS)
    return similarity.lsh_ann_topk(e, q, k=ANN_K)


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH: query bucket + all hamming-1 buckets. Oracle joins
    on bit_count(xor(buckets)) <= 1 -- the same probe set, derived
    independently."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERY_VECS)
    return similarity.lsh_ann_multiprobe_topk(e, q, k=ANN_K)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic centroids (IVF_SEED_PRED: every 50th
    vec_id, capped at {IVF_MAX_CELLS} cells so the assignment pass
    stays O(n * cells) -- see the constant) so the oracle replays the
    same coarse quantizer."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERY_VECS)
    cent = e.where(F.expr(IVF_SEED_PRED))
    return similarity.ivf_ann_topk(e, q, cent, k=ANN_K)


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with Lloyd k-means centroids (k=KMEANS_K, KMEANS_ITERS
    Lloyd iterations -- 1, per the recall note at the constant --
    deterministic lowest-id init) -- the oracle replays the identical
    iterations in SQL, so the coarse quantizer itself is oracle-checked,
    not just the plan shape."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERY_VECS)
    cent = similarity.kmeans_index(
        spark,
        e,
        KMEANS_K,
        iters=KMEANS_ITERS,
        source_path=f"{sf_dir}/embeddings.parquet",
    ).withColumnRenamed("centroid_id", "vec_id")
    return similarity.ivf_ann_topk(e, q, cent, k=ANN_K)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): k-means
    clusters as the BLOCKING key, exact-cosine near-dup pairs found only
    WITHIN each cluster -- (cell, doc_a, doc_b, cos >= tau). The cluster
    equi-join bounds candidates at sum_c n_c^2/2 (vs the corpus
    quadratic), the same cost argument as LSH banding but with
    semantically-coherent blocks, so the dedup radius follows the data's
    own cluster structure. Cross-cluster pairs are missed BY DESIGN --
    that is SemDeDup's approximation, stated here and in the paper.

    Uses the same deterministic Lloyd k-means the IVF quantizer uses, so
    the oracle replays clustering AND pair generation exactly.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cent = similarity.kmeans_index(
        spark,
        e,
        KMEANS_K,
        iters=KMEANS_ITERS,
        source_path=f"{sf_dir}/embeddings.parquet",
    ).withColumnRenamed("centroid_id", "vec_id")
    assigned = similarity.ivf_assign(e, cent).select(
        F.col("centroid_id").alias("cell"),
        "vec_id",
        "embedding",
        F.expr(th.sp_norm("embedding")).alias("__n"),
    )
    a = assigned.select(
        "cell",
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("va"),
        F.col("__n").alias("__na"),
    )
    b = assigned.select(
        "cell",
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("vb"),
        F.col("__n").alias("__nb"),
    )
    return (
        a.join(b, "cell")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "cos",
            F.round(
                F.expr(th.sp_dot("va", "vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ),
        )
        .where(F.col("cos") >= COS_TAU)
        .select(F.col("cell").cast("long").alias("cell"), "doc_a", "doc_b", "cos")
    )


def jaccard_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, canonical_id) over the tau={JACCARD_TAU}
    verified pair graph, shared by dedup_canonical AND
    dedup_cluster_sizes (llm_pipeline5): pairs come from the
    materialized pair cache, the CC fixpoint runs ONCE per (session,
    sf_dir), and the tiny result is persisted through the cache.py
    registry. The CC loop localCheckpoints per round, so every
    invocation's plan is unique and CacheManager plan dedup cannot
    reuse it; the session memo does."""
    from abr_etl_spark.functions.cache import materialize_result, session_memo
    from abr_etl_spark.operators.graph import canonicalize_pairs

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        pairs = dedup.ngram_jaccard_pairs(d, threshold=JACCARD_TAU)
        return materialize_result(canonicalize_pairs(pairs), family="canon_cc")

    return session_memo(spark, "canon_cc", sf_dir, build)


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup: near-dup pairs -> connected components ->
    (doc_id, canonical_id). Oracle = recursive CTE over the brute-force
    pair graph (independent CC implementation). The fixpoint is
    memoized per (session, sf_dir) -- see jaccard_canonical."""
    return jaccard_canonical(spark, sf_dir)


def q_dedup_canonical_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster-level dedup through the large-star/small-star CC
    (the O(log^2 n) planet-scale algorithm) -- same oracle as
    dedup_canonical, so the driver checks the star contraction itself."""
    from abr_etl_spark.operators.graph import connected_components_star

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, threshold=JACCARD_TAU)
    return connected_components_star(
        pairs, src="doc_a", dst="doc_b"
    ).select(
        F.col("node").alias("doc_id"), F.col("component").alias("canonical_id")
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char/punctuation/stopword statistics per document."""
    return text.text_stats(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with deterministic tie-break."""
    return text.with_language(load_table(spark, sf_dir, "documents"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-scaled composite quality score + keep flag."""
    return text.with_quality(load_table(spark, sf_dir, "documents"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc content fingerprint (oracle-reproducible polyhash)."""
    return text.with_fingerprint(load_table(spark, sf_dir, "documents"))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 50-token chunks with 10-token overlap, one explode."""
    d = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(d, chunk_tokens=50, overlap=10)


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing demo: plant a deterministic email+phone per doc (the
    corpus has none), then redact -- oracle replicates plant+redact."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    planted = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +61 3 9999 00"),
        F.lpad(F.col("doc_id").cast("string"), 2, "0"),
        F.lit(" re: "),
        F.substring("text", 1, 40),
    )
    return d.select(
        "doc_id", text.redact_pii(planted).alias("clean_text")
    )


def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample via key-mod (hash-mod in production;
    mod here so the oracle derives the identical sample)."""
    d = load_table(spark, sf_dir, "documents")
    return d.where(F.col("doc_id") % 10 == 3).select("doc_id", "n_chars")


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup: exact 20-token spans occurring in >= 2
    distinct documents (the span-dedup signal from LM-data-curation
    practice). Explode all spans (stride 1) -> group by span -> distinct
    doc count. At 100 TB the group key is the span hash, not the text."""
    d = load_table(spark, sf_dir, "documents")
    t = th.sp_tokens("text")
    spans = (
        f"transform(sequence(0, greatest(size({t}) - 20, 0)), "
        f"i -> array_join(slice({t}, i + 1, 20), ' '))"
    )
    exploded = d.select(
        "doc_id", F.explode(F.expr(spans)).alias("span")
    ).where(F.length("span") > 0)
    return (
        exploded.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occur"),
        )
        .where(F.col("n_docs") >= 2)
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per source: token explode -> tf per (source,
    term), df per term, idf = ln(n_docs/df); deterministic tie-break."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # small scalar; at scale use a broadcast agg
    toks = d.select(
        "doc_id", "source", F.explode(F.expr(th.sp_tokens("text"))).alias("term")
    )
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df_ = toks.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    scored = tf.join(df_, "term").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("source", "term", "tfidf", "rank")
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: every 10th doc per language
    (row_number within stratum), reproducible across engines."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("doc_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") % 10) == 1)
        .select("doc_id", "lang")
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: documents as opaque bytes + typed metadata
    (the decode path itself is the mapInPandas stub in
    operators/multimodal.py, pytest-covered)."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.ascii(F.substring("text", 1, 1)).alias("header_code"),
        F.lit("text/plain").alias("mime"),
    )


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "dedup_semantic": q_dedup_semantic,
    "dedup_canonical": q_dedup_canonical,
    "dedup_canonical_star": q_dedup_canonical_star,
    "ann_bruteforce": q_ann_bruteforce,
    "ann_lsh": q_ann_lsh,
    "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_kmeans": q_ann_ivf_kmeans,
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "fingerprint": q_fingerprint,
    "multimodal_meta": q_multimodal_meta,
    "chunk_documents": q_chunk_documents,
    "redact_pii": q_redact_pii,
    "sample_deterministic": q_sample_deterministic,
    "dup_spans": q_dup_spans,
    "tfidf_top_terms": q_tfidf_top_terms,
    "sample_stratified": q_sample_stratified,
}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "dedup_ngram_jaccard": ("pairs:n3:t0.9",),
    "dedup_minhash_lsh": ("mh_pairs:n3:t0.9",),
    "dedup_simhash": ("sh_pairs:h3",),
    "dedup_embedding": ("emb_pairs",),
    "dedup_canonical": ("pairs:n3:t0.9", "canon_cc"),
    "dedup_canonical_star": ("pairs:n3:t0.9",),
}


# ------------------------------------------------------------------ oracles

_DK_TOK = th.dk_tokens("text")
_DK_SH = th.dk_shingles("text", 3)

_JACCARD_BRUTE = f"""
    WITH t AS (
        SELECT doc_id, {_DK_SH} AS sh FROM documents
    ), e AS (
        SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM t
    ), common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b,
               count(*) AS c
        FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(c::DOUBLE / (n_a + n_b - c), 4) AS jaccard
    FROM common WHERE c::DOUBLE / (n_a + n_b - c) >= {JACCARD_TAU}
"""

_STOP = {k: "[" + ",".join(f"'{w}'" for w in v) + "]" for k, v in text.STOPWORDS.items()}


def _dk_hits(lang: str) -> str:
    return (
        f"len(list_filter({_DK_TOK}, t -> list_contains({_STOP[lang]}, lower(t))))"
    )


_DK_PUNCT = (
    "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE"
    " / greatest(length(text), 1)"
)
_DK_STOP_EN = (
    f"{_dk_hits('en')}::DOUBLE / greatest(len({_DK_TOK}), 1)"
)
# Integer-scaled quality (see operators/text.quality_score): exact
# arithmetic, no cross-engine rounding knife-edges.
_DK_NPUNCT = "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))"
_DK_QUALITY = (
    f"((4000 * {_dk_hits('en')}) // greatest(len({_DK_TOK}), 1) "
    f"+ least(30 * len({_DK_TOK}), 3000) "
    f"+ 3000 - (3000 * {_DK_NPUNCT}) // greatest(length(text), 1))"
)

_LANGS = list(text.STOPWORDS)
_BEST = "greatest(" + ", ".join(f"h_{g}" for g in _LANGS) + ")"
_LANG_CASE = (
    "CASE WHEN " + _BEST + " = 0 THEN 'unknown' "
    + " ".join(f"WHEN h_{g} = {_BEST} THEN '{g}'" for g in _LANGS)
    + " END"
)

def _dk_kmeans_ctes(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    """DuckDB replay of operators/similarity.kmeans_centroids: lowest-id
    init, per-iteration (argmax-assign -> per-dim mean -> FLOAT cast),
    empty cells keep the previous centroid. The per-dim mean uses the
    SAME exact integer micro-unit math as the Spark side (sum of
    floor(double(val)*1e6 + 0.5) as BIGINT, then one double division) so
    summation order can't diverge. Returns CTEs ending in
    ``cent(centroid_id, c_vec)``."""
    cos = th.dk_cosine("e.embedding", "c.embedding")
    ctes = [
        f"""c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid,
                   embedding
            FROM embeddings ORDER BY vec_id ASC LIMIT {k})"""
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""a{i} AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY round({cos}, 6) DESC, c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN {prev} c
            ) WHERE rn = 1)"""
        )
        ctes.append(
            f"""m{i} AS (
            SELECT cid, t.i AS dim,
                   CAST(sum(CAST(floor(
                       CAST(embedding[t.i + 1] AS DOUBLE) * 1000000 + 0.5
                   ) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0 AS mu
            FROM a{i}, range({EMB_DIM}) t(i)
            GROUP BY cid, t.i)"""
        )
        ctes.append(
            f"""c{i} AS (
            SELECT p.cid, coalesce(n.vec, p.embedding) AS embedding
            FROM {prev} p LEFT JOIN (
                SELECT cid, list(mu::FLOAT ORDER BY dim) AS vec
                FROM m{i} GROUP BY cid
            ) n ON p.cid = n.cid)"""
        )
        prev = f"c{i}"
    ctes.append(
        f"cent AS (SELECT cid AS centroid_id, embedding AS c_vec FROM {prev})"
    )
    return ",\n        ".join(ctes)


ORACLES = {
    "dedup_exact": _PLANT_CTE
    + """
        SELECT min(doc_id) AS kept_id, count(*) AS n_copies
        FROM (SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS n
              FROM all_docs)
        GROUP BY n
    """,
    "dedup_ngram_jaccard": _JACCARD_BRUTE,
    "dedup_minhash_lsh": _JACCARD_BRUTE,
    "dedup_canonical": f"""
        WITH RECURSIVE t AS (
            SELECT doc_id, {_DK_SH} AS sh FROM documents
        ), ex AS (
            SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM t
        ), common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b,
                   count(*) AS c
            FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), pairs AS (
            SELECT doc_a, doc_b FROM common
            WHERE c::DOUBLE / (n_a + n_b - c) >= {JACCARD_TAU}
        ), sym AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ), reach(node, label) AS (
            SELECT a, a FROM sym
            UNION
            SELECT s.a, r.label FROM sym s JOIN reach r ON s.b = r.node
        )
        SELECT node AS doc_id, min(label) AS canonical_id
        FROM reach GROUP BY node
    """,
    "dedup_simhash": f"""
        WITH f AS (
            SELECT doc_id,
                   {th.dk_simhash(th.dk_token_hashes(_DK_TOK))} AS simhash
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM f a JOIN f b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    # Replicated oracle: same banded-LSH candidate rule as the Spark side
    # (two 4-bit bands of the 8-bit hyperplane signature; a candidate pair
    # shares at least one band), then exact cosine verify.
    "dedup_embedding": f"""
        WITH e AS (SELECT vec_id, embedding,
                          {similarity.dk_lsh_bucket('embedding')} AS bucket
                   FROM embeddings)
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               round({th.dk_cosine('a.embedding', 'b.embedding')}, 6) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
         AND ((a.bucket & 15) = (b.bucket & 15)
              OR (a.bucket >> 4) = (b.bucket >> 4))
        WHERE round({th.dk_cosine('a.embedding', 'b.embedding')}, 6) >= {COS_TAU}
    """,
    "ann_bruteforce": f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
                   FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
        c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
        scored AS (
            SELECT query_id, neighbor_id,
                   round({th.dk_cosine('q_vec', 'c_vec')}, 6) AS cos
            FROM c, q WHERE query_id <> neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {ANN_K}
    """,
    "ann_lsh": f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec,
                          {similarity.dk_lsh_bucket('embedding')} AS bucket
                   FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
        c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec,
                     {similarity.dk_lsh_bucket('embedding')} AS bucket
              FROM embeddings),
        scored AS (
            SELECT query_id, neighbor_id,
                   round({th.dk_cosine('q_vec', 'c_vec')}, 6) AS cos
            FROM c JOIN q USING (bucket) WHERE query_id <> neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {ANN_K}
    """,
    "ann_lsh_multiprobe": f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec,
                          {similarity.dk_lsh_bucket('embedding')} AS qb
                   FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
        c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec,
                     {similarity.dk_lsh_bucket('embedding')} AS cb
              FROM embeddings),
        scored AS (
            SELECT query_id, neighbor_id,
                   round({th.dk_cosine('q_vec', 'c_vec')}, 6) AS cos
            FROM c JOIN q ON bit_count(xor(cb::BIGINT, qb::BIGINT)) <= 1
            WHERE query_id <> neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {ANN_K}
    """,
    "ann_ivf": f"""
        WITH cent AS (
            SELECT vec_id AS centroid_id, embedding AS c_vec
            FROM embeddings WHERE {IVF_SEED_PRED}
        ), assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round({th.dk_cosine('e.embedding', 'c.c_vec')}, 6) DESC,
                                    c.centroid_id ASC) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round({th.dk_cosine('q.embedding', 'c.embedding')}, 6) AS cos
            FROM assigned c
            JOIN assigned q USING (centroid_id)
            WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {ANN_K}
    """,
    "ann_ivf_kmeans": f"""
        WITH {_dk_kmeans_ctes()}, assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round({th.dk_cosine('e.embedding', 'c.c_vec')}, 6) DESC,
                                    c.centroid_id ASC) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round({th.dk_cosine('q.embedding', 'c.embedding')}, 6) AS cos
            FROM assigned c
            JOIN assigned q USING (centroid_id)
            WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= {ANN_K}
    """,
    # Replays the identical k-means (same CTEs as ann_ivf_kmeans), then
    # in-cluster pairs with the same rounded cosine.
    "dedup_semantic": f"""
        WITH {_dk_kmeans_ctes()}, assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round({th.dk_cosine('e.embedding', 'c.c_vec')}, 6) DESC,
                                    c.centroid_id ASC) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        )
        SELECT CAST(a.centroid_id AS BIGINT) AS cell,
               a.vec_id AS doc_a, b.vec_id AS doc_b,
               round({th.dk_cosine('a.embedding', 'b.embedding')}, 6) AS cos
        FROM assigned a JOIN assigned b USING (centroid_id)
        WHERE a.vec_id < b.vec_id
          AND round({th.dk_cosine('a.embedding', 'b.embedding')}, 6)
              >= {COS_TAU}
    """,
    "text_stats": f"""
        SELECT doc_id,
               CAST(length(text) AS INTEGER) AS n_chars_actual,
               CAST(len({_DK_TOK}) AS INTEGER) AS n_tokens,
               CAST(len(regexp_extract_all(text, '{text.BPE_REGEX}'))
                    AS INTEGER) AS n_bpe_tokens,
               round({_DK_PUNCT}, 4) AS punct_ratio,
               round({_DK_STOP_EN}, 4) AS stopword_ratio_en
        FROM documents
    """,
    "lang_id": f"""
        SELECT doc_id, {_LANG_CASE} AS lang_pred FROM (
            SELECT doc_id,
                   {", ".join(f"{_dk_hits(g)} AS h_{g}" for g in _LANGS)}
            FROM documents
        )
    """,
    "quality_score": f"""
        SELECT doc_id,
               {_DK_QUALITY} AS quality,
               CASE WHEN {_DK_QUALITY} >= 5000 THEN 1 ELSE 0 END AS keep
        FROM documents
    """,
    "fingerprint": f"""
        SELECT doc_id, {th.dk_polyhash('text')} AS fingerprint FROM documents
    """,
    "chunk_documents": f"""
        WITH t AS (
            SELECT doc_id, {_DK_TOK} AS tok FROM documents
        ), c AS (
            SELECT doc_id, u.i,
                   array_to_string(list_slice(tok, u.i + 1, u.i + 50), ' ') AS chunk_text
            FROM t, UNNEST(range(0, greatest(len(tok) - 1, 0) + 1, 40)) AS u(i)
        )
        SELECT doc_id, CAST(i // 40 AS INTEGER) AS chunk_idx, chunk_text,
               CAST(len(regexp_split_to_array(trim(chunk_text), '\\s+'))
                    AS INTEGER) AS n_tokens
        FROM c WHERE chunk_text <> ''
    """,
    "redact_pii": """
        SELECT doc_id,
               regexp_replace(regexp_replace(
                   'contact user' || doc_id || '@example.com or +61 3 9999 00'
                       || lpad(CAST(doc_id AS VARCHAR), 2, '0') || ' re: '
                       || substr(text, 1, 40),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                   '\\+?[0-9][0-9()\\-\\s]{7,}[0-9]', '<PHONE>', 'g') AS clean_text
        FROM documents WHERE doc_id < 100
    """,
    "sample_deterministic": """
        SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 = 3
    """,
    "dup_spans": f"""
        WITH t AS (SELECT doc_id, {_DK_TOK} AS tok FROM documents),
        spans AS (
            SELECT doc_id,
                   array_to_string(list_slice(tok, u.i + 1, u.i + 20), ' ') AS span
            FROM t, UNNEST(range(0, greatest(len(tok) - 20, 0) + 1)) AS u(i)
        )
        SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occur
        FROM spans WHERE length(span) > 0
        GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    """,
    "tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id, source, unnest({_DK_TOK}) AS term FROM documents
        ), tf AS (
            SELECT source, term, count(*) AS tf FROM toks GROUP BY source, term
        ), df AS (
            SELECT term, count(*) AS df FROM (
                SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
        ), scored AS (
            SELECT source, term,
                   round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df), 4)
                       AS tfidf
            FROM tf JOIN df USING (term)
        )
        SELECT source, term, tfidf, CAST(rank AS INTEGER) AS rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY tfidf DESC, term ASC) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
    "sample_stratified": """
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang, row_number() OVER (
                PARTITION BY lang ORDER BY doc_id ASC) AS rn
            FROM documents
        ) WHERE rn % 10 = 1
    """,
    "multimodal_meta": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
               unicode(substr(text, 1, 1)) AS header_code,
               'text/plain' AS mime
        FROM documents
    """,
}

# The star-contraction variant must produce the identical canonical
# mapping; reuse the same independent recursive-CTE ground truth.
ORACLES["dedup_canonical_star"] = ORACLES["dedup_canonical"]
