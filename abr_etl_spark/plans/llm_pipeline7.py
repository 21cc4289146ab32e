"""LLM-training-data pipeline, part 7 (round 9): index- and
dedup-family tuning harnesses.

- ``ann_nprobe_sweep``: the multiprobe-LSH cost/recall curve measured
  IN-ENGINE -- micro-averaged recall@k vs brute-force truth at probe
  radius 0 (single-probe), 1 (classic multiprobe) and 2, with the
  probe-bucket count per radius. The tuning loop every ANN deployment
  runs before picking nprobe; recall_at_k_eval (llm_pipeline6) grades
  ONE configuration per probe, this grades the knob itself.
- ``bpe_encode_corpus``: the encode side of the BPE loop -- apply the
  learned merges corpus-wide and report per-source compression (a
  tokenizer trainer that never measures corpus compression is half a
  tokenizer).
- ``simhash_recall_by_tau``: recall of the SimHash family against the
  exact-Jaccard truth per similarity bucket -- which tau regimes the
  48-bit hamming<=3 sketch actually covers. dedup_family_agreement
  counts the disagreement cells; this key turns them into the
  per-threshold recall curve an operator reads before trusting SimHash
  alone at a given tau.
- ``source_embedding_drift``: per-source centroid cosine vs the corpus
  centroid -- the embedding-space sibling of source_divergence_tv.
- ``dup_inflation_report``: per-source token mass surviving canonical
  dedup (the factor a raw token budget overstates by), off the
  memoized CC fixpoint.

Reference parity: the reference (abr-etl, Go) has no corpus tooling;
these extend SURVEY.md §2.C's evaluation harnesses.

Scale notes: the sweep reuses the audited multiprobe shape (literal
mask list exploded on the broadcast QUERY side -- the corpus streams
once per radius through an equi-join, never a cross join); the recall
curve reuses BOTH materialized pair caches (the sweep-floor Jaccard
pairs and the SimHash band pairs), so its own cost is a pair-graph-
cardinality join plus a <= 10-row census.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from abr_etl_spark.functions import texthash as th
from abr_etl_spark.operators import dedup, similarity
from abr_etl_spark.plans.llm_pipeline import (
    ANN_K,
    N_QUERY_VECS,
    ORACLES as _LP1_ORACLES,
    jaccard_canonical,
)
from abr_etl_spark.plans.llm_pipeline5 import BPE_MERGES, bpe_learn_merges
from abr_etl_spark.plans.llm_pipeline6 import SWEEP_TAU
from abr_etl_spark.sources.lake import load_table

#: probe radii swept (hamming distance of probed buckets from the
#: query's own); bucket counts are sum of C(bits, 0..r) = 1, 9, 37 at
#: bits=8.
SWEEP_RADII = (0, 1, 2)


def ann_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe cost/recall sweep: (radius, n_probe_buckets,
    n_candidates, n_true, n_common, recall_e4), one row per radius in
    {SWEEP_RADII}, recall micro-averaged over the {N_QUERY_VECS} probe
    queries (total common / total true, half-up 1e-4 integer -- exact).
    ``n_candidates`` is the COST axis: distinct (query, neighbor) pairs
    whose exact cosine the index must verify at that radius -- the
    number an operator trades against the recall column when picking
    nprobe.

    Scale shape: the brute-force truth runs ONCE (its own audited
    broadcast-query shape); the banded equi-join streams the corpus
    ONCE at the LARGEST radius, tagging every candidate pair with its
    probe distance rd = popcount(mask) (a pair within radius r is
    exactly a pair with rd <= r, and each pair matches exactly one
    probed bucket), and the tiny scored frame is materialized -- every
    per-radius top-k, recall join and candidate census is then a slice
    of that cache (r16: replaces one multiprobe stream + one bucket
    census stream PER radius -- six corpus streams -- with one; opt
    guide 2.4/5). Per-radius reductions are k*|queries|-row frames.
    """
    from abr_etl_spark.functions.cache import materialize_result

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERY_VECS)
    # the truth subtree appears once per consumer in the ONE final plan;
    # measured A/B rejected materializing it through the result cache
    # (cold 3.6 s -> 10.7 s for no warm gain -- the broadcast-query
    # brute force is cheaper to recompute inside the single job than to
    # persist eagerly), so the plan stays self-contained
    bf = similarity.cosine_topk(e, q, k=ANN_K).select(
        "query_id", "neighbor_id"
    )
    nt = bf.agg(F.count("*").cast("long").alias("n_true"))
    bits = similarity.HYPERPLANE_BITS
    r_max = max(SWEEP_RADII)
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.expr(th.sp_norm("embedding")).alias("__cn"),
        F.expr(similarity.sp_lsh_bucket("embedding", bits)).alias("bucket"),
    )
    mask_structs = ", ".join(
        f"struct({m} as m, {bin(m).count('1')} as rd)"
        for m in similarity.probe_masks(bits, r_max)
    )
    probes = (
        q.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            F.expr(th.sp_norm("embedding")).alias("__qn"),
            F.expr(similarity.sp_lsh_bucket("embedding", bits)).alias(
                "q_bucket"
            ),
        )
        .withColumn("pm", F.explode(F.expr(f"array({mask_structs})")))
        .select(
            "query_id",
            "q_vec",
            "__qn",
            F.expr("cast(q_bucket ^ pm.m as int)").alias("bucket"),
            F.col("pm.rd").alias("rd"),
        )
    )
    # (query, neighbor, cos, rd): cos is the SAME rounded expression
    # lsh_ann_multiprobe_topk scores with, so the per-radius slice +
    # top-k below reproduces its output exactly (pytest-pinned).
    scored = materialize_result(
        c.join(F.broadcast(probes), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                F.expr(th.sp_dot("q_vec", "c_vec"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "cos", "rd"),
        family="ann_sweep",
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    out = None
    for r in SWEEP_RADII:
        sub = scored.where(F.col("rd") <= r)
        ann = (
            sub.withColumn("rank", F.row_number().over(wk))
            .where(F.col("rank") <= ANN_K)
            .select("query_id", "neighbor_id")
        )
        nc = bf.join(ann, ["query_id", "neighbor_id"]).agg(
            F.count("*").cast("long").alias("n_common")
        )
        cand = sub.agg(
            F.count("*").cast("long").alias("n_candidates")
        )
        row = (
            nt.crossJoin(F.broadcast(nc))
            .crossJoin(F.broadcast(cand))
            # empty truth set (no queries / empty corpus): recall is
            # unmeasurable, so the report is EMPTY -- and the guarded
            # division never fires under ANSI mode (edge-pytested)
            .where(F.col("n_true") > 0)
            .select(
                F.lit(r).cast("int").alias("radius"),
                F.lit(
                    len(similarity.probe_masks(bits, r))
                ).cast("int").alias("n_probe_buckets"),
                "n_candidates",
                "n_true",
                "n_common",
                F.expr(
                    "(2 * 10000 * n_common + n_true) DIV (2 * n_true)"
                ).alias("recall_e4"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("radius")


def simhash_recall_by_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-family recall per exact-Jaccard bucket:
    (tau_bucket_e1, n_true, n_found, recall_e4). Truth = verified
    Jaccard pairs at the {SWEEP_TAU} sweep floor, bucketed by
    floor(jaccard*10); found = the 48-bit hamming<=3 SimHash pairs.
    recall_e4 is the half-up 1e-4 fraction of each bucket's pairs the
    sketch family reproduces -- near 0 in the far tail (by design) and
    high in the planted-near-dup band, quantifying where SimHash can
    substitute for shingle-set verification.

    Scale shape: both pair sets come from their MATERIALIZED caches
    (the df-capped PPJoin build and the pigeonhole band join); this key
    adds one pair-cardinality 16-byte left join and a <= 10-row census.
    """
    d = load_table(spark, sf_dir, "documents")
    truth = dedup.ngram_jaccard_pairs(d, threshold=SWEEP_TAU).select(
        "doc_a",
        "doc_b",
        F.floor(F.col("jaccard") * 10).cast("long").alias("tau_bucket_e1"),
    )
    found = dedup.simhash_pairs(d, max_hamming=3).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    return (
        truth.join(found, ["doc_a", "doc_b"], "left")
        .groupBy("tau_bucket_e1")
        .agg(
            F.count("*").alias("n_true"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_found"),
        )
        .select(
            "tau_bucket_e1",
            "n_true",
            "n_found",
            F.expr(
                "(2 * 10000 * n_found + n_true) DIV (2 * n_true)"
            ).alias("recall_e4"),
        )
        .orderBy("tau_bucket_e1")
    )


def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSE the BPE loop: apply the {BPE_MERGES} merges
    bpe_learn_merges induces to the whole corpus and report per-source
    compression -- (source, n_words, chars_before, tokens_after,
    compression_e4). chars_before counts the char-level tokens a
    merge-free encoder would emit; tokens_after counts symbols after
    the learned merges (each surrogate = one token); compression_e4 is
    the half-up 1e-4 ratio. The encode side every tokenizer training
    run ships; learning without measuring corpus-wide compression is
    half a tokenizer.

    Scale shape: the corpus collapses ONCE into the (source, word, n)
    frequency table (one shuffle, vocab-bounded); each merge is a
    1-row broadcast + map-side replace over that bounded table; the
    report is a source-cardinality aggregate. Char sums stay int64 to
    ~9e18 total corpus characters (past any real corpus; the bm25
    DECIMAL swap is the documented relief valve).
    """
    d = load_table(spark, sf_dir, "documents")
    cur = (
        d.select(
            "source", F.explode(F.expr(th.sp_tokens("text"))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count("*").alias("n"))
        .select("source", "w", "n", F.length("w").alias("lw"))
    )
    merges = bpe_learn_merges(spark, sf_dir)
    for t in range(1, BPE_MERGES + 1):
        # agg(first) guarantees EXACTLY one row (NULL merged_pair when
        # the learner ran out of adjacent pairs before step t), so the
        # broadcast-crossJoin can never annihilate the corpus; coalesce
        # makes the missing merge a no-op on both engines.
        mt = merges.where(F.col("step") == t).agg(
            F.first("merged_pair").alias("merged_pair")
        )
        cur = cur.crossJoin(F.broadcast(mt)).select(
            "source",
            F.expr(
                f"coalesce(replace(w, merged_pair, chr({t})), w)"
            ).alias("w"),
            "n",
            "lw",
        )
    return (
        cur.groupBy("source")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.col("lw")).alias("chars_before"),
            F.sum(F.col("n") * F.length("w")).alias("tokens_after"),
        )
        .select(
            "source",
            "n_words",
            "chars_before",
            "tokens_after",
            F.expr(
                "(2 * 10000 * tokens_after + chars_before)"
                " DIV (2 * chars_before)"
            ).alias("compression_e4"),
        )
        .orderBy("source")
    )


def source_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding-centroid drift vs the corpus:
    (source, n_vecs, cos_centroid) -- the embedding-space sibling of
    source_divergence_tv's lexical drift. A source whose centroid
    leaves the corpus direction is the first thing corpus-mix
    monitoring flags (collection regression, template contamination,
    modality drift).

    Exactness: the embedding_outlier_report discipline -- centroids are
    exact integer SUM vectors of the 1e-4-quantized embeddings (cosine
    is scale-invariant, zero division noise), and the cosine is the
    shared sequential-order double text (sp_cosine/dk_cosine),
    bit-identical cross-engine.

    Scale shape: per-(source, dim) sums collapse map-side into
    |sources| x 64 cells before one exchange; the corpus centroid
    reduces from THOSE cells (never a second corpus pass); one 1-row
    broadcast and a |sources|-row report.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "cast(floor(cast(x as double) * 10000 + 0.5) as bigint))"
        ).alias("q"),
    )
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    tagged = e.join(d, "vec_id")
    per_dim = (
        tagged.select("source", F.posexplode("q").alias("i", "v"))
        .groupBy("source", "i")
        .agg(F.sum("v").alias("s"))
    )
    n_vecs = tagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_vecs")
    )
    scent = per_dim.groupBy("source").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, s))), x -> x.s)"
        ).alias("sc")
    )
    cent = (
        per_dim.groupBy("i")
        .agg(F.sum("s").alias("s"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, s))), "
                "x -> x.s)"
            ).alias("cent")
        )
    )
    return (
        scent.join(n_vecs, "source")
        .crossJoin(F.broadcast(cent))
        .select(
            "source",
            "n_vecs",
            F.round(F.expr(th.sp_cosine("sc", "cent")), 6).alias(
                "cos_centroid"
            ),
        )
        .orderBy("source")
    )


def dup_inflation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-dataset-size report: per source, how much of the token
    mass survives canonical dedup -- (source, n_docs, n_kept,
    tokens_total, tokens_kept, inflation_e4) where kept docs are the
    cluster canonicals of the tau={JACCARD_TAU} verified near-dup graph
    (singletons keep themselves) and inflation = total/kept tokens in
    half-up 1e-4 units (10000 = no duplication). THE number a token
    budget is planned against: raw corpus size overstates training
    data by exactly this factor.

    Scale shape: reuses the memoized CC fixpoint (jaccard_canonical);
    token counts are map-side size(tokens); one doc-keyed left join
    against the component table and a source-cardinality aggregate.
    """
    from abr_etl_spark.plans.llm_pipeline import JACCARD_TAU  # noqa: F401

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(f"size({th.sp_tokens('text')})").cast("long").alias("n_tok"),
    )
    canon = jaccard_canonical(spark, sf_dir)
    t = d.join(canon, "doc_id", "left").withColumn(
        "canonical_id", F.coalesce("canonical_id", "doc_id")
    )
    return (
        t.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("doc_id") == F.col("canonical_id"), 1)
                .otherwise(0)
            ).alias("n_kept"),
            F.sum("n_tok").alias("tokens_total"),
            F.sum(
                F.when(
                    F.col("doc_id") == F.col("canonical_id"),
                    F.col("n_tok"),
                ).otherwise(0)
            ).alias("tokens_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "tokens_total",
            "tokens_kept",
            # A source whose kept docs all tokenize to zero tokens
            # (empty/punctuation-only texts) must report NULL, not an
            # ANSI divide-by-zero (mirrored in the DuckDB oracle).
            F.expr(
                "CASE WHEN tokens_kept = 0 THEN NULL"
                " ELSE (2 * 10000 * tokens_total + tokens_kept)"
                " DIV (2 * tokens_kept) END"
            ).alias("inflation_e4"),
        )
        .orderBy("source")
    )


QUERIES = {
    "ann_nprobe_sweep": ann_nprobe_sweep,
    "simhash_recall_by_tau": simhash_recall_by_tau,
    "bpe_encode_corpus": bpe_encode_corpus,
    "source_embedding_drift": source_embedding_drift,
    "dup_inflation_report": dup_inflation_report,
}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "ann_nprobe_sweep": ("ann_sweep",),
    "simhash_recall_by_tau": ("pairs:n3:t0.05", "sh_pairs:h3"),
    "dup_inflation_report": ("pairs:n3:t0.9", "canon_cc"),
}


def _nprobe_sweep_oracle() -> str:
    """DuckDB replay of ann_nprobe_sweep: per radius, the hamming-<=r
    banded join + identical rounded-cosine rank cut, then the same
    micro-average -- composed from the ann_bruteforce oracle exactly
    like recall_at_k_eval's."""
    parts = [
        f"""
    WITH bf AS ({_LP1_ORACLES["ann_bruteforce"]}),
    qv AS (SELECT vec_id AS query_id, embedding AS q_vec,
                  {similarity.dk_lsh_bucket('embedding')} AS qb
           FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
    cv AS (SELECT vec_id AS neighbor_id, embedding AS c_vec,
                  {similarity.dk_lsh_bucket('embedding')} AS cb
           FROM embeddings),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM bf)"""
    ]
    for r in SWEEP_RADII:
        parts.append(
            f""", p{r} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT qv.query_id, cv.neighbor_id,
                   row_number() OVER (
                       PARTITION BY qv.query_id
                       ORDER BY round({th.dk_cosine('qv.q_vec', 'cv.c_vec')},
                                      6) DESC,
                                cv.neighbor_id ASC) AS rank
            FROM cv JOIN qv
              ON bit_count(xor(cb::BIGINT, qb::BIGINT)) <= {r}
            WHERE qv.query_id <> cv.neighbor_id
        ) WHERE rank <= {ANN_K}
    ), c{r} AS (
        SELECT CAST(count(*) AS BIGINT) AS n_common
        FROM bf JOIN p{r} USING (query_id, neighbor_id)
    ), k{r} AS (
        SELECT CAST(count(*) AS BIGINT) AS n_candidates
        FROM (SELECT DISTINCT qv.query_id, cv.neighbor_id
              FROM cv JOIN qv
                ON bit_count(xor(cb::BIGINT, qb::BIGINT)) <= {r}
              WHERE qv.query_id <> cv.neighbor_id)
    )"""
        )
    sel = " UNION ALL ".join(
        f"""SELECT {r} AS radius,
        {len(similarity.probe_masks(similarity.HYPERPLANE_BITS, r))}
            AS n_probe_buckets,
        k{r}.n_candidates, nt.n_true, c{r}.n_common,
        CAST((2 * 10000 * c{r}.n_common + nt.n_true)
             // (2 * nt.n_true) AS BIGINT) AS recall_e4
    FROM nt, c{r}, k{r} WHERE nt.n_true > 0"""
        for r in SWEEP_RADII
    )
    parts.append(
        f" SELECT CAST(radius AS INTEGER) AS radius,"
        f" CAST(n_probe_buckets AS INTEGER) AS n_probe_buckets,"
        f" n_candidates, n_true, n_common, recall_e4"
        f" FROM ({sel}) ORDER BY radius"
    )
    return "".join(parts)


def _bpe_encode_oracle(k: int) -> str:
    """DuckDB replay of bpe_encode_corpus: the _bpe_merges_oracle CTE
    chain (same unrolled loop), then the k replaces applied to the
    (source, word, n) table and the per-source compression report."""
    from abr_etl_spark.plans.llm_pipeline5 import _DK_TOK as _LP5_TOK

    parts = [f"""
    WITH v0 AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest({_LP5_TOK}) AS w FROM documents)
        GROUP BY w
    )"""]
    for t in range(1, k + 1):
        parts.append(f"""
    , p{t} AS (
        SELECT substring(w, i, 2) AS pair, n
        FROM (SELECT w, n,
                     unnest(generate_series(1, length(w) - 1)) AS i
              FROM v{t - 1} WHERE length(w) >= 2)
    ), t{t} AS MATERIALIZED (
        SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
        FROM p{t} GROUP BY pair
        ORDER BY n_occurrences DESC, pair ASC LIMIT 1
    ), v{t} AS MATERIALIZED (
        SELECT coalesce(replace(w, (SELECT pair FROM t{t}), chr({t})),
                        w) AS w,
               CAST(sum(n) AS BIGINT) AS n
        FROM v{t - 1} GROUP BY 1
    )""")
    parts.append(f"""
    , e0 AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS n,
               CAST(length(w) AS BIGINT) AS lw
        FROM (SELECT source, unnest({_LP5_TOK}) AS w FROM documents)
        GROUP BY source, w
    )""")
    for t in range(1, k + 1):
        parts.append(f"""
    , e{t} AS (
        SELECT source,
               coalesce(replace(w, (SELECT pair FROM t{t}), chr({t})),
                        w) AS w,
               n, lw
        FROM e{t - 1}
    )""")
    parts.append(f"""
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_words,
           CAST(sum(n * lw) AS BIGINT) AS chars_before,
           CAST(sum(n * length(w)) AS BIGINT) AS tokens_after,
           CAST((2 * 10000 * sum(n * length(w)) + sum(n * lw))
                // (2 * sum(n * lw)) AS BIGINT) AS compression_e4
    FROM e{k} GROUP BY source ORDER BY source""")
    return "".join(parts)


_DK_SH = th.dk_shingles("text", 3)

ORACLES = {
    "bpe_encode_corpus": _bpe_encode_oracle(BPE_MERGES),
    "source_embedding_drift": f"""
        WITH q AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> CAST(floor(CAST(x AS DOUBLE)
                                            * 10000 + 0.5) AS BIGINT))
                       AS q
            FROM embeddings
        ), sd AS MATERIALIZED (
            SELECT d.source, i, CAST(sum(q[i + 1]) AS BIGINT) AS s
            FROM q JOIN documents d ON d.doc_id = q.vec_id,
                 generate_series(0, 63) g(i)
            GROUP BY d.source, i
        ), scent AS MATERIALIZED (
            SELECT source,
                   list_transform(list_sort(list(struct_pack(i := i,
                       s := s))), x -> x['s']) AS sc
            FROM sd GROUP BY source
        ), nv AS (
            SELECT d.source, CAST(count(*) AS BIGINT) AS n_vecs
            FROM q JOIN documents d ON d.doc_id = q.vec_id
            GROUP BY d.source
        ), cd AS (
            SELECT i, CAST(sum(s) AS BIGINT) AS s FROM sd GROUP BY i
        ), cent AS (
            SELECT list_transform(list_sort(list(struct_pack(i := i,
                       s := s))), x -> x['s']) AS cent
            FROM cd
        )
        SELECT sce.source, nv.n_vecs,
               round({th.dk_cosine('sc', 'cent')}, 6) AS cos_centroid
        FROM scent sce JOIN nv ON nv.source = sce.source, cent
        ORDER BY sce.source
    """,
    "dup_inflation_report": f"""
        WITH canon AS MATERIALIZED (
            {_LP1_ORACLES["dedup_canonical"]}
        ), toks AS (
            SELECT doc_id, source,
                   CAST(len({th.dk_tokens('text')}) AS BIGINT) AS n_tok
            FROM documents
        ), t AS (
            SELECT toks.source, toks.n_tok,
                   CASE WHEN canon.canonical_id IS NULL
                        OR canon.canonical_id = toks.doc_id
                        THEN 1 ELSE 0 END AS keep
            FROM toks LEFT JOIN canon ON canon.doc_id = toks.doc_id
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(keep) AS BIGINT) AS n_kept,
               CAST(sum(n_tok) AS BIGINT) AS tokens_total,
               CAST(sum(keep * n_tok) AS BIGINT) AS tokens_kept,
               CASE WHEN sum(keep * n_tok) = 0 THEN NULL
                    ELSE CAST((2 * 10000 * sum(n_tok)
                               + sum(keep * n_tok))
                              // (2 * sum(keep * n_tok)) AS BIGINT)
               END AS inflation_e4
        FROM t GROUP BY source ORDER BY source
    """,
    "ann_nprobe_sweep": _nprobe_sweep_oracle(),
    "simhash_recall_by_tau": f"""
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
        ), truth AS (
            SELECT doc_a, doc_b,
                   CAST(floor(round(c::DOUBLE / (n_a + n_b - c), 4) * 10)
                        AS BIGINT) AS tau_bucket_e1
            FROM common
            WHERE c::DOUBLE / (n_a + n_b - c) >= {SWEEP_TAU}
        ), found AS (
            SELECT doc_a, doc_b, 1 AS hit
            FROM ({_LP1_ORACLES["dedup_simhash"]})
        )
        SELECT tau_bucket_e1,
               CAST(count(*) AS BIGINT) AS n_true,
               CAST(sum(coalesce(hit, 0)) AS BIGINT) AS n_found,
               CAST((2 * 10000 * sum(coalesce(hit, 0)) + count(*))
                    // (2 * count(*)) AS BIGINT) AS recall_e4
        FROM truth
        LEFT JOIN found USING (doc_a, doc_b)
        GROUP BY tau_bucket_e1 ORDER BY tau_bucket_e1
    """,
}
