"""LLM-training-data pipeline, part 5 (rounds 7-8).

- ``bm25_topk``: BM25-style retrieval scoring of the corpus against a
  fixed query -- the relevance-ranking primitive a corpus-curation /
  retrieval-augmentation pipeline runs to pull topical slices. Exact
  integer formulation (rational idf) so the DuckDB oracle replays the
  score bit-for-bit.
- ``lm_score_bigram``: CCNet-style language-model quality scoring --
  train add-1-smoothed bigram probabilities on the curated sources,
  score EVERY doc by its mean bigram probability. The classic
  "wiki-like LM likes this text" curation filter, in exact 1e-4 integer
  units (no log/libm, so both engines agree exactly; rank-equivalent
  for filtering).
- ``dedup_cluster_sizes``: the dedup REPORT -- cluster-size census of
  the near-dup graph (how many pairs collapse, how much of the corpus
  is duplicated) including singleton complement. What an operator reads
  before committing a dedup threshold.
- ``cross_split_leakage``: train/test contamination check at the
  NEAR-DUP level -- near-duplicate pairs whose endpoints landed in
  different splits of the deterministic key-mod split. Exact-dup
  decontamination (decontaminate_ngram) misses paraphrases; this is the
  split-level audit over the verified Jaccard pair graph.
- BPE tokenizer induction (r8): ``bpe_apply_merge`` (one merge applied
  end-to-end) and ``bpe_learn_merges`` (the k-merge loop over the
  bounded word-frequency vocabulary -- the real trainer's shape).
- ``embedding_pca_topk`` (r8): top-k eigenvectors by power iteration +
  deflation over the shared, result-cached scatter matrix.

Reference parity: the reference (abr-etl, Go) has no corpus tooling;
these extend SURVEY.md §2.C.

Scale notes: bm25 collapses token streams to per-doc conditional
aggregates in ONE doc-keyed shuffle (query terms are a literal constant
-- no term-table join); the LM join streams corpus bigrams against the
vocab-bounded count table (two narrow shuffle joins); the census and
leakage queries reuse the MATERIALIZED verified pair set (operators/
dedup.py result-cache contract) and aggregate tiny frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from abr_etl_spark.functions import texthash as th
from abr_etl_spark.operators import dedup
from abr_etl_spark.plans.llm_pipeline import JACCARD_TAU as LEAK_TAU
from abr_etl_spark.sources.lake import load_table

#: fixed retrieval query (literal constant on both engines).
BM25_TERMS = ("spark", "table", "hash", "merge")
#: BM25 k1 = 6/5 and b = 3/4 -- the standard 1.2 / 0.75, kept rational so
#: the saturation term is exact integer arithmetic (see _tf_part_e6).
BM25_TOPK = 10


def _bm25_term_sql(i: int, *, engine: str) -> str:
    """Per-term BM25 score in half-up 1e-4 units over columns
    (N, T, dl, tf_i, df_i) -- ONE formula text emitted for both engines
    so the integer arithmetic replays identically.

        idf_e6 = 1e6-units of (2N - 2df + 1)/(2df + 1)      [half-up]
        tfp_e6 = 1e6-units of 44*T*tf / (20*T*tf + 6*T + 18*dl*N)
        term_e4 = 1e4-units of idf_e6 * tfp_e6 / 1e12       [half-up]

    Overflow discipline (the r7 verdict's ~1e6-doc int64 bound, lifted):
    on the SPARK side the three products that outgrow int64 at corpus
    scale -- the tfp numerator/denominator (T ~ 1e13 tokens at 100 TB,
    tf up to dl) and the idf_e6 * tfp_e6 product (~1.5e21 at N ~ 1e9)
    -- are carried in DECIMAL(38,0) (headroom to ~1e38; Spark's DIV on
    decimals returns BIGINT, so every division lands back in longs,
    truncation == floor for these positive values). The idf factors
    stay int64 (2e17 at N = 1e11 docs). The DuckDB oracle keeps plain
    BIGINT -- it only ever replays small-sf data, and DuckDB raises
    (not wraps) on overflow, so a too-big oracle input fails loudly.
    Values are bit-identical across engines wherever both are in range;
    the boundary pytest (tests/test_bm25_decimal.py) proves the decimal
    path matches exact big-int arithmetic past the old wrap point.
    """
    if engine == "spark":
        div, t, dl = " DIV ", "CAST(T AS DECIMAL(38,0))", "CAST(dl AS DECIMAL(38,0))"
        widen = lambda s: f"CAST({s} AS DECIMAL(38,0))"  # noqa: E731
    else:
        div, t, dl = " // ", "T", "dl"
        widen = lambda s: s  # noqa: E731
    idf = (
        f"(((2 * (1000000 * (2*N - 2*df_{i} + 1)) + (2*df_{i} + 1))"
        f"{div}(2 * (2*df_{i} + 1))))"
    )
    tfp_den = f"(20 * {t} * tf_{i} + 6 * {t} + 18 * {dl} * N)"
    tfp = (
        f"(((2 * (1000000 * 44 * {t} * tf_{i}) + {tfp_den})"
        f"{div}(2 * {tfp_den})))"
    )
    return (
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"(2 * ({widen(idf)} * {widen(tfp)}) + 100000000)"
        f"{div}200000000 ELSE 0 END)"
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BM25_TOPK} docs by BM25-style score for the fixed query
    ``BM25_TERMS``: (doc_id, n_hit_terms, score_e4).

    Exact-integer BM25 with rational idf: per term,

        tf_part = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
                = 44*T*tf / (20*T*tf + 6*T + 18*dl*N)     [k1=6/5, b=3/4,
                                                           avgdl = T/N]
        idf_part = (N - df + 1/2)/(df + 1/2) = (2N-2df+1)/(2df+1)

    both carried as half-up 1e-6-unit integers, multiplied and reduced
    to 1e-4 units per term, summed. Rational idf is a monotone transform
    of the classic log idf per term -- a legitimate BM25 variant that
    stays libm-free so the oracle replays it EXACTLY (the repo's q7/q8
    integer-units pattern). The scale-critical products run in
    DECIMAL(38,0) on the Spark side (see _bm25_term_sql), lifting the
    old ~1e6-doc int64 bound to ~1e38 headroom.

    Scale shape: ONE doc-keyed shuffle (tokens collapse map-side to
    per-doc (dl, tf_0..tf_3) conditional aggregates -- query terms are
    literals, no term-table join), one 1-row corpus-stats broadcast, and
    a TakeOrderedAndProject top-k. The checkpoint stops CollapseProject
    from re-deriving the tokenize lineage into the stats branch.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.expr(th.sp_tokens("text"))).alias("tok")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.lower("tok") == t, 1).otherwise(0)).alias(
                f"tf_{i}"
            )
            for i, t in enumerate(BM25_TERMS)
        ],
    ).localCheckpoint(eager=False)
    stats = per_doc.agg(
        F.count("*").alias("N"),
        F.sum("dl").alias("T"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(
                f"df_{i}"
            )
            for i in range(len(BM25_TERMS))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    term_scores = []
    hit_flags = []
    for i in range(len(BM25_TERMS)):
        tf = F.col(f"tf_{i}")
        # half-up integer 1e-6-unit idf and tf factors, combined to one
        # 1e-4-unit term score; the overflow-prone products run in
        # DECIMAL(38,0) and every DIV lands back in BIGINT
        term_scores.append(F.expr(_bm25_term_sql(i, engine="spark")))
        hit_flags.append(F.when(tf > 0, 1).otherwise(0))
    out = scored.select(
        "doc_id",
        sum(hit_flags[1:], hit_flags[0]).cast("int").alias("n_hit_terms"),
        sum(term_scores[1:], term_scores[0]).cast("long").alias("score_e4"),
    ).where(F.col("n_hit_terms") > 0)
    return out.orderBy(F.col("score_e4").desc(), F.col("doc_id").asc()).limit(
        BM25_TOPK
    )


def lm_score_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc LM quality score: mean add-1-smoothed bigram probability
    under a bigram model trained on the CURATED sources (the corpus_mix
    rule: numeric source suffix % 4 == 0), in exact 1e-4 units:
    (doc_id, n_bigrams, lm_score_e4).

        p_e4(w1,w2) = 1e4 * (c(w1,w2)+1) / (c(w1)+V)   [half-up integer]
        lm_score_e4 = mean over the doc's bigrams      [half-up integer]

    No log/exp: the mean probability is rank-usable for the keep/drop
    filter and bit-replayable cross-engine (the dsir_importance
    trade, same reasoning). Docs with < 2 tokens carry no bigrams and
    are excluded (both engines).

    Scale shape: train counts collapse to the vocab-bounded (w1,w2)
    table in one shuffle (+ one w1-window for the conditioning totals);
    the corpus bigram stream joins that table twice on narrow string
    keys ((w1,w2) then the w1 totals); V is a 1-row broadcast. Nothing
    driver-side, nothing O(corpus^2).
    """
    d = load_table(spark, sf_dir, "documents")
    src_idx = F.nullif(
        F.regexp_extract("source", r"(\d+)$", 1), F.lit("")
    ).cast("long")

    def _bigrams(df: DataFrame) -> DataFrame:
        toks = df.select(
            "doc_id", F.expr(th.sp_tokens("text")).alias("tok")
        )
        return (
            toks.where(F.size("tok") >= 2)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(tok) - 1), "
                        "i -> named_struct('w1', element_at(tok, i), "
                        "'w2', element_at(tok, i + 1)))"
                    )
                ).alias("bg"),
            )
            .select("doc_id", "bg.w1", "bg.w2")
        )

    train_bg = _bigrams(d.where(src_idx % 4 == 0))
    counts = train_bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    w1_tot = Window.partitionBy("w1")
    counts = counts.withColumn("c1", F.sum("c").over(w1_tot))
    # greatest(V,1): an empty training side (no curated sources at some
    # data slice) must degrade to the uniform prior, not divide by zero
    vocab = counts.agg(
        F.greatest(F.countDistinct("w2"), F.lit(1)).alias("V"),
    )
    doc_bg = _bigrams(d)
    joined = (
        doc_bg.join(counts, ["w1", "w2"], "left")
        .join(
            counts.select("w1", "c1").distinct().withColumnRenamed(
                "c1", "c1_w1"
            ),
            "w1",
            "left",
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr(
                "(2 * (10000 * (coalesce(c, 0) + 1)) "
                "+ (coalesce(c1_w1, 0) + V)) "
                "DIV (2 * (coalesce(c1_w1, 0) + V))"
            ).alias("p_e4"),
        )
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr(
                "(2 * sum(p_e4) + count(*)) DIV (2 * count(*))"
            ).alias("lm_score_e4"),
        )
        .orderBy("doc_id")
    )


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size census of the near-dup graph: (cluster_size,
    n_clusters, n_docs), singleton complement included -- the report an
    operator reads before committing a dedup threshold (what fraction
    of the corpus collapses, are there mega-clusters).

    Scale shape: reuses the MATERIALIZED verified pair set (the pair
    operators' result-cache contract) AND the memoized CC fixpoint
    (llm_pipeline.jaccard_canonical -- one CC run per session/sf) ->
    two tiny aggregates (component-count-scale). The singleton count is
    one anti-join of (doc_id) against the component nodes -- 8-byte
    rows.
    """
    from abr_etl_spark.plans.llm_pipeline import jaccard_canonical
    d = load_table(spark, sf_dir, "documents")
    canon = jaccard_canonical(spark, sf_dir)
    sizes = canon.groupBy("canonical_id").agg(
        F.count("*").alias("cluster_size")
    )
    census = sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )
    singles = (
        d.select("doc_id")
        .join(canon.select(F.col("doc_id")), "doc_id", "left_anti")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n").alias("n_clusters"),
            F.col("n").alias("n_docs"),
        )
        .where(F.col("n_clusters") > 0)
    )
    return census.unionByName(singles).orderBy("cluster_size")


def cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup contamination across the train/val/test key-mod split
    (train_test_split's exact rule): (split_a, split_b, n_pairs,
    max_jaccard_e4) for every split combination with at least one
    verified near-dup pair, split names ordered within the pair.

    Exact-dup decontamination misses paraphrases; near-dup pairs that
    straddle train/test are the leakage that actually inflates evals.
    Scale shape: reuses the materialized verified pair set; the split is
    arithmetic on the pair's endpoints (no join back to documents); one
    tiny aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, threshold=LEAK_TAU)

    def _split(col: str):
        b = F.col(col) % 100
        return (
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        )

    tagged = pairs.select(
        F.least(_split("doc_a"), _split("doc_b")).alias("split_a"),
        F.greatest(_split("doc_a"), _split("doc_b")).alias("split_b"),
        F.floor(F.col("jaccard") * 10000 + 0.5).cast("long").alias("j_e4"),
    )
    return (
        tagged.groupBy("split_a", "split_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.max("j_e4").alias("max_jaccard_e4"),
        )
        .orderBy("split_a", "split_b")
    )


#: probe docs for the similar-document search (deterministic).
SIM_PROBES = 5
SIM_TOPK = 3
BPE_TOP = 20


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BPE_TOP} adjacent character pairs inside corpus words -- the
    counting step of a BPE tokenizer's first merge (vocab induction):
    (pair, n) by count desc, pair asc.

    Scale shape: chars never shuffle individually -- the pair stream
    collapses map-side into the (bounded) pair vocabulary before the one
    exchange, and the top-k is TakeOrderedAndProject. (Later BPE merges
    re-run the same count over re-segmented text; the per-merge shape is
    identical, so this query IS the iteration body.)
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.expr(th.sp_tokens("text"))).alias("w")
    ).where(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(BPE_TOP)
    )


def bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND BPE iteration, end-to-end: find the top adjacent pair
    (bpe_pair_counts' rule), MERGE it corpus-wide into a single
    surrogate symbol chr(1) (leftmost non-overlapping ``replace`` --
    exactly the greedy BPE merge semantics, identical in both engines),
    and emit the re-segmented corpus' new top-{BPE_TOP} pairs:
    (pair, n, merged_pair). Proves the iteration loop bpe_pair_counts'
    docstring claims is "the iteration body" actually closes.

    Scale shape: the winning pair is a 1-row broadcast; the merge is a
    map-side string replace at the scan; the recount is the identical
    map-side-collapse + one exchange as iteration one. k merges = k
    such passes, each map-side over the re-segmented corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.expr(th.sp_tokens("text"))).alias("w")
    ).where(F.length("w") >= 2)
    pair1 = (
        words.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(1)
        .select(F.col("pair").alias("merged_pair"))
    )
    merged = words.crossJoin(F.broadcast(pair1)).select(
        F.expr("replace(w, merged_pair, chr(1))").alias("w2"),
        "merged_pair",
    )
    return (
        merged.where(F.length("w2") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w2) - 1), "
                    "i -> substring(w2, i, 2))"
                )
            ).alias("pair"),
            "merged_pair",
        )
        .groupBy("pair")
        .agg(F.count("*").alias("n"), F.first("merged_pair").alias("merged_pair"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(BPE_TOP)
    )


#: merge steps for the BPE learner.
BPE_MERGES = 3


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE vocab-induction LOOP, k={BPE_MERGES} merges end-to-end:
    (step, merged_pair, n_occurrences) -- the merge table a tokenizer
    trainer emits. Each step finds the occurrence-weighted top adjacent
    pair, merges it corpus-wide into a per-step surrogate symbol
    chr(step), and re-derives the pair census; step 1's winner is
    bpe_pair_counts' top row (pytest-pinned).

    Scale shape -- the real trainer's shape: the corpus collapses ONCE
    into the (word, n) FREQUENCY VOCABULARY (one shuffle; bounded by
    vocab size, not corpus size); every merge step then runs on that
    bounded table -- pair counts weighted by n, a 1-row winner
    broadcast, a map-side replace, and a regroup (replace could
    collide two vocab words, so counts re-merge by sum). Each step's
    vocab is eagerly checkpointed: it is referenced by both the winner
    and the next vocab, and k lazy steps would double the lineage per
    level (the PCA power-loop lesson).
    """
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.expr(th.sp_tokens("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    merges = []
    for t in range(1, BPE_MERGES + 1):
        pairs = vocab.where(F.length("w") >= 2).select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            "n",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("n").alias("n_occurrences"))
            .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
            .limit(1)
            .select(
                F.lit(t).cast("int").alias("step"),
                F.col("pair").alias("merged_pair"),
                "n_occurrences",
            )
            .localCheckpoint(eager=True)
        )
        merges.append(top)
        vocab = (
            vocab.crossJoin(F.broadcast(top.select("merged_pair")))
            .select(
                F.expr(f"replace(w, merged_pair, chr({t}))").alias("w"),
                "n",
            )
            .groupBy("w")
            .agg(F.sum("n").alias("n"))
            .localCheckpoint(eager=True)
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("step")


def jaccard_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar-document SEARCH (thresholdless, unlike the dedup pair
    ops): for each of the first {SIM_PROBES} docs, the {SIM_TOPK} most
    Jaccard-similar other docs -- (probe_id, doc_id, rank, jaccard),
    deterministic (jaccard desc, doc_id asc) ranking.

    Scale shape: the probe side is a literal handful of docs, so its
    exploded gram-hash set BROADCASTS; the corpus side streams its own
    gram hashes through the broadcast hash join map-side -- the only
    shuffle is the per-(probe, doc) intersection count aggregate (16-byte
    rows), then a {SIM_TOPK}-deep window per probe (WindowGroupLimit).
    Token-hash gram folding, not gram strings (the kmv lesson).
    """
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.expr(
            th.sp_gram_hashes_from_token_hashes(
                th.sp_token_hashes(th.sp_tokens("text")), 3
            )
        ).alias("hs"),
    ).select(
        "doc_id", F.size("hs").alias("n_sh"), F.explode("hs").alias("h")
    )
    probes = sh.where(F.col("doc_id") < SIM_PROBES).select(
        F.col("doc_id").alias("probe_id"),
        F.col("n_sh").alias("n_p"),
        "h",
    )
    common = (
        sh.join(F.broadcast(probes), "h")
        .where(F.col("doc_id") != F.col("probe_id"))
        .groupBy("probe_id", "doc_id")
        .agg(
            F.count("*").alias("c"),
            F.first("n_p").alias("n_p"),
            F.first("n_sh").alias("n_d"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.expr("c / (n_p + n_d - c)").desc(), F.col("doc_id").asc()
    )
    return (
        common.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= SIM_TOPK)
        .select(
            "probe_id",
            "doc_id",
            "rank",
            F.round(F.expr("c / (n_p + n_d - c)"), 4).alias("jaccard"),
        )
        .orderBy("probe_id", "rank")
    )


def percentile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile rank of document length -- the score
    normalization every mixed-source curation needs before one global
    keep threshold can be fair across sources: (doc_id, source,
    pct_e4) with pct_e4 = 1e4 * rank / n_in_source (half-up, rank by
    (n_chars, doc_id) -- fully deterministic).

    Scale shape: one source-partitioned window (rank) + a window count
    over the SAME partitioning -- a single Exchange; no joins; exact
    integer output.
    """
    d = load_table(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    w_all = Window.partitionBy("source")
    return (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w_rank).alias("rk"),
            F.count("*").over(w_all).alias("n_src"),
        )
        .select(
            "doc_id",
            "source",
            F.expr("(2 * 10000 * rk + n_src) DIV (2 * n_src)").alias(
                "pct_e4"
            ),
        )
        .orderBy("doc_id")
    )


#: per-chunk bound on a materialized posting list -- a hot term at
#: corpus scale SHARDS its postings across (term, chunk) rows instead
#: of building one giant array (a df ~ 1e9 collect_set is an executor
#: OOM; each chunk array is bounded at this many ids).
POSTINGS_CAP = 10000


def inverted_postings(
    spark: SparkSession, sf_dir: str, *, cap: int = POSTINGS_CAP
) -> DataFrame:
    """Inverted-index build for the probe vocabulary, SHARDED by
    (term, chunk): (term, chunk, df, n_in_chunk, postings) -- ``df``
    the exact full document frequency, ``chunk`` a 0-based shard index
    in global doc_id order, ``postings`` that chunk's <= ``cap`` sorted
    doc_ids serialized (comma-joined). The retrieval-infrastructure
    primitive behind bm25_topk, materialized as data so an index
    consumer can diff it -- and the real sharded layout (r7 verdict
    item 4), replacing the first-CAP-only stand-in: chunks PARTITION
    the full posting set (invariant pytest:
    tests/test_llm_pipeline5.py), so no posting is dropped however hot
    the term.

    Scale shape: the token stream filters to the literal probe terms
    MAP-SIDE (no vocabulary join), dedups (doc, term) in one shuffle;
    chunk assignment is a row_number + count over ONE (term)
    partitioning (a single Exchange+Sort; the sort-based window
    streams + spills a hot term's postings, never holds them in one
    array), and each chunk's collect_list is bounded at ``cap`` rows.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.expr(th.sp_tokens("text"))).alias("tok")
    )
    hits = (
        toks.select("doc_id", F.lower("tok").alias("term"))
        .where(F.col("term").isin(*BM25_TERMS))
        .distinct()
    )
    w_rank = Window.partitionBy("term").orderBy("doc_id")
    w_term = Window.partitionBy("term")
    ranked = hits.select(
        "term",
        "doc_id",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_term).alias("df"),
    )
    return (
        ranked.withColumn(
            "chunk", F.expr(f"(rn - 1) DIV {cap}").cast("int")
        )
        .groupBy("term", "chunk")
        .agg(
            F.first("df").alias("df"),
            F.count("*").alias("n_in_chunk"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "postings"
            ),
        )
        .orderBy("term", "chunk")
    )


#: embedding dimensionality and power-iteration count.
EIG_D = 64
EIG_ITERS = 6
#: components for the deflation PCA (embedding_pca_topk) and its
#: whitening consumer (embedding_whiten_topk) -- 3 exercises deflation
#: past the first removal (r8 verdict item 4).
EIG_K = 3

#: deterministic double reduction: fold a j-sorted struct array
#: sequentially -- Spark aggregate(array_sort(collect_list(...))) ==
#: DuckDB list_reduce(list_sort(list(...))), pinning IEEE op order.
_SORTED_FOLD = (
    "aggregate(array_sort(collect_list(s)), cast(0 as double), "
    "(acc, x) -> acc + x.t)"
)


def _scatter_cmat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered scatter matrix C = n*S2 - S1*S1' of the quantized
    embedding corpus as (i, j, c) -- exact int64 cells (magnitudes
    ~1e13 < 2^53), PERSISTED through the result-cache registry
    (functions/cache.py): the canonical plan is identical across
    invocations AND across the two PCA keys (top_eigvec / pca_topk), so
    CacheManager dedups to one 4096-row JVM cache and the corpus-scale
    aggregation runs once per process (the dedup pair-cache lesson --
    a localCheckpoint here would make every plan unique and rebuild the
    scatter per call; measured 5-6 s/invocation at sf0.1). Coalesced to
    one partition (single-task iterations beat 32-task scheduling
    overhead). The ONLY corpus-scale work in the PCA family: per-row
    outer products collapse map-side into the D^2 cells before the one
    exchange (the CMS pattern)."""
    from abr_etl_spark.functions.cache import materialize_result
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        F.expr(
            "transform(embedding, x -> "
            "cast(floor(cast(x as double) * 10000 + 0.5) as bigint))"
        ).alias("q")
    )
    n_row = q.agg(F.count("*").alias("n"))
    s1 = (
        q.select(F.posexplode("q").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("s1"))
    )
    # UPPER TRIANGLE only (i <= j): the scatter is symmetric, so this
    # halves the corpus-scale explode (D*(D+1)/2 = 2080 cells/row vs
    # 4096); the lower triangle is mirrored AFTER the aggregation on
    # the tiny cell table. Cell values are identical integer sums --
    # bit-for-bit the same matrix.
    pair_expr = (
        f"flatten(transform(sequence(0, {EIG_D - 1}), i -> "
        f"transform(sequence(i, {EIG_D - 1}), j -> "
        f"struct(i, j, element_at(q, i + 1) * element_at(q, j + 1) AS p))))"
    )
    s2u = (
        q.select(F.explode(F.expr(pair_expr)).alias("e"))
        .select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("s2"))
    )
    s2 = s2u.unionByName(
        s2u.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "s2"
        )
    )
    cm = (
        s2.join(F.broadcast(s1.select(F.col("i"), F.col("s1").alias("s1_i"))), "i")
        .join(
            F.broadcast(
                s1.select(F.col("i").alias("j"), F.col("s1").alias("s1_j"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            (F.col("n") * F.col("s2") - F.col("s1_i") * F.col("s1_j")).alias(
                "c"
            ),
        )
    )
    return materialize_result(cm, family="lang_conf").coalesce(1)


def _power_loop(
    cmat: DataFrame, v: DataFrame, iters: int, seed_dim: int = 0
) -> DataFrame:
    """``iters`` power iterations v <- C v / ||C v|| with every double
    reduction order-pinned (_SORTED_FOLD); returns the final unit
    vector as (j, vj).

    Each iteration EAGERLY checkpoints the 64-row vector: v_t is
    referenced twice by iteration t+1 (the matvec and, through m, the
    norm), so a lazy lineage doubles per iteration -- 2^iters copies of
    the whole join chain by the end (measured: the k=2 deflation key ran
    17.7 s warm at sf0.1 on plan explosion alone; checkpointed vectors
    cut it to sequential 64-row jobs). Values are unchanged -- only the
    lineage is truncated."""
    for _ in range(iters):
        m = (
            cmat.join(v, "j")
            .select(
                "i",
                F.struct(
                    F.col("j"), (F.col("c") * F.col("vj")).alias("t")
                ).alias("s"),
            )
            .groupBy("i")
            .agg(F.expr(_SORTED_FOLD).alias("m"))
            .localCheckpoint(eager=True)
        )
        norm2 = m.select(
            F.struct(
                F.col("i").alias("j"), (F.col("m") * F.col("m")).alias("t")
            ).alias("s")
        ).agg(F.expr(_SORTED_FOLD).alias("n2"))
        # degenerate guard: a zero scatter (constant corpus, or a fully
        # deflated matrix) gives Cv = 0 and would divide by zero under
        # ANSI mode, killing the whole job. Any unit vector is a
        # fixpoint of the null map, so fall back to the SEED basis
        # vector e_{seed_dim} -- a literal expression, no reference to
        # the previous iterate (a prev-v join was measured to deepen
        # the plan enough to cost 25 s cold), and once degenerate the
        # loop stays at e_{seed_dim} (C e_k = 0 again). Values on
        # non-degenerate data are untouched: the n2 > 0 branch is the
        # identical division the oracle replays.
        v = m.crossJoin(F.broadcast(norm2)).select(
            F.col("i").alias("j"),
            F.when(F.col("n2") > 0, F.col("m") / F.sqrt("n2"))
            .otherwise(
                F.when(F.col("i") == seed_dim, F.lit(1.0)).otherwise(0.0)
            )
            .alias("vj"),
        )
    return v


def embedding_top_eigvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal direction of the embedding corpus: top eigenvector of
    the CENTERED scatter matrix C = n*S2 - S1*S1' by EIG_ITERS power
    iterations -- (dim, weight), unit norm. The distributed-PCA
    primitive (corpus drift monitoring, whitening, low-rank probes).

    Exactness story: embeddings quantize to 1e-4 integers, so S1 (per
    dim) and S2 (per dim pair) are EXACT integer sums and C is exact
    int64 (magnitudes ~1e13 < 2^53). The iterations are double math
    whose operation ORDER is pinned: every reduction folds a
    j-sorted struct array sequentially (Spark aggregate(array_sort(
    collect_list(...))) == DuckDB list_reduce(list_sort(list(...)))),
    and sqrt is IEEE-correctly-rounded -- so both engines produce
    bit-identical vectors and the oracle replays all three iterations.

    Scale shape: the ONLY corpus-scale work is the scatter accumulation
    -- per-row outer products collapse map-side into the D^2 = 4096
    cells before the one exchange (the CMS pattern); the iterations run
    on 4096-row/64-row frames (broadcast-joined, localCheckpointed once
    so three iterations don't re-aggregate the corpus).
    """
    cmat = _scatter_cmat(spark, sf_dir)
    v = spark.range(EIG_D).select(
        F.col("id").cast("int").alias("j"),
        F.when(F.col("id") == 0, F.lit(1.0)).otherwise(0.0).alias("vj"),
    )
    v = _power_loop(cmat, v, EIG_ITERS)
    return v.select(
        F.col("j").alias("dim"), F.round("vj", 6).alias("weight")
    ).orderBy("dim")


def embedding_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{EIG_K} eigenvectors of the centered embedding scatter by
    power iteration + DEFLATION (r7 verdict item 6): (component, dim,
    weight), each component unit-norm. After component k converges,
    its Rayleigh eigenvalue lambda_k = v'Cv is removed
    (C <- C - lambda_k v v') and the next power loop runs on the
    deflated matrix -- the PCA-whitening / low-rank-drift primitive
    that needs more than the principal direction.

    Exactness story: identical to embedding_top_eigvec -- the scatter
    is exact int64 (cast once to double, lossless < 2^53); every
    double reduction (matvec, norm, Rayleigh fold) pins its operation
    order via the sorted-struct fold, and the deflation update is one
    fixed-parenthesization multiply-subtract per cell -- so the DuckDB
    oracle (generated by the same loop, _pca_oracle_sql) replays every
    component bit-for-bit.

    Scale shape: the corpus-scale scatter is built ONCE (shared
    _scatter_cmat shape); each component adds EIG_ITERS joins plus one
    deflation pass over the D^2 = 4096-row frame, re-checkpointed per
    component so lineage stays flat. Orthogonality + Rayleigh-ordering
    quality is pytest-asserted against numpy
    (tests/test_llm_pipeline5.py).
    """
    comps = _deflation_vectors(spark, sf_dir)
    out = [
        v.select(
            F.lit(k).cast("int").alias("component"),
            F.col("j").alias("dim"),
            F.round("vj", 6).alias("weight"),
        )
        for k, v in enumerate(comps)
    ]
    res = out[0]
    for extra in out[1:]:
        res = res.unionByName(extra)
    return res.orderBy("component", "dim")


def _rayleigh(cmat: DataFrame, v: DataFrame) -> DataFrame:
    """Rayleigh quotient v'Cv as a 1-row (lam) frame -- both folds
    order-pinned (the matvec per i, then the i-sorted outer fold)."""
    m2 = (
        cmat.join(v, "j")
        .select(
            "i",
            F.struct(
                F.col("j"), (F.col("c") * F.col("vj")).alias("t")
            ).alias("s"),
        )
        .groupBy("i")
        .agg(F.expr(_SORTED_FOLD).alias("m2"))
    )
    return (
        m2.join(
            v.select(F.col("j").alias("i"), F.col("vj").alias("vi")), "i"
        )
        .select(
            F.struct(
                F.col("i").alias("j"),
                (F.col("vi") * F.col("m2")).alias("t"),
            ).alias("s")
        )
        .agg(F.expr(_SORTED_FOLD).alias("lam"))
    )


def _deflation_vectors(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The EIG_K unit eigenvectors (each a (j, vj) frame) by power
    iteration + deflation on the shared scatter -- the component loop
    behind embedding_pca_topk, factored out (and memoized per
    (session, sf_dir)) so embedding_whiten_topk consumes the SAME
    vectors without re-running the iterations. The power loop
    localCheckpoints per iteration, so every invocation's plan is unique
    and CacheManager plan dedup cannot share the vectors; the session
    memo does."""
    from abr_etl_spark.functions.cache import session_memo

    return session_memo(
        spark, "eig_vectors", sf_dir, lambda: _power_deflation(spark, sf_dir)
    )


def _power_deflation(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    cmat = _scatter_cmat(spark, sf_dir).select(
        "i", "j", F.col("c").cast("double").alias("c")
    )
    comps: list[DataFrame] = []
    for k in range(EIG_K):
        v0 = spark.range(EIG_D).select(
            F.col("id").cast("int").alias("j"),
            F.when(F.col("id") == k, F.lit(1.0)).otherwise(0.0).alias("vj"),
        )
        v = _power_loop(cmat, v0, EIG_ITERS, seed_dim=k)
        comps.append(v)
        if k == EIG_K - 1:
            break
        lam = _rayleigh(cmat, v)
        cmat = (
            cmat.join(
                F.broadcast(
                    v.select(F.col("j").alias("i"), F.col("vj").alias("vi"))
                ),
                "i",
            )
            .join(
                F.broadcast(v.select("j", F.col("vj").alias("vjd"))), "j"
            )
            .crossJoin(F.broadcast(lam))
            .select(
                "i",
                "j",
                (
                    F.col("c") - (F.col("lam") * F.col("vi")) * F.col("vjd")
                ).alias("c"),
            )
            .localCheckpoint(eager=True)
            .coalesce(1)
        )
    return comps


#: rows the whitening probe reports (the top of the low-rank
#: Mahalanobis ranking).
WHITEN_TOP = 20


def embedding_whiten_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whitening consumer of the k={EIG_K} deflation components:
    per vector, the whitened coordinates z_k along each component and
    the low-rank Mahalanobis norm, reporting the top {WHITEN_TOP}
    outliers -- (vec_id, z0..z{EIG_K-1}, wnorm2). z_k = (n*(v_k . q) -
    v_k . S1) / sqrt(v_k' C v_k): exactly zero-mean and unit-variance
    per component BY CONSTRUCTION (the Rayleigh scaling is computed
    against the ORIGINAL scatter C, so var(z_k) = v'Cv / v'Cv = 1 for
    any unit v, converged or not -- pytest-asserted). The whitening /
    low-rank-probe consumer the r8 verdict asked to land with k > 2.

    Exactness story: the dot products fold j-sorted structs (pinned
    IEEE order, the _SORTED_FOLD contract); n, S1 and q are exact
    integers; sqrt is correctly rounded; the top-{WHITEN_TOP} cut
    orders on the bit-identical unrounded norm with vec_id ties.

    Scale shape: corpus-scale work is ONE (vec, dim)-exploded join
    against the broadcast {EIG_K}x{EIG_D}-row component table folded
    back per (vec, component) -- map-side expansion, one shuffle by
    vec_id; everything else (S1, n, Rayleigh) is the bounded scatter
    algebra shared with the PCA keys.
    """
    wide = _whiten_scores(spark, sf_dir)
    wn2 = "(" + " + ".join(f"z{k} * z{k}" for k in range(EIG_K)) + ")"
    return (
        wide.withColumn("__wn2", F.expr(wn2))
        .orderBy(F.desc("__wn2"), "vec_id")
        .limit(WHITEN_TOP)
        .select(
            "vec_id",
            *[F.round(f"z{k}", 6).alias(f"z{k}") for k in range(EIG_K)],
            F.round("__wn2", 4).alias("wnorm2"),
        )
    )


def _whiten_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full per-vector whitened coordinates (vec_id, z0..z{EIG_K-1}),
    unrounded -- the frame embedding_whiten_topk cuts its top rows
    from; exposed so the zero-mean/unit-variance whitening contract is
    directly pytest-able over the whole corpus."""
    comps = _deflation_vectors(spark, sf_dir)
    cmat0 = _scatter_cmat(spark, sf_dir).select(
        "i", "j", F.col("c").cast("double").alias("c")
    )
    cvs = None
    lams = None
    for k, v in enumerate(comps):
        tag_v = v.select(F.lit(k).cast("int").alias("component"), "j", "vj")
        tag_l = _rayleigh(cmat0, v).select(
            F.lit(k).cast("int").alias("component"), "lam"
        )
        cvs = tag_v if cvs is None else cvs.unionByName(tag_v)
        lams = tag_l if lams is None else lams.unionByName(tag_l)
    q = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double)"
            " * 10000 + 0.5) as bigint))"
        ).alias("q"),
    )
    n_row = q.agg(F.count("*").cast("long").alias("n"))
    s1 = (
        q.select(F.posexplode("q").alias("i", "qi"))
        .groupBy("i")
        .agg(F.sum("qi").alias("s1"))
    )
    vs1 = (
        cvs.join(s1.select(F.col("i").alias("j"), "s1"), "j")
        .select(
            "component",
            F.struct(
                F.col("j"), (F.col("vj") * F.col("s1")).alias("t")
            ).alias("s"),
        )
        .groupBy("component")
        .agg(F.expr(_SORTED_FOLD).alias("vs1"))
    )
    dots = (
        q.select("vec_id", F.posexplode("q").alias("j", "qj"))
        .join(F.broadcast(cvs), "j")
        .select(
            "vec_id",
            "component",
            F.struct(
                F.col("j"), (F.col("qj") * F.col("vj")).alias("t")
            ).alias("s"),
        )
        .groupBy("vec_id", "component")
        .agg(F.expr(_SORTED_FOLD).alias("dot"))
    )
    z = (
        dots.join(F.broadcast(vs1), "component")
        .join(F.broadcast(lams), "component")
        .crossJoin(F.broadcast(n_row))
        .select(
            "vec_id",
            "component",
            # zero-variance direction (lam = 0, the degenerate corpus):
            # no deviation is possible along it, so z is 0 by definition
            # -- and the ANSI divide-by-zero that would otherwise kill
            # the job never fires. Non-degenerate values untouched.
            F.when(
                F.col("lam") > 0,
                (F.col("n") * F.col("dot") - F.col("vs1"))
                / F.sqrt("lam"),
            ).otherwise(F.lit(0.0)).alias("z"),
        )
    )
    return z.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("component") == k, F.col("z"))).alias(f"z{k}")
            for k in range(EIG_K)
        ]
    )


def dedup_family_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble agreement report across two structurally different
    near-dup families: verified Jaccard pairs (shingle-set overlap,
    tau=0.9) vs SimHash pairs (48-bit sketch, hamming <= 3) -- census
    (in_jaccard, in_simhash, n_pairs). The disagreement cells are the
    operational answer to "which dedup family should I trust": pairs
    only one family finds are where sketch geometry and set overlap
    genuinely diverge (SimHash weights frequent shingles differently).

    Scale shape: reuses both families' MATERIALIZED pair caches; the
    full-outer join runs on pair-graph-cardinality 16-byte rows; one
    tiny census aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    jac = dedup.ngram_jaccard_pairs(d, threshold=LEAK_TAU).select(
        "doc_a", "doc_b", F.lit(1).alias("in_jaccard")
    )
    sim = dedup.simhash_pairs(d, max_hamming=3).select(
        "doc_a", "doc_b", F.lit(1).alias("in_simhash")
    )
    both = jac.join(sim, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_jaccard", F.lit(0)).alias("in_jaccard"),
        F.coalesce("in_simhash", F.lit(0)).alias("in_simhash"),
    )
    return (
        both.groupBy("in_jaccard", "in_simhash")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("in_jaccard", "in_simhash")
    )


def _dk_fold(struct_sql: str) -> str:
    """DuckDB twin of _SORTED_FOLD: left-fold the j-sorted struct list's
    t fields from 0.0 -- the identical addition sequence."""
    return (
        "list_reduce(list_prepend(0.0::DOUBLE, list_transform("
        f"list_sort(list({struct_sql})), x -> x['t'])), (a, b) -> a + b)"
    )


def _pca_oracle_body(k_comps: int, iters: int) -> list[str]:
    """Shared DuckDB CTE chain for the PCA family, generated with the
    SAME loop that builds the Spark plan: scatter C0, then per
    component ``iters`` power iterations on the (deflated) scatter,
    Rayleigh lambda and the deflation update. Every double reduction
    uses the sorted-struct fold and every deflation cell the fixed
    parenthesization (c - ((lam * v_i) * v_j)), so the SQL is
    bit-identical to Spark. Used by _pca_oracle_sql and
    _whiten_oracle_sql."""
    parts = [
        """
    WITH q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 10000
                                              + 0.5) AS BIGINT)) AS q
        FROM embeddings
    ), nr AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n FROM q
    ), s1 AS MATERIALIZED (
        SELECT i, CAST(sum(q[i + 1]) AS BIGINT) AS s1
        FROM q, generate_series(0, 63) g(i) GROUP BY i
    ), s2 AS MATERIALIZED (
        SELECT i, j, CAST(sum(q[i + 1] * q[j + 1]) AS BIGINT) AS s2
        FROM q, generate_series(0, 63) g1(i),
                generate_series(0, 63) g2(j)
        GROUP BY i, j
    ), C0 AS MATERIALIZED (
        SELECT s2.i, s2.j,
               CAST(nr.n * s2.s2 - a.s1 * b.s1 AS DOUBLE) AS c
        FROM s2, nr
        JOIN s1 a ON a.i = s2.i
        JOIN s1 b ON b.i = s2.j
    )"""
    ]
    for k in range(k_comps):
        cm = f"C{k}"
        parts.append(
            f", c{k}v0 AS MATERIALIZED (SELECT i AS j, CASE WHEN i = {k} THEN "
            "1.0::DOUBLE ELSE 0.0::DOUBLE END AS vj FROM s1)"
        )
        prev = f"c{k}v0"
        for t in range(1, iters + 1):
            mv = _dk_fold("struct_pack(j := C.j, t := C.c * V.vj)")
            nn = _dk_fold("struct_pack(j := i, t := m * m)")
            parts.append(
                f", c{k}it{t}m AS MATERIALIZED (SELECT C.i, {mv} AS m FROM {cm} C "
                f"JOIN {prev} V ON V.j = C.j GROUP BY C.i)"
                f", c{k}it{t}n AS MATERIALIZED (SELECT {nn} AS n2 FROM c{k}it{t}m)"
                f", c{k}it{t} AS MATERIALIZED (SELECT i AS j, m / sqrt(n2) AS vj "
                f"FROM c{k}it{t}m, c{k}it{t}n)"
            )
            prev = f"c{k}it{t}"
        if k < k_comps - 1:
            mv = _dk_fold("struct_pack(j := C.j, t := C.c * V.vj)")
            ry = _dk_fold("struct_pack(j := m2.i, t := V.vj * m2.m2)")
            parts.append(
                f", m2x{k} AS MATERIALIZED (SELECT C.i, {mv} AS m2 FROM {cm} C "
                f"JOIN {prev} V ON V.j = C.j GROUP BY C.i)"
                f", lam{k} AS MATERIALIZED (SELECT {ry} AS lam FROM m2x{k} m2 "
                f"JOIN {prev} V ON V.j = m2.i)"
                f", C{k + 1} AS MATERIALIZED (SELECT C.i, C.j, "
                f"(C.c - ((l.lam * vi.vj) * vjd.vj)) AS c FROM {cm} C "
                f"JOIN {prev} vi ON vi.j = C.i "
                f"JOIN {prev} vjd ON vjd.j = C.j, lam{k} l)"
            )
    return parts


def _pca_oracle_sql(k_comps: int, iters: int) -> str:
    """DuckDB replay of embedding_pca_topk (see _pca_oracle_body)."""
    parts = _pca_oracle_body(k_comps, iters)
    sel = " UNION ALL ".join(
        f"SELECT {k} AS component, CAST(j AS INTEGER) AS dim, "
        f"round(vj, 6) AS weight FROM c{k}it{iters}"
        for k in range(k_comps)
    )
    parts.append(f" SELECT component, dim, weight FROM ({sel}) "
                 "ORDER BY component, dim")
    return "".join(parts)


def _whiten_oracle_sql(k_comps: int, iters: int) -> str:
    """DuckDB replay of embedding_whiten_topk: the shared PCA CTE body,
    then per-component Rayleigh against the ORIGINAL scatter C0, the
    v.S1 folds, the per-(vector, component) dot folds, whitening and
    the top-{WHITEN_TOP} cut on the unrounded norm -- operation order
    pinned identically to the Spark plan throughout."""
    parts = _pca_oracle_body(k_comps, iters)
    mv = _dk_fold("struct_pack(j := C.j, t := C.c * V.vj)")
    ry = _dk_fold("struct_pack(j := m2.i, t := V.vj * m2.m2)")
    for k in range(k_comps):
        parts.append(
            f", wm2x{k} AS MATERIALIZED (SELECT C.i, {mv} AS m2 FROM C0 C "
            f"JOIN c{k}it{iters} V ON V.j = C.j GROUP BY C.i)"
            f", wlam{k} AS MATERIALIZED (SELECT {k} AS component, {ry} "
            f"AS lam FROM wm2x{k} m2 JOIN c{k}it{iters} V ON V.j = m2.i)"
        )
    comps_union = " UNION ALL ".join(
        f"SELECT {k} AS component, j, vj FROM c{k}it{iters}"
        for k in range(k_comps)
    )
    lam_union = " UNION ALL ".join(
        f"SELECT component, lam FROM wlam{k}" for k in range(k_comps)
    )
    vs1_fold = _dk_fold("struct_pack(j := s1.i, t := V.vj * s1.s1)")
    dot_fold = _dk_fold("struct_pack(j := g.i, t := q.q[g.i + 1] * V.vj)")
    z_wide = ", ".join(
        f"max(CASE WHEN component = {k} THEN z END) AS z{k}"
        for k in range(k_comps)
    )
    wn2 = "(" + " + ".join(f"z{k} * z{k}" for k in range(k_comps)) + ")"
    z_out = ", ".join(f"round(z{k}, 6) AS z{k}" for k in range(k_comps))
    parts.append(
        f""", comps AS MATERIALIZED ({comps_union})
        , wlams AS MATERIALIZED ({lam_union})
        , vs1 AS MATERIALIZED (
            SELECT component, {vs1_fold} AS vs1
            FROM comps V JOIN s1 ON s1.i = V.j GROUP BY component)
        , dots AS MATERIALIZED (
            SELECT q.vec_id, V.component, {dot_fold} AS dot
            FROM q, generate_series(0, {EIG_D - 1}) g(i)
            JOIN comps V ON V.j = g.i
            GROUP BY q.vec_id, V.component)
        , zt AS MATERIALIZED (
            SELECT d.vec_id, d.component,
                   (nr.n * d.dot - v1.vs1) / sqrt(l.lam) AS z
            FROM dots d, nr
            JOIN vs1 v1 ON v1.component = d.component
            JOIN wlams l ON l.component = d.component)
        , wide AS MATERIALIZED (
            SELECT vec_id, {z_wide} FROM zt GROUP BY vec_id)
        , ranked AS (
            SELECT vec_id, {", ".join(f"z{k}" for k in range(k_comps))},
                   {wn2} AS wn2
            FROM wide ORDER BY wn2 DESC, vec_id LIMIT {WHITEN_TOP})
        SELECT vec_id, {z_out}, round(wn2, 4) AS wnorm2 FROM ranked"""
    )
    return "".join(parts)


QUERIES = {
    "bm25_topk": bm25_topk,
    "embedding_pca_topk": embedding_pca_topk,
    "embedding_whiten_topk": embedding_whiten_topk,
    "bpe_pair_counts": bpe_pair_counts,
    "bpe_apply_merge": bpe_apply_merge,
    "bpe_learn_merges": bpe_learn_merges,
    "jaccard_topk_similar": jaccard_topk_similar,
    "percentile_normalize": percentile_normalize,
    "inverted_postings": inverted_postings,
    "embedding_top_eigvec": embedding_top_eigvec,
    "dedup_family_agreement": dedup_family_agreement,
    "lm_score_bigram": lm_score_bigram,
    "dedup_cluster_sizes": dedup_cluster_sizes,
    "cross_split_leakage": cross_split_leakage,
}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "embedding_pca_topk": ("lang_conf",),
    "embedding_whiten_topk": ("lang_conf",),
    "embedding_top_eigvec": ("lang_conf",),
    "dedup_family_agreement": ("pairs:n3:t0.9", "sh_pairs:h3"),
    "dedup_cluster_sizes": ("pairs:n3:t0.9", "canon_cc"),
    "cross_split_leakage": ("pairs:n3:t0.9",),
}

_DK_TOK = th.dk_tokens("text")
_DK_SH = th.dk_shingles("text", 3)

_TF_COLS = ",\n                   ".join(
    f"len(list_filter(t, x -> lower(x) = '{t}')) AS tf_{i}"
    for i, t in enumerate(BM25_TERMS)
)
_DF_COLS = ", ".join(
    f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
    for i in range(len(BM25_TERMS))
)
_TERM_E4 = " + ".join(
    _bm25_term_sql(i, engine="duckdb") for i in range(len(BM25_TERMS))
)
_HITS = " + ".join(
    f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
    for i in range(len(BM25_TERMS))
)

ORACLES = {
    "bm25_topk": f"""
        WITH tk AS (
            SELECT doc_id, {_DK_TOK} AS t FROM documents
        ), per AS (
            SELECT doc_id, len(t) AS dl,
                   {_TF_COLS}
            FROM tk
        ), st AS (
            SELECT CAST(count(*) AS BIGINT) AS N,
                   CAST(sum(dl) AS BIGINT) AS T, {_DF_COLS}
            FROM per
        )
        SELECT doc_id,
               CAST({_HITS} AS INTEGER) AS n_hit_terms,
               CAST({_TERM_E4} AS BIGINT) AS score_e4
        FROM per, st
        WHERE {_HITS} > 0
        ORDER BY score_e4 DESC, doc_id ASC
        LIMIT {BM25_TOPK}
    """,
    "lm_score_bigram": f"""
        WITH tk AS (
            SELECT doc_id, source, {_DK_TOK} AS t FROM documents
        ), ix AS (
            SELECT doc_id, source, t,
                   unnest(generate_series(1, len(t) - 1)) AS i
            FROM tk WHERE len(t) >= 2
        ), doc_bg AS (
            SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, source FROM ix
        ), train AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
            FROM doc_bg
            WHERE CAST(NULLIF(regexp_extract(source, '(\\d+)$', 1), '')
                       AS BIGINT) % 4 = 0
            GROUP BY w1, w2
        ), train2 AS (
            SELECT w1, w2, c,
                   sum(c) OVER (PARTITION BY w1) AS c1
            FROM train
        ), v AS (
            SELECT greatest(CAST(count(DISTINCT w2) AS BIGINT), 1) AS V
            FROM train
        ), scored AS (
            SELECT b.doc_id,
                   (2 * (10000 * (coalesce(t2.c, 0) + 1))
                    + (coalesce(w1t.c1, 0) + v.V))
                   // (2 * (coalesce(w1t.c1, 0) + v.V)) AS p_e4
            FROM doc_bg b
            LEFT JOIN train2 t2 ON b.w1 = t2.w1 AND b.w2 = t2.w2
            LEFT JOIN (SELECT DISTINCT w1, c1 FROM train2) w1t
                   ON b.w1 = w1t.w1
            CROSS JOIN v
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST((2 * sum(p_e4) + count(*)) // (2 * count(*))
                    AS BIGINT) AS lm_score_e4
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    "dedup_cluster_sizes": f"""
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
            WHERE c::DOUBLE / (n_a + n_b - c) >= {LEAK_TAU}
        ), sym AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ), reach(node, label) AS (
            SELECT a, a FROM sym
            UNION
            SELECT s.a, r.label FROM sym s JOIN reach r ON s.b = r.node
        ), canon AS (
            SELECT node AS doc_id, min(label) AS canonical_id
            FROM reach GROUP BY node
        ), sizes AS (
            SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
            FROM canon GROUP BY canonical_id
        ), census AS (
            SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(sum(cluster_size) AS BIGINT) AS n_docs
            FROM sizes GROUP BY cluster_size
        ), singles AS (
            SELECT CAST(1 AS BIGINT) AS cluster_size,
                   CAST(count(*) AS BIGINT) AS n_clusters,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM canon c
                              WHERE c.doc_id = d.doc_id)
            HAVING count(*) > 0
        )
        SELECT * FROM census UNION ALL SELECT * FROM singles
        ORDER BY cluster_size
    """,
    "cross_split_leakage": f"""
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
        ), pairs AS (
            SELECT doc_a, doc_b,
                   round(c::DOUBLE / (n_a + n_b - c), 4) AS jaccard
            FROM common
            WHERE c::DOUBLE / (n_a + n_b - c) >= {LEAK_TAU}
        ), tagged AS (
            SELECT least(
                       CASE WHEN doc_a % 100 < 80 THEN 'train'
                            WHEN doc_a % 100 < 90 THEN 'val'
                            ELSE 'test' END,
                       CASE WHEN doc_b % 100 < 80 THEN 'train'
                            WHEN doc_b % 100 < 90 THEN 'val'
                            ELSE 'test' END) AS split_a,
                   greatest(
                       CASE WHEN doc_a % 100 < 80 THEN 'train'
                            WHEN doc_a % 100 < 90 THEN 'val'
                            ELSE 'test' END,
                       CASE WHEN doc_b % 100 < 80 THEN 'train'
                            WHEN doc_b % 100 < 90 THEN 'val'
                            ELSE 'test' END) AS split_b,
                   CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) AS j_e4
            FROM pairs
        )
        SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(max(j_e4) AS BIGINT) AS max_jaccard_e4
        FROM tagged GROUP BY split_a, split_b ORDER BY split_a, split_b
    """,
}

ORACLES["bpe_pair_counts"] = f"""
    WITH wd AS (
        SELECT unnest({_DK_TOK}) AS word FROM documents
    ), ix AS (
        SELECT word, unnest(generate_series(1, length(word) - 1)) AS i
        FROM wd WHERE length(word) >= 2
    ), p AS (
        SELECT substring(word, i, 2) AS pair FROM ix
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT {BPE_TOP}
"""

_DK_GRAMS = th.dk_gram_hashes_from_token_hashes(
    th.dk_token_hashes(_DK_TOK), 3
)

ORACLES["bpe_apply_merge"] = f"""
    WITH wd AS (
        SELECT unnest({_DK_TOK}) AS w FROM documents
    ), wds AS (
        SELECT w FROM wd WHERE length(w) >= 2
    ), p1 AS (
        SELECT substring(w, i, 2) AS pair
        FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
              FROM wds)
    ), top1 AS (
        SELECT pair AS merged_pair FROM p1
        GROUP BY pair ORDER BY count(*) DESC, pair ASC LIMIT 1
    ), m AS (
        SELECT replace(w, merged_pair, chr(1)) AS w2, merged_pair
        FROM wds, top1
    ), p2 AS (
        SELECT substring(w2, i, 2) AS pair, merged_pair
        FROM (SELECT w2, merged_pair,
                     unnest(generate_series(1, length(w2) - 1)) AS i
              FROM m WHERE length(w2) >= 2)
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n,
           any_value(merged_pair) AS merged_pair
    FROM p2 GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT {BPE_TOP}
"""

ORACLES["jaccard_topk_similar"] = f"""
    WITH t AS (
        SELECT doc_id, {_DK_GRAMS} AS hs FROM documents
    ), e AS (
        SELECT doc_id, len(hs) AS n_sh, unnest(hs) AS h FROM t
    ), pr AS (
        SELECT doc_id AS probe_id, n_sh AS n_p, h
        FROM e WHERE doc_id < {SIM_PROBES}
    ), common AS (
        SELECT pr.probe_id, e.doc_id,
               any_value(pr.n_p) AS n_p, any_value(e.n_sh) AS n_d,
               CAST(count(*) AS BIGINT) AS c
        FROM e JOIN pr ON e.h = pr.h
        WHERE e.doc_id != pr.probe_id
        GROUP BY pr.probe_id, e.doc_id
    ), ranked AS (
        SELECT probe_id, doc_id, c, n_p, n_d,
               row_number() OVER (
                   PARTITION BY probe_id
                   ORDER BY c / (n_p + n_d - c) DESC, doc_id ASC
               ) AS rank
        FROM common
    )
    SELECT probe_id, doc_id, CAST(rank AS INTEGER) AS rank,
           round(c / (n_p + n_d - c), 4) AS jaccard
    FROM ranked WHERE rank <= {SIM_TOPK} ORDER BY probe_id, rank
"""

ORACLES["percentile_normalize"] = """
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars ASC, doc_id ASC) AS rk,
               count(*) OVER (PARTITION BY source) AS n_src
        FROM documents
    )
    SELECT doc_id, source,
           CAST((2 * 10000 * rk + n_src) // (2 * n_src) AS BIGINT)
               AS pct_e4
    FROM r ORDER BY doc_id
"""

ORACLES["inverted_postings"] = f"""
    WITH toks AS (
        SELECT doc_id, lower(unnest({_DK_TOK})) AS term FROM documents
    ), hits AS (
        SELECT DISTINCT doc_id, term FROM toks
        WHERE term IN ('spark', 'table', 'hash', 'merge')
    ), r AS (
        SELECT term, doc_id,
               row_number() OVER (PARTITION BY term ORDER BY doc_id)
                   AS rn,
               count(*) OVER (PARTITION BY term) AS df
        FROM hits
    )
    SELECT term, CAST((rn - 1) // {POSTINGS_CAP} AS INTEGER) AS chunk,
           CAST(any_value(df) AS BIGINT) AS df,
           CAST(count(*) AS BIGINT) AS n_in_chunk,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM r GROUP BY term, (rn - 1) // {POSTINGS_CAP}
    ORDER BY term, chunk
"""

ORACLES["embedding_top_eigvec"] = """
    WITH q AS (
        SELECT list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 10000
                                              + 0.5) AS BIGINT)) AS q
        FROM embeddings
    ), nr AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM q
    ), s1 AS (
        SELECT i, CAST(sum(q[i + 1]) AS BIGINT) AS s1
        FROM q, generate_series(0, 63) g(i) GROUP BY i
    ), s2 AS (
        SELECT i, j, CAST(sum(q[i + 1] * q[j + 1]) AS BIGINT) AS s2
        FROM q, generate_series(0, 63) g1(i),
                generate_series(0, 63) g2(j)
        GROUP BY i, j
    ), C AS (
        SELECT s2.i, s2.j,
               CAST(nr.n * s2.s2 - a.s1 * b.s1 AS BIGINT) AS c
        FROM s2, nr
        JOIN s1 a ON a.i = s2.i
        JOIN s1 b ON b.i = s2.j
    ), v0 AS (
        SELECT i AS j,
               CASE WHEN i = 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS vj
        FROM s1
    )
    , it1m AS (
        SELECT C.i,
               list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := C.j, t := C.c * v0.vj))), x -> x['t'])), (a, b) -> a + b) AS m
        FROM C JOIN v0 ON v0.j = C.j
        GROUP BY C.i
    ), it1n AS (
        SELECT list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := i, t := m * m))), x -> x['t'])), (a, b) -> a + b) AS n2 FROM it1m
    ), it1 AS (
        SELECT i AS j, m / sqrt(n2) AS vj FROM it1m, it1n
    )
    , it2m AS (
        SELECT C.i,
               list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := C.j, t := C.c * it1.vj))), x -> x['t'])), (a, b) -> a + b) AS m
        FROM C JOIN it1 ON it1.j = C.j
        GROUP BY C.i
    ), it2n AS (
        SELECT list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := i, t := m * m))), x -> x['t'])), (a, b) -> a + b) AS n2 FROM it2m
    ), it2 AS (
        SELECT i AS j, m / sqrt(n2) AS vj FROM it2m, it2n
    )
    , it3m AS (
        SELECT C.i,
               list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := C.j, t := C.c * it2.vj))), x -> x['t'])), (a, b) -> a + b) AS m
        FROM C JOIN it2 ON it2.j = C.j
        GROUP BY C.i
    ), it3n AS (
        SELECT list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := i, t := m * m))), x -> x['t'])), (a, b) -> a + b) AS n2 FROM it3m
    ), it3 AS (
        SELECT i AS j, m / sqrt(n2) AS vj FROM it3m, it3n
    )
    , it4m AS (
        SELECT C.i,
               list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := C.j, t := C.c * it3.vj))), x -> x['t'])), (a, b) -> a + b) AS m
        FROM C JOIN it3 ON it3.j = C.j
        GROUP BY C.i
    ), it4n AS (
        SELECT list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := i, t := m * m))), x -> x['t'])), (a, b) -> a + b) AS n2 FROM it4m
    ), it4 AS (
        SELECT i AS j, m / sqrt(n2) AS vj FROM it4m, it4n
    )
    , it5m AS (
        SELECT C.i,
               list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := C.j, t := C.c * it4.vj))), x -> x['t'])), (a, b) -> a + b) AS m
        FROM C JOIN it4 ON it4.j = C.j
        GROUP BY C.i
    ), it5n AS (
        SELECT list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := i, t := m * m))), x -> x['t'])), (a, b) -> a + b) AS n2 FROM it5m
    ), it5 AS (
        SELECT i AS j, m / sqrt(n2) AS vj FROM it5m, it5n
    )
    , it6m AS (
        SELECT C.i,
               list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := C.j, t := C.c * it5.vj))), x -> x['t'])), (a, b) -> a + b) AS m
        FROM C JOIN it5 ON it5.j = C.j
        GROUP BY C.i
    ), it6n AS (
        SELECT list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort(list(struct_pack(j := i, t := m * m))), x -> x['t'])), (a, b) -> a + b) AS n2 FROM it6m
    ), it6 AS (
        SELECT i AS j, m / sqrt(n2) AS vj FROM it6m, it6n
    )
    SELECT CAST(j AS INTEGER) AS dim, round(vj, 6) AS weight
    FROM it6 ORDER BY dim
"""

ORACLES["dedup_family_agreement"] = f"""
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
    ), jac AS (
        SELECT doc_a, doc_b FROM common
        WHERE c::DOUBLE / (n_a + n_b - c) >= {LEAK_TAU}
    ), f AS (
        SELECT doc_id,
               {{SIMHASH}} AS simhash
        FROM documents
    ), sim AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM f a JOIN f b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ), u AS (
        SELECT coalesce(j.doc_a, s.doc_a) AS doc_a,
               CASE WHEN j.doc_a IS NOT NULL THEN 1 ELSE 0 END
                   AS in_jaccard,
               CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END
                   AS in_simhash
        FROM jac j FULL OUTER JOIN sim s
          ON j.doc_a = s.doc_a AND j.doc_b = s.doc_b
    )
    SELECT CAST(in_jaccard AS INTEGER) AS in_jaccard,
           CAST(in_simhash AS INTEGER) AS in_simhash,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM u GROUP BY 1, 2 ORDER BY in_jaccard, in_simhash
"""
ORACLES["dedup_family_agreement"] = ORACLES["dedup_family_agreement"].replace(
    "{SIMHASH}", th.dk_simhash(th.dk_token_hashes(_DK_TOK))
)

ORACLES["embedding_pca_topk"] = _pca_oracle_sql(EIG_K, EIG_ITERS)
ORACLES["embedding_whiten_topk"] = _whiten_oracle_sql(EIG_K, EIG_ITERS)


def _bpe_merges_oracle(k: int) -> str:
    """Unrolled DuckDB replay of bpe_learn_merges: the same loop emits
    one (pairs -> winner -> merged vocab) CTE block per step."""
    parts = [f"""
    WITH v0 AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest({_DK_TOK}) AS w FROM documents)
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
        SELECT replace(w, (SELECT pair FROM t{t}), chr({t})) AS w,
               CAST(sum(n) AS BIGINT) AS n
        FROM v{t - 1} GROUP BY 1
    )""")
    sel = " UNION ALL ".join(
        f"SELECT CAST({t} AS INTEGER) AS step, pair AS merged_pair, "
        f"n_occurrences FROM t{t}"
        for t in range(1, k + 1)
    )
    parts.append(f" SELECT step, merged_pair, n_occurrences FROM ({sel}) ORDER BY step")
    return "".join(parts)


ORACLES["bpe_learn_merges"] = _bpe_merges_oracle(BPE_MERGES)
