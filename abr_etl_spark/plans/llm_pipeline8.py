"""LLM-training-data pipeline, part 8 (rounds 10-11).

Round 11 adds ``mmr_lambda_sweep`` (the diversity-vs-relevance tuning
curve over exact-integer lambda weights; one shared candidate/pair
computation, five greedy chains) and ``ann_pq_adc`` (product-
quantization ANN with asymmetric distance -- Jegou et al. 2011 -- the
16-byte-code regime where the shuffle carries codes, never vectors).

Operators a corpus-assembly team runs between dedup and packing:

- ``cross_source_ngram_overlap``: the source-pair redundancy MATRIX --
  vocabulary Jaccard over word-3-gram hashes for every source pair.
  dup_inflation_report prices duplication WITHIN the canonical graph;
  this prices lexical redundancy BETWEEN sources (two crawls of the
  same sites show up here long before doc-level dedup fires), the
  number corpus-mix weights are negotiated against.
- ``pack_efficiency_report``: the packing telemetry behind
  sequence_pack -- bins, fill rate, boundary-spanning docs, wasted
  capacity. A packer without this report cannot be tuned (cap too
  small -> spanning docs explode; too large -> tail waste).
- ``mmr_diversify_topk``: maximal-marginal-relevance re-ranking of
  exact top-k neighbors (Carbonell & Goldstein 1998) -- the selection
  step that turns "k nearest" into "k nearest AND mutually diverse",
  used to pick few-shot exemplars / dedup retrieval contexts. Greedy
  argmax of 7*rel - 3*maxsim (lambda = 0.7 as exact integer weights)
  in 1e-6 integer units, so the argmax chain is bit-replayable.

Scale shapes:

- overlap: one distinct (source, gram-hash) shuffle; the pair census
  joins that table with itself ON THE GRAM -- per-gram fan-out is
  bounded by the SOURCE COUNT (pairs-per-gram <= P(P-1)/2, with P in
  the dozens for any real corpus), never by corpus size; zero-overlap
  pairs come from the P^2-row broadcast of per-source vocab sizes.
- pack report: one aggregate over sequence_pack's manifest (which is
  itself the two-level distributed prefix sum -- no global window).
- MMR: candidate generation is the audited broadcast top-k; everything
  after operates on (queries x candidates) rows -- k * |Q| scale,
  driver-loop-free, each greedy step one tiny join.

Reference parity: the reference (abr-etl, Go) has no corpus tooling;
these extend the engine's training-data block (SURVEY.md §2.C).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from abr_etl_spark.functions import texthash as th
from abr_etl_spark.operators import similarity
from abr_etl_spark.plans.llm_pipeline import (
    ANN_K,
    EMB_DIM,
    IVF_SEED_PRED,
    N_QUERY_VECS,
)
from abr_etl_spark.plans.llm_pipeline4 import PACK_CAP
from abr_etl_spark.sources.lake import load_table

#: word-n-gram order for the cross-source vocabulary (same grams the
#: dedup family shingles on).
OVERLAP_N = 3
#: MMR: candidate pool size, picks per query, and lambda = MMR_WREL /
#: (MMR_WREL + MMR_WDIV) = 0.7 expressed as exact integer weights.
MMR_CANDS = 8
MMR_K = 3
MMR_WREL = 7
MMR_WDIV = 3


def cross_source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, vocab_a, vocab_b, n_common, jaccard_e4) for
    every unordered source pair -- vocabulary Jaccard over distinct
    word-{OVERLAP_N}-gram polynomial hashes (identical gram hashing to
    the dedup family, so any hash collision merges identically in the
    DuckDB oracle). Pairs sharing nothing still report (jaccard 0)."""
    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.select(
            "source",
            F.expr(
                th.sp_token_hashes(th.sp_tokens("text"))
            ).alias("__th"),
        )
        .select(
            "source",
            F.explode(
                F.expr(
                    th.sp_gram_hashes_from_token_hashes("__th", OVERLAP_N)
                )
            ).alias("g"),
        )
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count("*").alias("vocab"))
    inter = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    pairs = (
        sizes.alias("sa")
        .join(
            broadcast(sizes.alias("sb")),
            F.col("sa.source") < F.col("sb.source"),
        )
        .select(
            F.col("sa.source").alias("source_a"),
            F.col("sb.source").alias("source_b"),
            F.col("sa.vocab").alias("vocab_a"),
            F.col("sb.vocab").alias("vocab_b"),
        )
    )
    return (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_common",
            F.expr(
                "CASE WHEN vocab_a + vocab_b - n_common = 0 THEN NULL"
                " ELSE (2 * 10000 * n_common"
                "       + (vocab_a + vocab_b - n_common))"
                " DIV (2 * (vocab_a + vocab_b - n_common)) END"
            ).alias("jaccard_e4"),
        )
        .orderBy("source_a", "source_b")
    )


def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-row packing telemetry over sequence_pack's manifest:
    (n_docs, tokens_total, n_bins, capacity, fill_e4, n_spanning,
    waste_tokens). fill = tokens/capacity in half-up 1e-4 units;
    spanning docs cross a bin boundary (the loader must split them);
    waste is the unfilled tail capacity."""
    from abr_etl_spark.plans.llm_pipeline4 import sequence_pack

    m = sequence_pack(spark, sf_dir)
    return (
        m.agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("tokens_total"),
            (F.max("bin_last") + 1).alias("n_bins"),
            F.sum(
                F.when(F.col("bin_first") < F.col("bin_last"), 1)
                .otherwise(0)
            ).alias("n_spanning"),
        )
        .select(
            "n_docs",
            "tokens_total",
            "n_bins",
            (F.col("n_bins") * PACK_CAP).alias("capacity"),
            F.expr(
                f"CASE WHEN n_bins IS NULL OR n_bins = 0 THEN NULL"
                f" ELSE (2 * 10000 * tokens_total + n_bins * {PACK_CAP})"
                f" DIV (2 * n_bins * {PACK_CAP}) END"
            ).alias("fill_e4"),
            "n_spanning",
            F.expr(
                f"n_bins * {PACK_CAP} - tokens_total"
            ).alias("waste_tokens"),
        )
    )


def _rel_e6(cos_col: str) -> str:
    """Rounded-cosine -> exact 1e-6 integer units (identical text shape
    both engines; the *1e6 product of an already-6-decimal value is
    integral up to FP error, so the final round never sees a .5)."""
    return f"CAST(round({cos_col} * 1000000.0, 0) AS BIGINT)"


def _mmr_inputs(
    spark: SparkSession, sf_dir: str, cands: int
) -> tuple[DataFrame, DataFrame]:
    """Shared MMR inputs: the exact top-``cands`` candidate list per
    query (query_id, neighbor_id, rel_e6) and the candidate-pair
    similarity table (query_id, i, j, sim_e6) -- both materialized
    through the cache registry, so every lambda of a sweep (and every
    greedy step) reuses ONE computation of the broadcast top-k."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERY_VECS)
    cand = (
        similarity.cosine_topk(e, q, k=cands)
        .select(
            "query_id",
            "neighbor_id",
            F.expr(_rel_e6("cos")).alias("rel_e6"),
        )
    )
    vecs = e.select("vec_id", "embedding")
    sim = (
        cand.select("query_id", F.col("neighbor_id").alias("i"))
        .join(
            cand.select("query_id", F.col("neighbor_id").alias("j")),
            "query_id",
        )
        .where(F.col("i") != F.col("j"))
        .join(
            broadcast(
                vecs.select(
                    F.col("vec_id").alias("i"),
                    F.col("embedding").alias("vi"),
                    F.expr(th.sp_norm("embedding")).alias("__ni"),
                )
            ),
            "i",
        )
        .join(
            broadcast(
                vecs.select(
                    F.col("vec_id").alias("j"),
                    F.col("embedding").alias("vj"),
                    F.expr(th.sp_norm("embedding")).alias("__nj"),
                )
            ),
            "j",
        )
        .select(
            "query_id",
            "i",
            "j",
            F.expr(
                _rel_e6(
                    f"round(({th.sp_dot('vi', 'vj')})"
                    f" / (__ni * __nj), 6)"
                )
            ).alias("sim_e6"),
        )
    )
    # tiny frames from here on: persist the two inputs every greedy step
    # re-reads so the loop's lineage doesn't re-run the broadcast top-k
    # (registered caches -- release_result_caches() reclaims them; the
    # canonical-plan dedup in CacheManager makes a sweep's lambdas share
    # ONE cached copy of each)
    from abr_etl_spark.functions.cache import materialize_result

    return (
        materialize_result(cand, family="mmr"),
        materialize_result(sim, family="mmr"),
    )


#: picked-array element type of the greedy fold (_mmr_fold_expr).
_MMR_PICK_T = "STRUCT<pick: INT, nid: BIGINT, rel: BIGINT, score: BIGINT>"
_MMR_BEST_T = "STRUCT<nid: BIGINT, rel: BIGINT, score: BIGINT>"


def _mmr_fold_expr(k: int, wrel: str, wdiv: str) -> str:
    """SQL expression computing the ENTIRE greedy MMR chain per row
    over two array columns -- ``cs`` (array<struct<nid, rel>>, the
    query's candidates) and ``ss`` (array<struct<i, j, s>>, their pair
    sims): k picks of argmax({wrel}*rel - {wdiv}*max-sim-to-picked),
    first pick by rel, every tie by nid asc, all BIGINT.

    r16 rewrite of the former k-step join/window chain: the chain was
    stage-latency-bound (each step = anti-join + sim join + window over
    a <= |Q| x cands row frame, and the picked subtree grew ~3^k, the
    measured 1.9 s -> 25.4 s plan-build cliff at k=6) -- the fold runs
    the identical selection map-side in ONE project, so cost is one
    groupBy-to-arrays shuffle regardless of k (opt guide 1.2: fix the
    algorithm's stage shape first). A candidate with NO sim row to the
    picked set is excluded from step >= 2 exactly as the old inner
    maxsim join excluded it. ``wrel``/``wdiv`` are SQL snippets --
    integer literals or column references -- so one builder serves the
    fixed-weight keys and the lambda sweep."""
    maxsim = (
        "aggregate(filter(ss, e1 -> e1.i = c.nid"
        " AND exists(st, p2 -> p2.nid = e1.j)),"
        " CAST(NULL AS BIGINT),"
        " (m, e2) -> CASE WHEN m IS NULL OR e2.s > m THEN e2.s"
        " ELSE m END)"
    )
    # best next pick given the picked state st (NULL when no eligible
    # candidate remains); ms is the hoisted maxsim value per candidate
    best_next = f"""aggregate(
        filter(cs, c0 -> NOT exists(st, p0 -> p0.nid = c0.nid)),
        CAST(NULL AS {_MMR_BEST_T}),
        (b, c) -> element_at(transform(array({maxsim}), ms ->
            CASE WHEN ms IS NULL THEN b
                 WHEN b IS NULL
                      OR CAST({wrel} AS BIGINT) * c.rel
                         - CAST({wdiv} AS BIGINT) * ms > b.score
                      OR (CAST({wrel} AS BIGINT) * c.rel
                          - CAST({wdiv} AS BIGINT) * ms = b.score
                          AND c.nid < b.nid)
                 THEN named_struct('nid', c.nid, 'rel', c.rel,
                      'score', CAST({wrel} AS BIGINT) * c.rel
                               - CAST({wdiv} AS BIGINT) * ms)
                 ELSE b END), 1))"""
    best_first = f"""aggregate(cs, CAST(NULL AS {_MMR_BEST_T}),
        (b1, c1) -> CASE
            WHEN b1 IS NULL OR c1.rel > b1.rel
                 OR (c1.rel = b1.rel AND c1.nid < b1.nid)
            THEN named_struct('nid', c1.nid, 'rel', c1.rel,
                 'score', CAST({wrel} AS BIGINT) * c1.rel)
            ELSE b1 END)"""
    init = f"""element_at(transform(array({best_first}), nb0 ->
        CASE WHEN nb0 IS NULL THEN CAST(array() AS ARRAY<{_MMR_PICK_T}>)
             ELSE array(named_struct('pick', 1, 'nid', nb0.nid,
                  'rel', nb0.rel, 'score', nb0.score)) END), 1)"""
    step = f"""element_at(transform(array({best_next}), nb ->
        CASE WHEN nb IS NULL THEN st
             ELSE array_append(st, named_struct(
                  'pick', CAST(size(st) + 1 AS INT), 'nid', nb.nid,
                  'rel', nb.rel, 'score', nb.score)) END), 1)"""
    if k <= 1:
        return init
    return f"aggregate(sequence(2, {k}), {init}, (st, tt) -> {step})"


def _mmr_rows(cand: DataFrame, sim: DataFrame) -> DataFrame:
    """Per-query array form of the MMR inputs: (query_id, cs, ss)."""
    cs = cand.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("neighbor_id").alias("nid"),
                    F.col("rel_e6").alias("rel"),
                )
            )
        ).alias("cs")
    )
    ss = sim.groupBy("query_id").agg(
        F.collect_list(
            F.struct(
                F.col("i").alias("i"),
                F.col("j").alias("j"),
                F.col("sim_e6").alias("s"),
            )
        ).alias("ss")
    )
    return cs.join(ss, "query_id", "left").select(
        "query_id",
        "cs",
        F.expr(
            "coalesce(ss, CAST(array() AS"
            " ARRAY<STRUCT<i: BIGINT, j: BIGINT, s: BIGINT>>))"
        ).alias("ss"),
    )


def _mmr_greedy(
    cand: DataFrame, sim: DataFrame, *, k: int, wrel: int, wdiv: int
) -> DataFrame:
    """Greedy MMR over prepared inputs: pick argmax of
    wrel*rel_e6 - wdiv*max-sim-to-picked (first pick wrel*rel_e6),
    ties by neighbor_id -- all BIGINT, so Spark and the unrolled-CTE
    DuckDB oracle replay the identical chain. One groupBy-to-arrays +
    one map-side fold (_mmr_fold_expr): constant work in corpus size
    AND in k."""
    return (
        _mmr_rows(cand, sim)
        .select(
            "query_id",
            F.explode(
                F.expr(_mmr_fold_expr(k, str(wrel), str(wdiv)))
            ).alias("p"),
        )
        .select(
            "query_id",
            F.col("p.pick").alias("pick"),
            F.col("p.nid").alias("neighbor_id"),
            F.col("p.rel").alias("rel_e6"),
            F.col("p.score").alias("score_e7"),
        )
    )


def mmr_diversify_topk(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = MMR_K,
    cands: int = MMR_CANDS,
    wrel: int = MMR_WREL,
    wdiv: int = MMR_WDIV,
) -> DataFrame:
    """MMR-diversified top-``k`` per query: greedy over the exact
    top-``cands`` cosine candidates with integer weights (the plan key
    pins the defaults k={MMR_K}, cands={MMR_CANDS}, lambda =
    {MMR_WREL}/({MMR_WREL}+{MMR_WDIV}) for the oracle; callers tune all
    four). Output (query_id, pick, neighbor_id, rel_e6, score_e7).

    Scale: candidates come from the audited broadcast top-k; the greedy
    loop is constant-size work however large the corpus behind the
    top-k is (see _mmr_greedy)."""
    cand, sim = _mmr_inputs(spark, sf_dir, cands)
    return _mmr_greedy(cand, sim, k=k, wrel=wrel, wdiv=wdiv).orderBy(
        "query_id", "pick"
    )


#: lambda sweep grid as exact (wrel, wdiv) integer weights summing to
#: 10, so every lambda's scores stay in the same 1e-7 units:
#: lambda = wrel/10 in {1.0, 0.8, 0.7, 0.5, 0.3}.
MMR_LAMBDA_GRID: list[tuple[int, int]] = [
    (10, 0),
    (8, 2),
    (7, 3),
    (5, 5),
    (3, 7),
]


def mmr_lambda_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The diversity-vs-relevance trade-off curve behind MMR tuning
    (ann_nprobe_sweep's pattern applied to the re-ranker): one row per
    lambda -- (wrel, wdiv, n_picks, sum_rel_e6, sum_pairsim_e6), where
    sum_rel_e6 is total picked relevance (falls as lambda drops) and
    sum_pairsim_e6 totals the pairwise similarity AMONG picks per query
    (intra-list redundancy -- also falls as lambda drops). lambda=1
    reduces MMR to plain top-k (pytest-proved invariance).

    Scale: the candidate top-k and pair-sim tables are computed ONCE
    (materialized, canonical-plan-shared), and ALL lambdas run through
    ONE greedy chain -- the lambda grid is crossed into the candidate
    frame as (wrel, wdiv) key columns, so each greedy step is a single
    window over (lambda, query) partitions instead of five sequential
    per-lambda chains (measured 17.1 s -> ~3 s warm: the chain is
    stage-latency-bound, not data-bound, and 5x rows in one stage is
    free while 5x stages are not)."""
    cand, sim = _mmr_inputs(spark, sf_dir, MMR_CANDS)
    lam = broadcast(
        spark.createDataFrame(MMR_LAMBDA_GRID, "wrel int, wdiv int")
    )
    # r16: the whole per-lambda greedy chain is the map-side fold
    # (_mmr_fold_expr with the weights as COLUMN references), run on
    # the per-query array rows crossed with the broadcast lambda grid;
    # the per-lambda relevance and intra-list pair-sim totals reduce
    # the picked array and the row's own sim array in the same project
    # (each unordered pick pair counted once via e.i < e.j), so the
    # whole sweep is one groupBy-to-arrays + one 5-row aggregate.
    rows = _mmr_rows(cand, sim).crossJoin(lam)
    folded = rows.select(
        "wrel",
        "wdiv",
        "query_id",
        "ss",
        F.expr(_mmr_fold_expr(MMR_K, "wrel", "wdiv")).alias("pk"),
    )
    per_q = folded.select(
        "wrel",
        "wdiv",
        F.expr("CAST(size(pk) AS BIGINT)").alias("__n"),
        F.expr(
            "aggregate(pk, CAST(0 AS BIGINT), (a0, p3) -> a0 + p3.rel)"
        ).alias("__rel"),
        F.expr(
            "aggregate(filter(ss, e3 -> e3.i < e3.j"
            " AND exists(pk, p4 -> p4.nid = e3.i)"
            " AND exists(pk, p5 -> p5.nid = e3.j)),"
            " CAST(0 AS BIGINT), (a1, e4) -> a1 + e4.s)"
        ).alias("__ps"),
    )
    return (
        per_q.groupBy("wrel", "wdiv")
        .agg(
            F.sum("__n").alias("n_picks"),
            F.coalesce(F.sum("__rel"), F.lit(0)).alias("sum_rel_e6"),
            F.coalesce(F.sum("__ps"), F.lit(0).cast("long")).alias(
                "sum_pairsim_e6"
            ),
        )
        .orderBy(F.col("wrel").desc())
    )


QUERIES = {
    "cross_source_ngram_overlap": cross_source_ngram_overlap,
    "pack_efficiency_report": pack_efficiency_report,
    "mmr_diversify_topk": mmr_diversify_topk,
    "mmr_lambda_sweep": mmr_lambda_sweep,
}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "mmr_diversify_topk": ("mmr",),
    "mmr_lambda_sweep": ("mmr",),
    "dedup_weighted_jaccard": ("pairs:n3:t0.9", "census:n3"),
    "lsh_band_sweep": ("lsh_sweep", "pairs:n3:t0.9"),
}


_DK_GRAMS = th.dk_gram_hashes_from_token_hashes(
    th.dk_token_hashes(th.dk_tokens("text")), OVERLAP_N
)


def _mmr_prefix_sql() -> str:
    """Shared DuckDB CTEs: brute-force candidates at k={MMR_CANDS} and
    the candidate-pair similarity table (computed once per statement,
    whatever number of lambda chains hangs off them)."""
    rel = "CAST(round(cos * 1000000.0, 0) AS BIGINT)"
    sim_cos = f"round({th.dk_cosine('ea.embedding', 'eb.embedding')}, 6)"
    return f"""
    WITH scored AS MATERIALIZED (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({th.dk_cosine('q.embedding', 'c.embedding')}, 6)
                   AS cos
        FROM embeddings c, embeddings q
        WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
    ), cand AS MATERIALIZED (
        SELECT query_id, neighbor_id, {rel} AS rel_e6 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) WHERE rnk <= {MMR_CANDS}
    ), sim AS MATERIALIZED (
        SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
               CAST(round({sim_cos} * 1000000.0, 0) AS BIGINT) AS sim_e6
        FROM cand a
        JOIN cand b ON a.query_id = b.query_id
                   AND a.neighbor_id <> b.neighbor_id
        JOIN embeddings ea ON ea.vec_id = a.neighbor_id
        JOIN embeddings eb ON eb.vec_id = b.neighbor_id
    )"""


def _mmr_chain_sql(wrel: int, wdiv: int, k: int, tag: str = "") -> str:
    """The unrolled greedy chain for ONE (wrel, wdiv): CTE fragments
    s1{tag}..s{k}{tag} (leading comma, appended after the shared
    prefix), each taking the per-query argmax of the integer score."""
    parts = [f"""
    , s1{tag} AS MATERIALIZED (
        SELECT query_id, 1 AS pick, neighbor_id, rel_e6,
               {wrel} * rel_e6 AS score_e7
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY rel_e6 DESC, neighbor_id ASC) AS rn
            FROM cand
        ) WHERE rn = 1
    )"""]
    prev_union = f"SELECT query_id, neighbor_id FROM s1{tag}"
    for t in range(2, k + 1):
        parts.append(f"""
    , r{t}{tag} AS (
        SELECT c.query_id, c.neighbor_id, c.rel_e6,
               {wrel} * c.rel_e6 - {wdiv} * max(s.sim_e6)
                   AS score_e7
        FROM cand c
        JOIN sim s ON s.query_id = c.query_id
                  AND s.i = c.neighbor_id
                  AND s.j IN (SELECT neighbor_id
                              FROM ({prev_union}) p
                              WHERE p.query_id = c.query_id)
        WHERE c.neighbor_id NOT IN (
            SELECT neighbor_id FROM ({prev_union}) p
            WHERE p.query_id = c.query_id)
        GROUP BY c.query_id, c.neighbor_id, c.rel_e6
    ), s{t}{tag} AS MATERIALIZED (
        SELECT query_id, {t} AS pick, neighbor_id, rel_e6, score_e7
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY score_e7 DESC, neighbor_id ASC) AS rn
            FROM r{t}{tag}
        ) WHERE rn = 1
    )""")
        prev_union += (
            f" UNION ALL SELECT query_id, neighbor_id FROM s{t}{tag}"
        )
    return "".join(parts)


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in DuckDB at the plan key's pinned
    constants."""
    chain = _mmr_chain_sql(MMR_WREL, MMR_WDIV, MMR_K)
    sel = " UNION ALL ".join(
        f"SELECT query_id, CAST(pick AS INTEGER) AS pick, neighbor_id,"
        f" rel_e6, CAST(score_e7 AS BIGINT) AS score_e7 FROM s{t}"
        for t in range(1, MMR_K + 1)
    )
    return f"""{_mmr_prefix_sql()}{chain}
    {sel}
    ORDER BY query_id, pick"""


def _mmr_sweep_oracle() -> str:
    """One statement, one shared prefix, {len(MMR_LAMBDA_GRID)} greedy
    chains: per lambda the picked set p_<tag> and its two exact-integer
    axes (total relevance, total intra-list pair similarity)."""
    parts = [_mmr_prefix_sql()]
    selects = []
    for wrel, wdiv in MMR_LAMBDA_GRID:
        tag = f"_w{wrel}"
        parts.append(_mmr_chain_sql(wrel, wdiv, MMR_K, tag))
        picks_union = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id, rel_e6 FROM s{t}{tag}"
            for t in range(1, MMR_K + 1)
        )
        parts.append(f"""
    , p{tag} AS MATERIALIZED ({picks_union})""")
        selects.append(f"""
    SELECT CAST({wrel} AS INTEGER) AS wrel,
           CAST({wdiv} AS INTEGER) AS wdiv,
           (SELECT CAST(count(*) AS BIGINT) FROM p{tag}) AS n_picks,
           (SELECT CAST(coalesce(sum(rel_e6), 0) AS BIGINT) FROM p{tag})
               AS sum_rel_e6,
           CAST(coalesce((SELECT sum(s.sim_e6)
                FROM p{tag} a
                JOIN p{tag} b ON a.query_id = b.query_id
                             AND a.neighbor_id < b.neighbor_id
                JOIN sim s ON s.query_id = a.query_id
                          AND s.i = a.neighbor_id
                          AND s.j = b.neighbor_id), 0) AS BIGINT)
               AS sum_pairsim_e6""")
    parts.append(" UNION ALL ".join(selects))
    parts.append("""
    ORDER BY wrel DESC""")
    return "".join(parts)


ORACLES = {
    "cross_source_ngram_overlap": f"""
        WITH g AS MATERIALIZED (
            SELECT DISTINCT source, g FROM (
                SELECT source, unnest({_DK_GRAMS}) AS g FROM documents
            )
        ), sizes AS (
            SELECT source, CAST(count(*) AS BIGINT) AS vocab
            FROM g GROUP BY source
        ), inter AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT sa.source AS source_a, sb.source AS source_b,
               sa.vocab AS vocab_a, sb.vocab AS vocab_b,
               CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
               CASE WHEN sa.vocab + sb.vocab - coalesce(i.n_common, 0) = 0
                    THEN NULL
                    ELSE CAST((2 * 10000 * coalesce(i.n_common, 0)
                          + (sa.vocab + sb.vocab - coalesce(i.n_common, 0)))
                         // (2 * (sa.vocab + sb.vocab
                                  - coalesce(i.n_common, 0))) AS BIGINT)
               END AS jaccard_e4
        FROM sizes sa
        JOIN sizes sb ON sa.source < sb.source
        LEFT JOIN inter i
          ON i.source_a = sa.source AND i.source_b = sb.source
        ORDER BY source_a, source_b
    """,
    "pack_efficiency_report": f"""
        WITH t AS (
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
                       AS n_tok
            FROM documents
        ), c AS (
            SELECT doc_id, n_tok,
                   (sum(n_tok) OVER (ORDER BY doc_id) - n_tok)::BIGINT
                       AS tok_offset
            FROM t
        ), m AS (
            SELECT doc_id, n_tok,
                   tok_offset // {PACK_CAP} AS bin_first,
                   (tok_offset + n_tok - 1) // {PACK_CAP} AS bin_last
            FROM c
        )
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tokens_total,
               CAST(max(bin_last) + 1 AS BIGINT) AS n_bins,
               CAST((max(bin_last) + 1) * {PACK_CAP} AS BIGINT) AS capacity,
               CASE WHEN max(bin_last) IS NULL THEN NULL
                    ELSE CAST((2 * 10000 * sum(n_tok)
                               + (max(bin_last) + 1) * {PACK_CAP})
                         // (2 * (max(bin_last) + 1) * {PACK_CAP})
                         AS BIGINT)
               END AS fill_e4,
               CAST(sum(CASE WHEN bin_first < bin_last THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_spanning,
               CAST((max(bin_last) + 1) * {PACK_CAP} - sum(n_tok)
                    AS BIGINT) AS waste_tokens
        FROM m
    """,
    "mmr_diversify_topk": _mmr_oracle(),
    "mmr_lambda_sweep": _mmr_sweep_oracle(),
}


# ---------------------------------------------------------------- wave 2

#: token budget as an exact fraction of the corpus (6/10 = keep 60%).
BUDGET_NUM = 6
BUDGET_DEN = 10


def corpus_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources: given a
    budget B = {BUDGET_NUM}/{BUDGET_DEN} of the corpus' tokens, each
    source gets min(its tokens, fair water level) -- small sources keep
    everything, large sources are capped at a common level, leftover
    units go one-each to the first capped sources. THE allocation rule
    behind "keep curated sources whole, downsample the crawl to fit the
    budget"; corpus_mix applies fixed per-source rates, this COMPUTES
    the rates from a global budget.

    Exact-integer algebra, identical on both engines: order sources by
    (tokens asc, source asc); level_i = (B - prefix_{{i-1}}) DIV
    (P - i + 1); a source is kept whole iff tokens <= level. Kept is
    provably a PREFIX of that order (if i is capped, level_{{i+1}} <=
    level_i < tokens_i <= tokens_{{i+1}} caps i+1 too), hence
    sum_kept <= B and the residual base/remainder split never exceeds
    a capped source's tokens. Invariants pytest-checked via hypothesis.

    Scale shape: one map-side-combined token count per source, then
    windows over the P-row source frame (single-partition window is
    bounded by SOURCE CARDINALITY, not corpus size) and two broadcast
    1-row aggregates."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.coalesce(
            F.expr(f"sum(size({th.sp_tokens('text')}))").cast("long"),
            F.lit(0),
        ).alias("tokens_available")
    )
    tot = per_src.agg(
        F.coalesce(F.sum("tokens_available"), F.lit(0)).alias("__tot"),
        F.count("*").alias("__p"),
    )
    w = Window.orderBy(
        F.col("tokens_available").asc(), F.col("source").asc()
    )
    t = (
        per_src.crossJoin(broadcast(tot))
        .withColumn(
            "__budget",
            F.expr(f"({BUDGET_NUM} * __tot) DIV {BUDGET_DEN}"),
        )
        .withColumn("__i", F.row_number().over(w))
        .withColumn("__prefix", F.sum("tokens_available").over(w))
        .withColumn(
            "__level",
            F.expr(
                "(__budget - (__prefix - tokens_available))"
                " DIV (__p - __i + 1)"
            ),
        )
        .withColumn(
            "__kept",
            (F.col("tokens_available") <= F.col("__level")).cast("int"),
        )
    )
    kept_agg = t.agg(
        F.coalesce(
            F.sum(F.col("__kept") * F.col("tokens_available")), F.lit(0)
        ).alias("__sum_kept"),
        F.coalesce(F.sum("__kept"), F.lit(0)).alias("__n_kept"),
    )
    w2 = Window.orderBy(
        F.col("tokens_available").asc(), F.col("source").asc()
    )
    return (
        t.crossJoin(broadcast(kept_agg))
        .withColumn("__n_rest", F.col("__p") - F.col("__n_kept"))
        .withColumn(
            "__base",
            F.expr(
                "CASE WHEN __n_rest = 0 THEN 0"
                " ELSE (__budget - __sum_kept) DIV __n_rest END"
            ),
        )
        .withColumn(
            "__rem",
            F.expr(
                "CASE WHEN __n_rest = 0 THEN 0"
                " ELSE (__budget - __sum_kept) % __n_rest END"
            ),
        )
        .withColumn("__j", F.row_number().over(w2) - F.col("__n_kept"))
        .withColumn(
            "tokens_allocated",
            F.expr(
                "CASE WHEN __kept = 1 THEN tokens_available"
                " ELSE __base + CASE WHEN __j <= __rem THEN 1 ELSE 0 END"
                " END"
            ),
        )
        .withColumn(
            "kept_full",
            (F.col("tokens_allocated") == F.col("tokens_available"))
            .cast("int"),
        )
        .select(
            "source", "tokens_available", "tokens_allocated", "kept_full"
        )
        .orderBy("source")
    )


def lang_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, lang, n_docs, share_e4): each language's half-up 1e-4
    share of its source's docs -- the corpus-mix monitoring face of
    lang_id (which classifies; this reports the declared mix)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("source")
    return (
        counts.withColumn("__src_docs", F.sum("n_docs").over(w))
        .select(
            "source",
            "lang",
            "n_docs",
            F.expr(
                "(2 * 10000 * n_docs + __src_docs) DIV (2 * __src_docs)"
            ).alias("share_e4"),
        )
        .orderBy("source", "lang")
    )


def event_heatmap_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dow, hour, n_events, n_users) -- the 2-D activity histogram
    behind every ops heatmap; dow from the shared anchor-date
    arithmetic (engine dayofweek() definitions disagree), one map-side
    combined aggregate."""
    from abr_etl_spark.plans.analytics8 import _DOW_ANCHOR

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr(
                f"pmod(datediff(CAST(ts AS DATE), "
                f"DATE '{_DOW_ANCHOR}'), 7)"
            )
            .cast("long")
            .alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
            "user_id",
        )
        .groupBy("dow", "hour")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("dow", "hour")
    )


QUERIES.update(
    {
        "corpus_budget_waterfill": corpus_budget_waterfill,
        "lang_mix_by_source": lang_mix_by_source,
        "event_heatmap_cells": event_heatmap_cells,
    }
)

_DK_NTOK = f"len({th.dk_tokens('text')})"

ORACLES.update(
    {
        "corpus_budget_waterfill": f"""
        WITH per_src AS (
            SELECT source,
                   CAST(coalesce(sum({_DK_NTOK}), 0) AS BIGINT)
                       AS tokens_available
            FROM documents GROUP BY source
        ), tot AS (
            SELECT CAST(coalesce(sum(tokens_available), 0) AS BIGINT)
                       AS total,
                   CAST(count(*) AS BIGINT) AS p
            FROM per_src
        ), t AS (
            SELECT source, tokens_available,
                   ({BUDGET_NUM} * tot.total) // {BUDGET_DEN} AS budget,
                   tot.p AS p,
                   row_number() OVER (
                       ORDER BY tokens_available ASC, source ASC) AS i,
                   sum(tokens_available) OVER (
                       ORDER BY tokens_available ASC, source ASC) AS prefix
            FROM per_src, tot
        ), lv AS (
            SELECT *,
                   (budget - (prefix - tokens_available)) // (p - i + 1)
                       AS level,
                   CASE WHEN tokens_available <=
                        (budget - (prefix - tokens_available)) // (p - i + 1)
                        THEN 1 ELSE 0 END AS kept
            FROM t
        ), ka AS (
            SELECT CAST(coalesce(sum(kept * tokens_available), 0)
                        AS BIGINT) AS sum_kept,
                   CAST(coalesce(sum(kept), 0) AS BIGINT) AS n_kept
            FROM lv
        )
        SELECT source,
               tokens_available,
               CAST(CASE WHEN kept = 1 THEN tokens_available
                    ELSE (CASE WHEN p - ka.n_kept = 0 THEN 0
                          ELSE (budget - ka.sum_kept) // (p - ka.n_kept)
                          END)
                       + (CASE WHEN i - ka.n_kept <=
                               (CASE WHEN p - ka.n_kept = 0 THEN 0
                                ELSE (budget - ka.sum_kept)
                                     % (p - ka.n_kept) END)
                          THEN 1 ELSE 0 END)
                    END AS BIGINT) AS tokens_allocated,
               CAST(CASE WHEN (CASE WHEN kept = 1 THEN tokens_available
                    ELSE (CASE WHEN p - ka.n_kept = 0 THEN 0
                          ELSE (budget - ka.sum_kept) // (p - ka.n_kept)
                          END)
                       + (CASE WHEN i - ka.n_kept <=
                               (CASE WHEN p - ka.n_kept = 0 THEN 0
                                ELSE (budget - ka.sum_kept)
                                     % (p - ka.n_kept) END)
                          THEN 1 ELSE 0 END)
                    END) = tokens_available THEN 1 ELSE 0 END
                    AS INTEGER) AS kept_full
        FROM lv, ka
        ORDER BY source
    """,
        "lang_mix_by_source": """
        WITH c AS (
            SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source, lang
        )
        SELECT source, lang, n_docs,
               CAST((2 * 10000 * n_docs
                     + sum(n_docs) OVER (PARTITION BY source))
                    // (2 * sum(n_docs) OVER (PARTITION BY source))
                    AS BIGINT) AS share_e4
        FROM c ORDER BY source, lang
    """,
        "event_heatmap_cells": """
        SELECT CAST(((CAST(ts AS DATE) - DATE '1992-01-06') % 7 + 7) % 7
                    AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT) AS hour,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1, 2 ORDER BY dow, hour
    """,
    }
)


# ---------------------------------------------------------------- wave 3

#: product quantization: PQ_M subspaces of PQ_SUB dims (64-dim
#: embeddings), PQ_K codewords per subspace. Codebooks here are the
#: PQ_K lowest-id vectors' subvectors (the same deterministic-seed
#: device ann_ivf uses for its quantizer, so the DuckDB oracle replays
#: codebook construction exactly); a production build k-means each
#: subspace -- kmeans_index is the slot to persist those.
PQ_M = 4
PQ_SUB = 16
PQ_K = 8

#: Lloyd iterations for the TRAINED-codebook variant (ann_pq_kmeans);
#: 1 keeps the unrolled DuckDB replay tractable, same as KMEANS_ITERS.
PQ_KM_ITERS = 1


def _pq_e6(expr: str) -> str:
    """round-to-6 then exact 1e-6 BIGINT units (the _rel_e6 device for
    PQ distances/projections)."""
    return f"CAST(round(round({expr}, 6) * 1000000.0, 0) AS BIGINT)"


def _pq_adc_topk(e: DataFrame, codebook: DataFrame) -> DataFrame:
    """The shared PQ-ADC pipeline downstream of ANY (m, c, cvec)
    codebook: encode the corpus (argmin e6-L2 per subspace, ties by
    codeword id), build the query LUT of subvector dot products, scan
    codes against the broadcast LUT, top-ANN_K per query. Both PQ keys
    (seed-slice and k-means codebooks) run exactly this plan."""
    sub = e.sparkSession.range(PQ_M).select(
        F.col("id").cast("int").alias("m")
    )
    xsub = (
        e.select("vec_id", "embedding")
        .crossJoin(broadcast(sub))
        .select(
            "vec_id",
            "m",
            F.expr(
                f"slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB})"
            ).alias("xv"),
        )
    )
    codes = (
        xsub.join(broadcast(codebook), "m")
        .select(
            "vec_id",
            "m",
            F.struct(
                F.expr(_pq_e6(th.sp_l2sq("xv", "cvec"))).alias("d_e6"),
                F.col("c"),
            ).alias("__dc"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min("__dc").alias("__mn"))
        .select("vec_id", "m", F.col("__mn.c").alias("c"))
    )
    lut = (
        e.where(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .crossJoin(broadcast(sub))
        .select(
            "query_id",
            "m",
            F.expr(
                f"slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB})"
            ).alias("qv"),
        )
        .join(broadcast(codebook), "m")
        .select(
            "query_id",
            "m",
            "c",
            F.expr(_pq_e6(th.sp_dot("qv", "cvec"))).alias("p_e6"),
        )
    )
    scores = (
        codes.join(broadcast(lut), ["m", "c"])
        .where(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("p_e6").alias("adc_e6"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_e6").desc(), F.col("vec_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("vec_id").alias("neighbor_id"),
            "adc_e6",
        )
        .orderBy("query_id", "rank")
    )


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jegou, Douze & Schmid 2011): corpus vectors are ENCODED once as
    {PQ_M} codeword ids (argmin squared-L2 per subspace, ties by
    codeword id); a query builds a {PQ_M} x {PQ_K} lookup table of
    subvector dot products, and each corpus vector's approximate inner
    product is the sum of {PQ_M} table entries -- never touching the
    corpus floats again. Output (query_id, rank, neighbor_id, adc_e6):
    top-{ANN_K} per query by ADC score (desc, neighbor_id tiebreak).

    All comparisons in exact 1e-6 BIGINT units (sequential-fold
    sp_l2sq/sp_dot match dk_l2sq/dk_dot bit-for-bit before rounding),
    so encoding, LUT and ranking replay identically in DuckDB.

    Scale shape: the codebook and LUT are metadata-size broadcasts
    ({PQ_M}x{PQ_K} and |Q|x{PQ_M}x{PQ_K} rows); encoding is one
    map-side pass over the corpus (n x {PQ_M} x {PQ_K} rows through a
    partial-aggregated argmin); the ADC scan joins the n x {PQ_M} code
    table against the broadcast LUT and sums map-side -- the 16-byte-
    per-vector regime that makes PQ the 100 TB ANN workhorse: the
    shuffle carries codes and scores, never embeddings."""
    e = load_table(spark, sf_dir, "embeddings")
    sub = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    sel = e.select("vec_id", "embedding").orderBy(
        F.col("vec_id").asc()
    ).limit(PQ_K)
    ids = sel.groupBy().agg(
        F.array_sort(F.collect_list("vec_id")).alias("__ids")
    )
    codebook = (
        sel.crossJoin(broadcast(ids))
        .select(
            (F.array_position(F.col("__ids"), F.col("vec_id")) - 1)
            .cast("int")
            .alias("c"),
            "embedding",
        )
        .crossJoin(broadcast(sub))
        .select(
            "m",
            "c",
            F.expr(
                f"slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB})"
            ).alias("cvec"),
        )
    )
    return _pq_adc_topk(e, codebook)


def ann_pq_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_pq_adc with TRAINED codebooks: per-subspace Lloyd k-means
    ({PQ_KM_ITERS} iteration from the same deterministic lowest-id
    seeds), served through the persisted PQ index
    (similarity.pq_index -- memo + fingerprinted sidecar, the
    kmeans_index discipline), then the identical encode/LUT/ADC scan.
    The DuckDB oracle replays the subspace k-means itself (exact-1e-6
    L2 assignment, exact integer micro-unit means), so codebook
    TRAINING is oracle-checked, not just the scan -- the same bar
    ann_ivf_kmeans holds for the coarse quantizer.

    Scale shape: training is {PQ_KM_ITERS} corpus pass(es) through a
    broadcast argmin + (m, c, dim) hash agg, run once per ingest epoch
    behind the index; the search path stays the 16-byte-per-vector ADC
    regime."""
    e = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_index(
        spark,
        e,
        n_sub=PQ_M,
        sub_dim=PQ_SUB,
        k=PQ_K,
        iters=PQ_KM_ITERS,
        source_path=f"{sf_dir}/embeddings.parquet",
    )
    return _pq_adc_topk(e, cb)


QUERIES.update({"ann_pq_adc": ann_pq_adc, "ann_pq_kmeans": ann_pq_kmeans})

_PQ_SLICE = f"m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}"

ORACLES.update(
    {
        "ann_pq_adc": f"""
        WITH seeds AS MATERIALIZED (
            SELECT embedding,
                   CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
                        AS INTEGER) AS c
            FROM embeddings ORDER BY vec_id ASC LIMIT {PQ_K}
        ), sub AS (
            SELECT CAST(unnest(range({PQ_M})) AS INTEGER) AS m
        ), cb AS MATERIALIZED (
            SELECT m, c, embedding[{_PQ_SLICE}] AS cvec
            FROM seeds, sub
        ), dists AS (
            SELECT e.vec_id, cb.m, cb.c,
                   CAST(round(round(
                       {th.dk_l2sq(f'e.embedding[{_PQ_SLICE}]', 'cvec')}
                   , 6) * 1000000.0, 0) AS BIGINT) AS d_e6
            FROM embeddings e, cb
        ), codes AS MATERIALIZED (
            SELECT vec_id, m, c FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id, m
                    ORDER BY d_e6 ASC, c ASC) AS rn
                FROM dists
            ) WHERE rn = 1
        ), lut AS MATERIALIZED (
            SELECT q.vec_id AS query_id, cb.m, cb.c,
                   CAST(round(round(
                       {th.dk_dot(f'q.embedding[{_PQ_SLICE}]', 'cvec')}
                   , 6) * 1000000.0, 0) AS BIGINT) AS p_e6
            FROM embeddings q, cb
            WHERE q.vec_id < {N_QUERY_VECS}
        ), scores AS (
            SELECT l.query_id, s.vec_id,
                   CAST(sum(l.p_e6) AS BIGINT) AS adc_e6
            FROM codes s
            JOIN lut l ON l.m = s.m AND l.c = s.c
            WHERE l.query_id <> s.vec_id
            GROUP BY l.query_id, s.vec_id
        )
        SELECT query_id, CAST(rank AS INTEGER) AS rank,
               vec_id AS neighbor_id, adc_e6
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY adc_e6 DESC, vec_id ASC) AS rank
            FROM scores
        ) WHERE rank <= {ANN_K}
        ORDER BY query_id, rank
    """,
    }
)


def _dk_pq_kmeans_ctes(
    iters: int = PQ_KM_ITERS, src: str = "embeddings"
) -> str:
    """DuckDB replay of operators/similarity.pq_subspace_kmeans: per-
    subspace lowest-id seed init, then per iteration (e6-L2 argmin
    assign with codeword-id ties -> exact micro-unit per-dim means ->
    FLOAT cast; empty cells keep the previous codeword). Same exact
    integer mean device as _dk_kmeans_ctes so summation order can't
    diverge. ``src`` names the (vec_id, embedding) relation to train
    on -- "embeddings" for plain PQ, a residual CTE for IVFADC.
    Returns CTEs ending in ``cb(m, c, cvec)``."""
    d_e6 = (
        f"CAST(round(round({th.dk_l2sq('x.xv', 'cb.cvec')}, 6)"
        f" * 1000000.0, 0) AS BIGINT)"
    )
    ctes = [
        f"""seeds AS MATERIALIZED (
            SELECT embedding,
                   CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
                        AS INTEGER) AS c
            FROM {src} ORDER BY vec_id ASC LIMIT {PQ_K})""",
        f"""sub AS (
            SELECT CAST(unnest(range({PQ_M})) AS INTEGER) AS m)""",
        f"""cb0 AS MATERIALIZED (
            SELECT m, c, embedding[{_PQ_SLICE}] AS cvec
            FROM seeds, sub)""",
        f"""xs AS MATERIALIZED (
            SELECT vec_id, m, embedding[{_PQ_SLICE}] AS xv
            FROM {src}, sub)""",
    ]
    prev = "cb0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""asn{i} AS MATERIALIZED (
            SELECT vec_id, m, xv, c FROM (
                SELECT x.vec_id, x.m, x.xv, cb.c,
                       row_number() OVER (PARTITION BY x.vec_id, x.m
                           ORDER BY {d_e6} ASC, cb.c ASC) AS rn
                FROM xs x JOIN {prev} cb ON cb.m = x.m
            ) WHERE rn = 1)"""
        )
        ctes.append(
            f"""mu{i} AS (
            SELECT m, c, t.i AS dim,
                   CAST(sum(CAST(floor(
                       CAST(xv[t.i + 1] AS DOUBLE) * 1000000 + 0.5
                   ) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0 AS mu
            FROM asn{i}, range({PQ_SUB}) t(i)
            GROUP BY m, c, t.i)"""
        )
        ctes.append(
            f"""cb{i} AS MATERIALIZED (
            SELECT p.m, p.c, coalesce(n.vec, p.cvec) AS cvec
            FROM {prev} p LEFT JOIN (
                SELECT m, c, list(mu::FLOAT ORDER BY dim) AS vec
                FROM mu{i} GROUP BY m, c
            ) n ON p.m = n.m AND p.c = n.c)"""
        )
        prev = f"cb{i}"
    ctes.append(f"cb AS MATERIALIZED (SELECT m, c, cvec FROM {prev})")
    return ",\n        ".join(ctes)


ORACLES.update(
    {
        "ann_pq_kmeans": f"""
        WITH {_dk_pq_kmeans_ctes()}, dists AS (
            SELECT e.vec_id, cb.m, cb.c,
                   CAST(round(round(
                       {th.dk_l2sq(f'e.embedding[{_PQ_SLICE}]', 'cvec')}
                   , 6) * 1000000.0, 0) AS BIGINT) AS d_e6
            FROM embeddings e, cb
        ), codes AS MATERIALIZED (
            SELECT vec_id, m, c FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id, m
                    ORDER BY d_e6 ASC, c ASC) AS rn
                FROM dists
            ) WHERE rn = 1
        ), lut AS MATERIALIZED (
            SELECT q.vec_id AS query_id, cb.m, cb.c,
                   CAST(round(round(
                       {th.dk_dot(f'q.embedding[{_PQ_SLICE}]', 'cvec')}
                   , 6) * 1000000.0, 0) AS BIGINT) AS p_e6
            FROM embeddings q, cb
            WHERE q.vec_id < {N_QUERY_VECS}
        ), scores AS (
            SELECT l.query_id, s.vec_id,
                   CAST(sum(l.p_e6) AS BIGINT) AS adc_e6
            FROM codes s
            JOIN lut l ON l.m = s.m AND l.c = s.c
            WHERE l.query_id <> s.vec_id
            GROUP BY l.query_id, s.vec_id
        )
        SELECT query_id, CAST(rank AS INTEGER) AS rank,
               vec_id AS neighbor_id, adc_e6
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY adc_e6 DESC, vec_id ASC) AS rank
            FROM scores
        ) WHERE rank <= {ANN_K}
        ORDER BY query_id, rank
    """,
    }
)


def _ivfadc_seed_parts(
    spark: SparkSession, e: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The shared IVFADC build (seed-residual codebook flavor):
    (asg, cb, codes, lut) -- full-corpus cell assignment with the cell
    centroid attached, the {PQ_K}-seed residual codebook, the {PQ_M}
    codeword ids per corpus vector, and the per-query projection LUT.
    Factored out of ann_ivf_pq verbatim so the nprobe sweep re-slices
    the identical dataframe graph (same plan, same values)."""
    cent = e.where(F.expr(IVF_SEED_PRED)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cfull"),
    )
    cent_as_vecs = cent.select(
        F.col("centroid_id").alias("vec_id"),
        F.col("cfull").alias("embedding"),
    )
    # per-row assignment: the full-corpus pass runs ONCE (the encode
    # scan); the query-cell frame pushes vec_id < N below the window,
    # and the 8 codebook seeds are assigned separately (a limit cannot
    # push through the window, so deriving them from `asg` would replay
    # the whole argmax a second time)
    asg = similarity.ivf_assign(e, cent_as_vecs).join(
        broadcast(cent), "centroid_id"
    )
    sub = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    sel = (
        similarity.ivf_assign(
            e.orderBy(F.col("vec_id").asc()).limit(PQ_K), cent_as_vecs
        )
        .join(broadcast(cent), "centroid_id")
        .select("vec_id", "embedding", "cfull")
    )
    ids = sel.groupBy().agg(
        F.array_sort(F.collect_list("vec_id")).alias("__ids")
    )
    wvec_expr = (
        f"zip_with("
        f"transform(slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB}), "
        f"x -> cast(x as double)), "
        f"transform(slice(cfull, m * {PQ_SUB} + 1, {PQ_SUB}), "
        f"x -> cast(x as double)), (a, b) -> a - b)"
    )
    cb = (
        sel.crossJoin(broadcast(ids))
        .select(
            (F.array_position(F.col("__ids"), F.col("vec_id")) - 1)
            .cast("int")
            .alias("c"),
            "embedding",
            "cfull",
        )
        .crossJoin(broadcast(sub))
        .select("m", "c", F.expr(wvec_expr).alias("wvec"))
    )
    codes = (
        asg.crossJoin(broadcast(sub))
        .select(
            "vec_id",
            "centroid_id",
            "m",
            F.expr(
                f"slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB})"
            ).alias("xv"),
            F.expr(
                f"slice(cfull, m * {PQ_SUB} + 1, {PQ_SUB})"
            ).alias("cv"),
        )
        .join(broadcast(cb), "m")
        .select(
            "vec_id",
            "centroid_id",
            "m",
            F.struct(
                F.expr(_pq_e6(th.sp_l2sq_res("xv", "cv", "wvec"))).alias(
                    "d_e6"
                ),
                F.col("c"),
            ).alias("__dc"),
        )
        .groupBy("vec_id", "centroid_id", "m")
        .agg(F.min("__dc").alias("__mn"))
        .select("vec_id", "centroid_id", "m", F.col("__mn.c").alias("c"))
    )
    lut = (
        e.where(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .crossJoin(broadcast(sub))
        .select(
            "query_id",
            "m",
            F.expr(
                f"slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB})"
            ).alias("qv"),
        )
        .join(broadcast(cb), "m")
        .select(
            "query_id",
            "m",
            "c",
            F.expr(_pq_e6(th.sp_dot("qv", "wvec"))).alias("p_e6"),
        )
    )
    return asg, cb, codes, lut


def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (Jegou, Douze & Schmid 2011 SS7): the COMPOUND index that
    is the actual 100 TB ANN architecture -- an IVF coarse quantizer
    routes every vector to a cell, PQ encodes each vector's RESIDUAL to
    its cell centroid ({PQ_M} codeword ids), and a query scans only its
    own cell (nprobe=1, ann_ivf's candidate rule) scoring candidates by
    asymmetric distance on residuals: q.x ~ q.centroid + q.residual_hat
    = one per-query dot with the cell centroid plus {PQ_M} LUT lookups.
    Output (query_id, rank, neighbor_id, score_e6): top-{ANN_K} per
    query by that score (desc, neighbor_id tiebreak).

    Determinism/parity: the coarse quantizer is the deterministic
    subset ann_ivf uses (vec_id % 50 == 0, cosine-argmax assignment);
    residual codewords are the {PQ_K} lowest-id vectors' residuals per
    subspace, built as double arrays with the same element op order on
    both engines; encoding argmin uses the 3-array residual fold
    sp_l2sq_res/dk_l2sq_res (the residual is NEVER materialized as a
    float array), everything in exact 1e-6 BIGINT units.

    Scale shape: cells shard the corpus (candidates ~ n/n_cells per
    query, not n); codes are {PQ_M} bytes-worth per vector so the scan
    shuffle carries (cell, code, score) -- never embeddings; codebook,
    LUT and query-cell frames are metadata-size broadcasts. This is
    the faiss IVFxx,PQyy layout re-expressed declaratively."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cb, codes, lut = _ivfadc_seed_parts(spark, e)
    qcell = asg.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        "centroid_id",
        F.expr(_pq_e6(th.sp_dot("embedding", "cfull"))).alias("qc_e6"),
    )
    scores = (
        codes.join(broadcast(qcell), "centroid_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .join(broadcast(lut), ["query_id", "m", "c"])
        .groupBy("query_id", "vec_id", "qc_e6")
        .agg(F.sum("p_e6").alias("__s"))
        .select(
            "query_id",
            "vec_id",
            (F.col("qc_e6") + F.col("__s")).cast("long").alias("score_e6"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e6").desc(), F.col("vec_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("vec_id").alias("neighbor_id"),
            "score_e6",
        )
        .orderBy("query_id", "rank")
    )


QUERIES.update({"ann_ivf_pq": ann_ivf_pq})


def dk_ivfadc_seed_ctes() -> str:
    """The DuckDB twin of _ivfadc_seed_parts: CTEs cent/asg/sub/seeds/
    cb/dists/codes/lut -- shared verbatim by ann_ivf_pq (nprobe=1) and
    the llm_pipeline9 nprobe sweep so both oracles replay the identical
    coarse quantizer, seed-residual codebook, encode, and projection
    LUT."""
    return f"""cent AS MATERIALIZED (
            SELECT vec_id AS centroid_id, embedding AS cfull
            FROM embeddings WHERE {IVF_SEED_PRED}
        ), asg AS MATERIALIZED (
            SELECT vec_id, embedding, centroid_id, cfull FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id, c.cfull,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY round({th.dk_cosine('e.embedding', 'c.cfull')}, 6) DESC,
                                    c.centroid_id ASC) AS rn
                FROM embeddings e, cent c
            ) WHERE rn = 1
        ), sub AS (
            SELECT CAST(unnest(range({PQ_M})) AS INTEGER) AS m
        ), seeds AS MATERIALIZED (
            SELECT embedding, cfull,
                   CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
                        AS INTEGER) AS c
            FROM asg ORDER BY vec_id ASC LIMIT {PQ_K}
        ), cb AS MATERIALIZED (
            SELECT m, c,
                   list_transform(range(0, {PQ_SUB}), i ->
                       embedding[m * {PQ_SUB} + i + 1]::DOUBLE
                       - cfull[m * {PQ_SUB} + i + 1]::DOUBLE) AS wvec
            FROM seeds, sub
        ), dists AS (
            SELECT a.vec_id, a.centroid_id, cb.m, cb.c,
                   CAST(round(round({th.dk_l2sq_res(f'a.embedding[{_PQ_SLICE}]', f'a.cfull[{_PQ_SLICE}]', 'cb.wvec')}
                   , 6) * 1000000.0, 0) AS BIGINT) AS d_e6
            FROM asg a, cb
        ), codes AS MATERIALIZED (
            SELECT vec_id, centroid_id, m, c FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id, m
                    ORDER BY d_e6 ASC, c ASC) AS rn
                FROM dists
            ) WHERE rn = 1
        ), lut AS MATERIALIZED (
            SELECT q.vec_id AS query_id, cb.m, cb.c,
                   CAST(round(round(
                       {th.dk_dot(f'q.embedding[{_PQ_SLICE}]', 'cb.wvec')}
                   , 6) * 1000000.0, 0) AS BIGINT) AS p_e6
            FROM embeddings q, cb
            WHERE q.vec_id < {N_QUERY_VECS}
        )"""


ORACLES.update(
    {
        "ann_ivf_pq": f"""
        WITH {dk_ivfadc_seed_ctes()}, qcell AS MATERIALIZED (
            SELECT a.vec_id AS query_id, a.centroid_id,
                   CAST(round(round(
                       {th.dk_dot('a.embedding', 'a.cfull')}
                   , 6) * 1000000.0, 0) AS BIGINT) AS qc_e6
            FROM asg a WHERE a.vec_id < {N_QUERY_VECS}
        ), scores AS (
            SELECT qc.query_id, s.vec_id,
                   CAST(any_value(qc.qc_e6) + sum(l.p_e6) AS BIGINT)
                       AS score_e6
            FROM codes s
            JOIN qcell qc ON qc.centroid_id = s.centroid_id
            JOIN lut l ON l.query_id = qc.query_id
                      AND l.m = s.m AND l.c = s.c
            WHERE qc.query_id <> s.vec_id
            GROUP BY qc.query_id, s.vec_id
        )
        SELECT query_id, CAST(rank AS INTEGER) AS rank,
               vec_id AS neighbor_id, score_e6
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY score_e6 DESC, vec_id ASC) AS rank
            FROM scores
        ) WHERE rank <= {ANN_K}
        ORDER BY query_id, rank
    """,
    }
)


#: Survivor-pair broadcast ceiling for dedup_weighted_jaccard: the
#: explicit broadcast() hint on the survivor-derived explode frames
#: (pair-doc shingles, pair intersections -- ~survivors x shingles/doc
#: rows of 16 B) is only attached when the survivor count is at or
#: below this bound. Above it -- a low tau on a template-heavy corpus
#: makes the survivor set unbounded -- the hint is omitted and AQE
#: picks the join strategy from measured sizes (sort-merge once the
#: frame outgrows autoBroadcastJoinThreshold), so the driver never
#: pins an unbounded frame. Sized well below the old pair-list cap
#: because each survivor now fans out to its shingle rows
#: (~100x/pair): 50k pairs x ~2x100 shingles x 16 B ~ 160 MB worst
#: case. Tests drop this to 0 to pin the hint-free plan.
WJ_PAIR_BROADCAST_CAP: int = 50_000


def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """idf-WEIGHTED Jaccard rescoring of the near-dup pair set: every
    surviving tau-pair gets, beside its plain jaccard, the weighted
    score sum_{common} w(s) / sum_{union} w(s) with the rational
    idf surrogate w(s) = N DIV df(s) (rare shingles weigh ~N, corpus
    boilerplate weighs ~1; no libm). This is the ranking curation
    teams review dup clusters by -- template-heavy pairs (high plain
    jaccard, low weighted) sink below genuinely-copied prose.
    Output (doc_a, doc_b, jaccard, wjaccard_e4), half-up 1e-4 units.

    Scale shape: pairs come from the banded/df-capped candidate
    machinery (shared pair cache with dedup_ngram_jaccard), read WITH
    their verify-step shingle arrays (keep_shingles -- same cache
    entry, no re-shingle); the survivor count rides along from the
    cache's materializing count (zero extra jobs). The idf weights
    come from the candidate machinery's OWN df census (with_census:
    the cap window computes every shingle's df anyway, exposed as a
    materialized vocab-grain table) -- so this key adds ZERO corpus
    passes beyond candidate generation itself, and every frame it
    builds (pair-doc shingles, intersections, weight sums) is
    survivor- or vocab-bounded. The survivor-derived explode frames
    carry an explicit broadcast() hint ONLY while the survivor count
    is <= WJ_PAIR_BROADCAST_CAP; past the cap the hint is omitted and
    AQE sizes the join, so a low-tau template-heavy corpus cannot OOM
    the driver. Weight sums are BIGINT; at extreme corpora (sum w ~
    N * shingles/doc > 2^49) apply the documented DECIMAL(38,0)
    widening before the 2*10000 fold."""
    from abr_etl_spark.operators import dedup
    from abr_etl_spark.plans.llm_pipeline import JACCARD_TAU

    d = load_table(spark, sf_dir, "documents")
    wide, census = dedup.ngram_jaccard_pairs(
        d, threshold=JACCARD_TAU, keep_shingles=True, with_census=True
    )
    n_survivors = getattr(wide, "_abr_result_count", None)
    if n_survivors is None:  # non-materialized pair source
        n_survivors = wide.count()
    pairs = wide.select("doc_a", "doc_b", "jaccard")

    def _hint(df: DataFrame) -> DataFrame:
        return broadcast(df) if n_survivors <= WJ_PAIR_BROADCAST_CAP else df

    # integer idf weights off the cached vocab-grain census
    tot = d.agg(F.count("*").alias("__n"))
    wdf = census.crossJoin(broadcast(tot)).select(
        "s", F.expr("__n DIV df").alias("w")
    )
    # ONE survivor-bounded explode serves numerator AND denominator
    # (r17; opt guide 1.2 stage shape): the weighted union mass
    # wa + wb - wc IS sum_{union} w (the intersection is counted twice
    # in wa + wb and removed once), so exploding array_union with an
    # is-common flag replaces the old per-doc weight-sum chain (a
    # second explode + dropDuplicates + two extra joins) -- integer
    # sums and output identical, about half the tiny-stage jobs on a
    # 249-survivor frame.
    uni = wide.select(
        "doc_a",
        "doc_b",
        F.explode(F.array_union("sh_a", "sh_b")).alias("s"),
        F.col("sh_a").alias("__sh_a"),
        F.col("sh_b").alias("__sh_b"),
    ).select(
        "doc_a",
        "doc_b",
        "s",
        (
            F.expr("array_contains(__sh_a, s)")
            & F.expr("array_contains(__sh_b, s)")
        ).alias("__both"),
    )
    pair_w = (
        wdf.join(_hint(uni), "s")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.when(F.col("__both"), F.col("w")).otherwise(0)).alias(
                "wc"
            ),
            F.sum("w").alias("wu"),
        )
    )
    return (
        pairs.join(pair_w, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.expr("(2 * 10000 * wc + wu) DIV (2 * wu)").alias(
                "wjaccard_e4"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


QUERIES.update({"dedup_weighted_jaccard": dedup_weighted_jaccard})


def _weighted_jaccard_oracle() -> str:
    from abr_etl_spark.plans.llm_pipeline import JACCARD_TAU

    sh = th.dk_shingles("text", 3)
    return f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, {sh} AS sh FROM documents
        ), e AS MATERIALIZED (
            SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM t
        ), n AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        ), wdf AS MATERIALIZED (
            SELECT s, (SELECT n FROM n) // CAST(count(*) AS BIGINT) AS w
            FROM e GROUP BY s
        ), ws AS MATERIALIZED (
            SELECT e.doc_id, e.s, w.w FROM e JOIN wdf w USING (s)
        ), pd AS (
            SELECT doc_id, CAST(sum(w) AS BIGINT) AS wsum
            FROM ws GROUP BY doc_id
        ), common AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b,
                   count(*) AS c
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), cw AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.w) AS BIGINT) AS wc
            FROM ws a JOIN ws b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT c.doc_a, c.doc_b,
               round(c.c::DOUBLE / (c.n_a + c.n_b - c.c), 4) AS jaccard,
               CAST((2 * 10000 * cw.wc + (wa.wsum + wb.wsum - cw.wc))
                    // (2 * (wa.wsum + wb.wsum - cw.wc)) AS BIGINT)
                   AS wjaccard_e4
        FROM common c
        JOIN cw USING (doc_a, doc_b)
        JOIN pd wa ON wa.doc_id = c.doc_a
        JOIN pd wb ON wb.doc_id = c.doc_b
        WHERE c.c::DOUBLE / (c.n_a + c.n_b - c.c) >= {JACCARD_TAU}
        ORDER BY doc_a, doc_b
    """


ORACLES.update({"dedup_weighted_jaccard": _weighted_jaccard_oracle()})


#: LSH band-layout grid: (bands, rows_per_band) with bands*rows = 64
#: = MINHASH_K, so all three layouts SLICE THE SAME signature --
#: s-curve thresholds ~ (1/b)^(1/r): ~0.50, ~0.77, ~0.92.
LSH_GRID: list[tuple[int, int]] = [(16, 4), (8, 8), (4, 16)]


def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band-layout axis of LSH tuning (dedup_threshold_sweep covers
    the tau axis): for each (bands, rows_per_band) layout of the SAME
    64-perm minhash signature, the candidate-pair count the banding
    generates and its recall against the exact tau-pair truth --
    (bands, rows_per_band, n_candidates, n_hits, n_true, recall_e4).
    More bands of fewer rows -> lower collision threshold -> more
    candidates and recall -> verification cost; THE table an operator
    reads before committing a layout.

    Scale shape: ONE signature computation (materialized, shared by all
    layouts -- each layout only re-slices it); per layout one band
    equi-join (the same shuffle shape as dedup_minhash_lsh) reduced to
    three scalar counts; truth comes from the shared materialized pair
    cache. Signatures use the ORACLE-REPLICABLE polyhash shingle chain
    (hypothesis-proven sp_minhash == dk_minhash parity), not
    minhash_signatures' engine-native xxhash64 -- candidate COUNTS
    depend on the hash family, so this key must replay it exactly
    (dedup_minhash_lsh only checks verified output pairs and can use
    the fast hash)."""
    from abr_etl_spark.functions.cache import materialize_result
    from abr_etl_spark.operators import dedup
    from abr_etl_spark.plans.llm_pipeline import JACCARD_TAU

    d = load_table(spark, sf_dir, "documents")
    # materialize the polyhashed shingle lists BEFORE the 64-perm map:
    # CollapseProject would otherwise inline the char-level polyhash
    # into the per-permutation lambda and run it 64x per shingle (the
    # sp_shingle_hashes docstring's warning, enforced here with a
    # persist barrier -- measured 38.8s -> ~5s for this key's build)
    hashed = materialize_result(
        d.select(
            "doc_id",
            F.expr(
                th.sp_shingle_hashes(th.sp_shingles("text"))
            ).alias("__shh"),
        ),
        family="lsh_sweep",
    )
    sigs = materialize_result(
        hashed.select(
            "doc_id", F.expr(th.sp_minhash("__shh")).alias("mh")
        ),
        family="lsh_sweep",
    )
    truth = materialize_result(
        dedup.ngram_jaccard_pairs(d, threshold=JACCARD_TAU).select(
            "doc_a", "doc_b"
        ),
        family="lsh_sweep",
    )
    n_true = truth.groupBy().agg(F.count("*").alias("n_true"))
    out = None
    for b, r in LSH_GRID:
        banded = sigs.select(
            "doc_id",
            F.posexplode(F.expr(th.sp_band_sigs("mh", b, r))).alias(
                "band_idx", "band_sig"
            ),
        )
        cand = materialize_result(
            banded.alias("x")
            .join(banded.alias("y"), ["band_idx", "band_sig"])
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
            .distinct(),
            family="lsh_sweep",
        )
        n_cand = cand.groupBy().agg(F.count("*").alias("n_candidates"))
        n_hits = cand.join(truth, ["doc_a", "doc_b"], "left_semi").groupBy().agg(
            F.count("*").alias("n_hits")
        )
        row = (
            n_cand.crossJoin(n_hits)
            .crossJoin(n_true)
            .select(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                "n_candidates",
                "n_hits",
                "n_true",
                F.expr(
                    "CASE WHEN n_true = 0 THEN NULL"
                    " ELSE (2 * 10000 * n_hits + n_true) DIV (2 * n_true)"
                    " END"
                ).alias("recall_e4"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.col("bands").desc())


QUERIES.update({"lsh_band_sweep": lsh_band_sweep})


def _lsh_band_sweep_oracle() -> str:
    from abr_etl_spark.plans.llm_pipeline import JACCARD_TAU

    sh = th.dk_shingles("text", 3)
    parts = [f"""
    WITH hh AS MATERIALIZED (
        SELECT doc_id,
               list_transform({sh}, s -> {th.dk_polyhash('s')}) AS shh
        FROM documents
    ), m AS MATERIALIZED (
        SELECT doc_id, {th.dk_minhash_from_hashes('shh')} AS mh FROM hh
    ), e AS (
        SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
        FROM (SELECT doc_id, {sh} AS sh FROM documents)
    ), truth AS MATERIALIZED (
        SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b,
                   count(*) AS c
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) WHERE c::DOUBLE / (n_a + n_b - c) >= {JACCARD_TAU}
    ), nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth)"""]
    selects = []
    for b, r in LSH_GRID:
        parts.append(f"""
    , banded_{b} AS (
        SELECT doc_id, i AS band_idx, bs[i + 1] AS band_sig
        FROM (SELECT doc_id, {th.dk_band_sigs('mh', b, r)} AS bs FROM m),
             (SELECT unnest(range({b})) AS i)
    ), cand_{b} AS MATERIALIZED (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM banded_{b} x
        JOIN banded_{b} y ON x.band_idx = y.band_idx
                         AND x.band_sig = y.band_sig
                         AND x.doc_id < y.doc_id
    )""")
        selects.append(f"""
    SELECT CAST({b} AS INTEGER) AS bands,
           CAST({r} AS INTEGER) AS rows_per_band,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_{b})
               AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_{b} c
            JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
               AS n_hits,
           (SELECT n_true FROM nt) AS n_true,
           CASE WHEN (SELECT n_true FROM nt) = 0 THEN NULL
                ELSE CAST((2 * 10000 * (SELECT count(*) FROM cand_{b} c
                           JOIN truth t ON t.doc_a = c.doc_a
                                       AND t.doc_b = c.doc_b)
                           + (SELECT n_true FROM nt))
                     // (2 * (SELECT n_true FROM nt)) AS BIGINT)
           END AS recall_e4""")
    parts.append(" UNION ALL ".join(selects))
    parts.append("""
    ORDER BY bands DESC""")
    return "".join(parts)


ORACLES.update({"lsh_band_sweep": _lsh_band_sweep_oracle()})


#: codebook sizes for the PQ recall sweep -- nested prefixes of the
#: same 16 seed vectors, so one codebook build serves every config.
PQ_K_GRID = [4, 8, 16]


def pq_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The codebook-size axis of PQ tuning (ann_nprobe_sweep's pattern
    for the quantizer): recall@{ANN_K} of ADC ranking vs exact-cosine
    truth for {PQ_K_GRID} codewords per subspace -- (pq_k, n_true,
    n_hits, recall_e4). Larger codebooks quantize finer, so recall is
    non-decreasing in pq_k (pytest); the cost axis is implicit (log2 k
    bits per subspace per vector).

    Vectorized like mmr_lambda_sweep: the K grid is crossed in as a key
    column and every config's encode/LUT/ADC/rank runs through ONE
    chain of (k, ...)-partitioned operators; config k uses the first k
    rows of the SHARED 16-seed codebook (nested prefixes), so the
    codebook builds once. Truth is the exact brute-force top-{ANN_K}
    (the recall_at_k_eval contract)."""
    e = load_table(spark, sf_dir, "embeddings")
    kmax = max(PQ_K_GRID)
    ks = broadcast(
        spark.createDataFrame([(k,) for k in PQ_K_GRID], "pq_k int")
    )
    sub = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    sel = e.select("vec_id", "embedding").orderBy(
        F.col("vec_id").asc()
    ).limit(kmax)
    ids = sel.groupBy().agg(
        F.array_sort(F.collect_list("vec_id")).alias("__ids")
    )
    codebook = (
        sel.crossJoin(broadcast(ids))
        .select(
            (F.array_position(F.col("__ids"), F.col("vec_id")) - 1)
            .cast("int")
            .alias("c"),
            "embedding",
        )
        .crossJoin(broadcast(sub))
        .select(
            "m",
            "c",
            F.expr(
                f"slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB})"
            ).alias("cvec"),
        )
    )
    xsub = (
        e.select("vec_id", "embedding")
        .crossJoin(broadcast(sub))
        .select(
            "vec_id",
            "m",
            F.expr(
                f"slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB})"
            ).alias("xv"),
        )
    )
    codes = (
        xsub.join(broadcast(codebook), "m")
        .crossJoin(ks)
        .where(F.col("c") < F.col("pq_k"))
        .select(
            "pq_k",
            "vec_id",
            "m",
            F.struct(
                F.expr(_pq_e6(th.sp_l2sq("xv", "cvec"))).alias("d_e6"),
                F.col("c"),
            ).alias("__dc"),
        )
        .groupBy("pq_k", "vec_id", "m")
        .agg(F.min("__dc").alias("__mn"))
        .select("pq_k", "vec_id", "m", F.col("__mn.c").alias("c"))
    )
    lut = (
        e.where(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .crossJoin(broadcast(sub))
        .select(
            "query_id",
            "m",
            F.expr(
                f"slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB})"
            ).alias("qv"),
        )
        .join(broadcast(codebook), "m")
        .select(
            "query_id",
            "m",
            "c",
            F.expr(_pq_e6(th.sp_dot("qv", "cvec"))).alias("p_e6"),
        )
    )
    scores = (
        codes.join(broadcast(lut), ["m", "c"])
        .where(F.col("query_id") != F.col("vec_id"))
        .groupBy("pq_k", "query_id", "vec_id")
        .agg(F.sum("p_e6").alias("adc_e6"))
    )
    w = Window.partitionBy("pq_k", "query_id").orderBy(
        F.col("adc_e6").desc(), F.col("vec_id").asc()
    )
    approx = (
        scores.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= ANN_K)
        .select("pq_k", "query_id", F.col("vec_id").alias("neighbor_id"))
    )
    q = e.where(F.col("vec_id") < N_QUERY_VECS)
    truth = similarity.cosine_topk(e, q, k=ANN_K).select(
        "query_id", "neighbor_id"
    )
    n_true = truth.groupBy().agg(F.count("*").alias("n_true"))
    return (
        approx.join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("pq_k")
        .agg(F.count("*").alias("n_hits"))
        .crossJoin(broadcast(n_true))
        .select(
            "pq_k",
            "n_true",
            "n_hits",
            F.expr(
                "CASE WHEN n_true = 0 THEN NULL"
                " ELSE (2 * 10000 * n_hits + n_true) DIV (2 * n_true)"
                " END"
            ).alias("recall_e4"),
        )
        .orderBy("pq_k")
    )


QUERIES.update({"pq_recall_sweep": pq_recall_sweep})


def _pq_recall_sweep_oracle() -> str:
    kmax = max(PQ_K_GRID)
    kvals = ", ".join(f"({k})" for k in PQ_K_GRID)
    return f"""
        WITH ks AS (SELECT CAST(k AS INTEGER) AS pq_k FROM (VALUES {kvals}) v(k)),
        seeds AS MATERIALIZED (
            SELECT embedding,
                   CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
                        AS INTEGER) AS c
            FROM embeddings ORDER BY vec_id ASC LIMIT {kmax}
        ), sub AS (
            SELECT CAST(unnest(range({PQ_M})) AS INTEGER) AS m
        ), cb AS MATERIALIZED (
            SELECT m, c, embedding[{_PQ_SLICE}] AS cvec
            FROM seeds, sub
        ), dists AS (
            SELECT ks.pq_k, e.vec_id, cb.m, cb.c,
                   CAST(round(round(
                       {th.dk_l2sq(f'e.embedding[{_PQ_SLICE}]', 'cvec')}
                   , 6) * 1000000.0, 0) AS BIGINT) AS d_e6
            FROM embeddings e, cb, ks
            WHERE cb.c < ks.pq_k
        ), codes AS MATERIALIZED (
            SELECT pq_k, vec_id, m, c FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY pq_k, vec_id, m
                    ORDER BY d_e6 ASC, c ASC) AS rn
                FROM dists
            ) WHERE rn = 1
        ), lut AS MATERIALIZED (
            SELECT q.vec_id AS query_id, cb.m, cb.c,
                   CAST(round(round(
                       {th.dk_dot(f'q.embedding[{_PQ_SLICE}]', 'cvec')}
                   , 6) * 1000000.0, 0) AS BIGINT) AS p_e6
            FROM embeddings q, cb
            WHERE q.vec_id < {N_QUERY_VECS}
        ), approx AS MATERIALIZED (
            SELECT pq_k, query_id, vec_id AS neighbor_id FROM (
                SELECT s.pq_k, s.query_id, s.vec_id,
                       row_number() OVER (
                           PARTITION BY s.pq_k, s.query_id
                           ORDER BY s.adc_e6 DESC, s.vec_id ASC) AS rn
                FROM (
                    SELECT c.pq_k, l.query_id, c.vec_id,
                           CAST(sum(l.p_e6) AS BIGINT) AS adc_e6
                    FROM codes c
                    JOIN lut l ON l.m = c.m AND l.c = c.c
                    WHERE l.query_id <> c.vec_id
                    GROUP BY c.pq_k, l.query_id, c.vec_id
                ) s
            ) WHERE rn <= {ANN_K}
        ), truth AS MATERIALIZED (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round({th.dk_cosine('q.embedding', 'c.embedding')}, 6) DESC,
                                    c.vec_id ASC) AS rn
                FROM embeddings c, embeddings q
                WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
            ) WHERE rn <= {ANN_K}
        ), nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth)
        SELECT a.pq_k,
               (SELECT n_true FROM nt) AS n_true,
               CAST(count(*) AS BIGINT) AS n_hits,
               CASE WHEN (SELECT n_true FROM nt) = 0 THEN NULL
                    ELSE CAST((2 * 10000 * count(*)
                               + (SELECT n_true FROM nt))
                         // (2 * (SELECT n_true FROM nt)) AS BIGINT)
               END AS recall_e4
        FROM approx a
        JOIN truth t ON t.query_id = a.query_id
                    AND t.neighbor_id = a.neighbor_id
        GROUP BY a.pq_k
        ORDER BY pq_k
    """


ORACLES.update({"pq_recall_sweep": _pq_recall_sweep_oracle()})


#: inactivity-gap grid for the sessionization sweep (seconds).
SESSION_GAP_GRID = [300, 1800, 7200]


def sessionize_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gap-parameter axis of sessionization (the tuning curve
    behind `sessionize`'s fixed 30-min rule): per inactivity gap in
    {SESSION_GAP_GRID} seconds -- (gap_s, n_sessions, n_singletons,
    n_events, sum_duration_s, mean_events_e4). Too small a gap shatters
    sessions (singletons explode); too large merges visits; this table
    is how the 1800 default gets defended.

    Vectorized like the other r11 sweeps: the gap grid is crossed in as
    a key column and every gap's lag/flag/cumsum/rollup runs through
    ONE chain of (gap, user)-partitioned windows -- the lag and cumsum
    share one Exchange+Sort exactly as `sessionize` does, on 3x rows
    instead of 3x sequential plans."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    gaps = broadcast(
        spark.createDataFrame(
            [(g,) for g in SESSION_GAP_GRID], "gap_s long"
        )
    )
    w = Window.partitionBy("gap_s", "user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    flagged = (
        e.crossJoin(gaps)
        .withColumn("__ts_s", F.col("ts").cast("long"))
        .withColumn(
            "new_session",
            F.when(
                F.lag("__ts_s").over(w).isNull()
                | (F.col("__ts_s") - F.lag("__ts_s").over(w) > F.col("gap_s")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
    )
    per_sess = flagged.groupBy("gap_s", "user_id", "session_id").agg(
        F.count("*").alias("n_ev"),
        (F.max("__ts_s") - F.min("__ts_s")).alias("dur_s"),
    )
    return (
        per_sess.groupBy("gap_s")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum(
                F.when(F.col("n_ev") == 1, 1).otherwise(0)
            ).alias("n_singletons"),
            F.sum("n_ev").alias("n_events"),
            F.sum("dur_s").alias("sum_duration_s"),
        )
        .withColumn(
            "mean_events_e4",
            F.expr(
                "(2 * 10000 * n_events + n_sessions)"
                " DIV (2 * n_sessions)"
            ),
        )
        .orderBy("gap_s")
    )


QUERIES.update({"sessionize_gap_sweep": sessionize_gap_sweep})

_GAP_VALUES = ", ".join(f"({g})" for g in SESSION_GAP_GRID)

ORACLES.update(
    {
        "sessionize_gap_sweep": f"""
        WITH base AS (
            SELECT g.gap_s, e.user_id, e.ts, e.event_id,
                   CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_s
            FROM events e,
                 (SELECT CAST(gap_s AS BIGINT) AS gap_s
                  FROM (VALUES {_GAP_VALUES}) v(gap_s)) g
        ), flagged AS (
            SELECT gap_s, user_id, ts, event_id, ts_s,
                   CASE WHEN lag(ts_s) OVER w IS NULL
                             OR ts_s - lag(ts_s) OVER w > gap_s
                        THEN 1 ELSE 0 END AS new_session
            FROM base
            WINDOW w AS (PARTITION BY gap_s, user_id
                         ORDER BY ts ASC, event_id ASC)
        ), sessions AS (
            SELECT gap_s, user_id, ts_s,
                   CAST(sum(new_session) OVER (
                       PARTITION BY gap_s, user_id
                       ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM flagged
        ), per_sess AS (
            SELECT gap_s, user_id, session_id,
                   CAST(count(*) AS BIGINT) AS n_ev,
                   CAST(max(ts_s) - min(ts_s) AS BIGINT) AS dur_s
            FROM sessions GROUP BY 1, 2, 3
        )
        SELECT gap_s,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_singletons,
               CAST(sum(n_ev) AS BIGINT) AS n_events,
               CAST(sum(dur_s) AS BIGINT) AS sum_duration_s,
               CAST((2 * 10000 * sum(n_ev) + count(*)) // (2 * count(*))
                    AS BIGINT) AS mean_events_e4
        FROM per_sess
        GROUP BY gap_s
        ORDER BY gap_s
    """,
    }
)


#: the k axis of k-means tuning (the elbow curve); nested seed prefixes
#: (lowest-16-id init, k takes the first k) so ALL grid points run in
#: one composite-(k, c)-keyed chain -- the mmr_lambda_sweep device
#: applied to clustering.
KSWEEP_GRID = [4, 8, 16]
KSWEEP_MAX = max(KSWEEP_GRID)


def kmeans_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster-count axis of k-means tuning: for each k in
    {KSWEEP_GRID}, seed-init from the k lowest-id vectors (nested
    prefixes of ONE 16-seed set), run ONE Lloyd iteration (e6-L2
    argmin assign -> exact micro-unit per-dim means, empty cells keep
    their seed), then report the elbow-curve axes on the post-move
    assignment: inertia_e6 (sum of per-vector min squared L2, exact
    1e-6 BIGINT units), n_cells_used, and max_cell_n (balance -- a
    skew-aware consumer picks k where max_cell_n stops improving, the
    partition-sizing question for SemDeDup blocks and IVF cells).

    Vectorized like the other tuning-curve keys: the grid is crossed
    in as a key column, every Lloyd step keys on composite (k, c), so
    the corpus is scanned a constant number of times regardless of
    grid size -- never once per k.

    Scale shape: two broadcast-argmin passes + one (k, c, dim) hash
    agg; centroid frames are sum(grid) rows (28) -- metadata scale;
    nothing quadratic in the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    kp = spark.createDataFrame(
        [(k,) for k in KSWEEP_GRID], "k int"
    )
    sel = (
        e.select("vec_id", "embedding")
        .orderBy(F.col("vec_id").asc())
        .limit(KSWEEP_MAX)
    )
    ids = sel.groupBy().agg(
        F.array_sort(F.collect_list("vec_id")).alias("__ids")
    )
    cents0 = (
        sel.crossJoin(broadcast(ids))
        .select(
            (F.array_position(F.col("__ids"), F.col("vec_id")) - 1)
            .cast("int")
            .alias("c"),
            F.col("embedding").alias("cvec"),
        )
        .crossJoin(broadcast(kp))
        .where(F.col("c") < F.col("k"))
        .select("k", "c", "cvec")
        .localCheckpoint(eager=True)
    )
    d_e6 = _pq_e6(th.sp_l2sq("embedding", "cvec"))

    def assign(cents):
        return (
            e.select("vec_id", "embedding")
            .crossJoin(broadcast(cents))
            .select(
                "vec_id",
                "k",
                F.struct(
                    F.expr(d_e6).alias("d_e6"), F.col("c")
                ).alias("__dc"),
            )
            .groupBy("vec_id", "k")
            .agg(F.min("__dc").alias("__mn"))
            .select(
                "vec_id",
                "k",
                F.col("__mn.c").alias("c"),
                F.col("__mn.d_e6").alias("d_e6"),
            )
        )

    a1 = assign(cents0).join(
        e.select("vec_id", "embedding"), "vec_id"
    )
    means = (
        a1.select("k", "c", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("k", "c", "dim")
        .agg(
            F.sum(
                F.floor(
                    F.col("val").cast("double") * 1000000 + F.lit(0.5)
                ).cast("long")
            ).alias("__su"),
            F.count("val").alias("__cnt"),
        )
        .withColumn(
            "mu",
            F.col("__su").cast("double") / F.col("__cnt") / F.lit(1000000.0),
        )
        .groupBy("k", "c")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, mu))), "
                "x -> cast(x.mu as float))"
            ).alias("__new_vec")
        )
    )
    cents1 = (
        cents0.join(means, ["k", "c"], "left")
        .select(
            "k", "c", F.coalesce("__new_vec", F.col("cvec")).alias("cvec")
        )
        .localCheckpoint(eager=True)
    )
    a2 = assign(cents1)
    cell_n = a2.groupBy("k", "c").agg(
        F.count("*").alias("__n"), F.sum("d_e6").alias("__d")
    )
    return (
        cell_n.groupBy("k")
        .agg(
            F.sum("__d").cast("long").alias("inertia_e6"),
            F.count("*").cast("long").alias("n_cells_used"),
            F.max("__n").cast("long").alias("max_cell_n"),
        )
        .orderBy("k")
    )


QUERIES.update({"kmeans_k_sweep": kmeans_k_sweep})


def _dk_kmeans_k_sweep_oracle() -> str:
    """DuckDB replay of kmeans_k_sweep: same nested seed prefixes,
    same composite-(k, c) single Lloyd iteration, same exact-integer
    devices (e6-L2 argmin, micro-unit means)."""
    d0 = (
        f"CAST(round(round({th.dk_l2sq('e.embedding', 'cb.cvec')}, 6)"
        f" * 1000000.0, 0) AS BIGINT)"
    )
    grid = ", ".join(str(k) for k in KSWEEP_GRID)
    return f"""
        WITH kp AS (SELECT CAST(unnest([{grid}]) AS INTEGER) AS k),
        seeds AS MATERIALIZED (
            SELECT embedding AS cvec,
                   CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
                        AS INTEGER) AS c
            FROM embeddings ORDER BY vec_id ASC LIMIT {KSWEEP_MAX}
        ), cents0 AS MATERIALIZED (
            SELECT k, c, cvec FROM seeds, kp WHERE c < k
        ), a1 AS MATERIALIZED (
            SELECT vec_id, k, c FROM (
                SELECT e.vec_id, cb.k, cb.c,
                       row_number() OVER (PARTITION BY e.vec_id, cb.k
                           ORDER BY {d0} ASC, cb.c ASC) AS rn
                FROM embeddings e, cents0 cb
            ) WHERE rn = 1
        ), mu AS (
            SELECT a1.k, a1.c, t.i AS dim,
                   CAST(sum(CAST(floor(
                       CAST(e.embedding[t.i + 1] AS DOUBLE) * 1000000 + 0.5
                   ) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0 AS mu
            FROM a1 JOIN embeddings e USING (vec_id), range({EMB_DIM}) t(i)
            GROUP BY a1.k, a1.c, t.i
        ), cents1 AS MATERIALIZED (
            SELECT p.k, p.c, coalesce(n.vec, p.cvec) AS cvec
            FROM cents0 p LEFT JOIN (
                SELECT k, c, list(mu::FLOAT ORDER BY dim) AS vec
                FROM mu GROUP BY k, c
            ) n ON p.k = n.k AND p.c = n.c
        ), a2 AS (
            SELECT vec_id, k, c, d_e6 FROM (
                SELECT e.vec_id, cb.k, cb.c, {d0} AS d_e6,
                       row_number() OVER (PARTITION BY e.vec_id, cb.k
                           ORDER BY {d0} ASC, cb.c ASC) AS rn
                FROM embeddings e, cents1 cb
            ) WHERE rn = 1
        ), cell_n AS (
            SELECT k, c, count(*) AS n, sum(d_e6) AS d FROM a2
            GROUP BY k, c
        )
        SELECT k, CAST(sum(d) AS BIGINT) AS inertia_e6,
               CAST(count(*) AS BIGINT) AS n_cells_used,
               CAST(max(n) AS BIGINT) AS max_cell_n
        FROM cell_n GROUP BY k ORDER BY k
    """


ORACLES.update({"kmeans_k_sweep": _dk_kmeans_k_sweep_oracle()})


#: the vocabulary-size axis of tokenizer budgeting: coverage of corpus
#: token OCCURRENCES by the top-V token types.
VOCAB_GRID = [100, 1000, 10000]
VOCAB_MAX = max(VOCAB_GRID)


def vocab_coverage_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage-vs-vocabulary-size curve -- the question a
    tokenizer budget answers (how much of the corpus does a V-type
    vocabulary cover?): for each V in {VOCAB_GRID}, the number of
    corpus token occurrences covered by the top-V token types
    (frequency desc, token asc tiebreak) and the half-up 1e-4 coverage
    share. Output (v, n_types, covered_tokens, total_tokens,
    coverage_e4), one row per grid point.

    Scale shape: one token-count aggregate (map-side combined), then
    TakeOrderedAndProject keeps only the top {VOCAB_MAX} types -- the
    single global window ranks THAT bounded frame (<= {VOCAB_MAX}
    rows; the audit's bounded-global-window class), never the full
    vocabulary, so a 100 TB corpus with billions of types shuffles
    type counts once and sorts nothing corpus-sized."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(
            F.explode(F.expr(th.sp_tokens("lower(text)"))).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.groupBy().agg(
        F.sum("cnt").alias("total_tokens"),
        F.count("*").alias("n_types_all"),
    )
    top = counts.orderBy(
        F.col("cnt").desc(), F.col("tok").asc()
    ).limit(VOCAB_MAX)
    ranked = top.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
        ),
    )
    vg = spark.createDataFrame([(v,) for v in VOCAB_GRID], "v int")
    return (
        ranked.crossJoin(broadcast(vg))
        .where(F.col("rk") <= F.col("v"))
        .groupBy("v")
        .agg(
            F.count("*").cast("long").alias("n_types"),
            F.sum("cnt").cast("long").alias("covered_tokens"),
        )
        .crossJoin(broadcast(total))
        .select(
            "v",
            "n_types",
            "covered_tokens",
            F.col("total_tokens").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "coverage_e4",
            F.expr(
                "CAST((2 * 10000 * covered_tokens + total_tokens)"
                " DIV (2 * total_tokens) AS BIGINT)"
            ),
        )
        .orderBy("v")
    )


QUERIES.update({"vocab_coverage_sweep": vocab_coverage_sweep})

ORACLES.update(
    {
        "vocab_coverage_sweep": f"""
        WITH counts AS MATERIALIZED (
            SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
                SELECT unnest({th.dk_tokens('lower(text)')}) AS tok
                FROM documents
            ) WHERE tok <> '' GROUP BY tok
        ), tot AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM counts
        ), ranked AS MATERIALIZED (
            SELECT tok, cnt,
                   row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rk
            FROM counts
        ), vg AS (
            SELECT CAST(unnest([{', '.join(str(v) for v in VOCAB_GRID)}])
                        AS INTEGER) AS v
        )
        SELECT v,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(cnt) AS BIGINT) AS covered_tokens,
               CAST(any_value(total_tokens) AS BIGINT) AS total_tokens,
               CAST((2 * 10000 * sum(cnt) + any_value(total_tokens))
                    // (2 * any_value(total_tokens)) AS BIGINT)
                   AS coverage_e4
        FROM ranked, vg, tot
        WHERE rk <= v
        GROUP BY v ORDER BY v
    """,
    }
)


#: re-identification thresholds for the k-anonymity audit.
KANON_GRID = [2, 5, 10]


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (Sweeney 2002) -- the
    privacy gate a training-data release runs before shipping: customers
    grouped by the QI tuple (nation, market segment, account-balance
    thousand-bucket); for each threshold k in {KANON_GRID} report how
    many QI groups and rows sit in groups smaller than k (re-identifiable
    at that k) and the half-up 1e-4 row share. Output (k,
    n_groups_at_risk, n_rows_at_risk, share_e4), every grid row present
    even when nothing is at risk.

    Scale shape: ONE grouped count over the QI tuple (map-side
    combined), reused across the whole k grid via a broadcast cross
    join; totals ride the same aggregate. Nothing scans the table
    twice, nothing is quadratic; at 100 TB the QI-group frame is
    |distinct QI tuples| rows."""
    c = load_table(spark, sf_dir, "customer")
    g = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.expr(
                "CAST(floor(c_acctbal / 1000.0) AS BIGINT)"
            ).alias("bal_k"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_k")
        .agg(F.count("*").alias("gsz"))
    )
    tot = g.groupBy().agg(F.sum("gsz").alias("n_rows"))
    kg = spark.createDataFrame([(k,) for k in KANON_GRID], "k int")
    risk = (
        g.crossJoin(broadcast(kg))
        .where(F.col("gsz") < F.col("k"))
        .groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_groups_at_risk"),
            F.sum("gsz").cast("long").alias("n_rows_at_risk"),
        )
    )
    return (
        kg.join(broadcast(risk), "k", "left")
        .crossJoin(broadcast(tot))
        .select(
            "k",
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
        .orderBy("k")
    )


QUERIES.update({"k_anonymity_report": k_anonymity_report})

ORACLES.update(
    {
        "k_anonymity_report": f"""
        WITH g AS MATERIALIZED (
            SELECT c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
                   CAST(count(*) AS BIGINT) AS gsz
            FROM customer GROUP BY 1, 2, 3
        ), tot AS (
            SELECT CAST(sum(gsz) AS BIGINT) AS n_rows FROM g
        ), kg AS (
            SELECT CAST(unnest([{', '.join(str(k) for k in KANON_GRID)}])
                        AS INTEGER) AS k
        ), risk AS (
            SELECT kg.k,
                   CAST(count(*) AS BIGINT) AS n_groups_at_risk,
                   CAST(sum(gsz) AS BIGINT) AS n_rows_at_risk
            FROM g, kg WHERE g.gsz < kg.k GROUP BY kg.k
        )
        SELECT kg.k,
               CAST(coalesce(n_groups_at_risk, 0) AS BIGINT)
                   AS n_groups_at_risk,
               CAST(coalesce(n_rows_at_risk, 0) AS BIGINT)
                   AS n_rows_at_risk,
               CAST((2 * 10000 * coalesce(n_rows_at_risk, 0) + n_rows)
                    // (2 * n_rows) AS BIGINT) AS share_e4
        FROM kg LEFT JOIN risk ON kg.k = risk.k, tot
        ORDER BY kg.k
    """,
    }
)


def dup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation cross-tab dedup reviews start from: does duplicated
    content skew low-quality? Docs are banded by their EXACT-dup group
    size (unique / small 2-4 / large 5+, the dedup_exact grouping) and
    each band reports n_docs, n_groups, mean quality (half-up 1e-2
    units of the integer 0..10000 quality_score) and its corpus doc
    share_e4. Boilerplate/template floods show up as a 'large' band
    whose mean quality undercuts 'unique' -- the signal that motivates
    dup-aware quality weighting (CCNet-style buckets x dup counts).

    Scale shape: one window count over the normalized-text partition
    (the dedup_exact shuffle key -- a single Exchange, no join back),
    then a 3-row aggregate; quality is computed in the same scan.
    Exact integer arithmetic end to end."""
    from abr_etl_spark.operators import dedup as dd
    from abr_etl_spark.operators import text as tx

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # two-tier planted copies (the dedup_exact planting device, plus a
    # heavy tier): doc_id < 50 gains one copy (band small_2_4) and
    # doc_id < 10 four more (band large_5_plus) -- the oracle plants
    # identically, so all three bands exist at every sf
    tiers = [base]
    tiers.append(
        base.where(F.col("doc_id") < 50).withColumn(
            "doc_id", F.col("doc_id") + 10000
        )
    )
    for i in range(2, 6):
        tiers.append(
            base.where(F.col("doc_id") < 10).withColumn(
                "doc_id", F.col("doc_id") + 10000 * i
            )
        )
    d = tiers[0]
    for t in tiers[1:]:
        d = d.unionByName(t)
    scored = d.select(
        "doc_id",
        dd.normalize_text("text").alias("__norm"),
        tx.quality_score("text").cast("long").alias("q"),
    )
    wn = Window.partitionBy("__norm")
    banded = scored.select(
        "q",
        "__norm",
        F.count("*").over(wn).alias("gsz"),
    ).withColumn(
        "band",
        F.when(F.col("gsz") == 1, F.lit("unique"))
        .when(F.col("gsz") <= 4, F.lit("small_2_4"))
        .otherwise(F.lit("large_5_plus")),
    )
    tot = banded.groupBy().agg(F.count("*").alias("n_all"))
    return (
        banded.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("__norm").cast("long").alias("n_groups"),
            F.sum("q").alias("__sq"),
        )
        .crossJoin(broadcast(tot))
        .select(
            "band",
            "n_docs",
            "n_groups",
            F.expr(
                "CAST((2 * 100 * __sq + n_docs) DIV (2 * n_docs)"
                " AS BIGINT)"
            ).alias("mean_q_e2"),
            F.expr(
                "CAST((2 * 10000 * n_docs + n_all) DIV (2 * n_all)"
                " AS BIGINT)"
            ).alias("share_e4"),
        )
        .orderBy("band")
    )


QUERIES.update({"dup_quality_report": dup_quality_report})


def _dk_dup_quality_oracle() -> str:
    from abr_etl_spark.plans.llm_pipeline import _DK_QUALITY

    plants = "\n            UNION ALL\n".join(
        f"            SELECT doc_id + {10000 * i} AS doc_id, text "
        f"FROM documents WHERE doc_id < {50 if i == 1 else 10}"
        for i in range(1, 6)
    )
    return f"""
        WITH all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
{plants}
        ), scored AS MATERIALIZED (
            SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                       AS norm,
                   CAST({_DK_QUALITY} AS BIGINT) AS q
            FROM all_docs
        ), banded AS (
            SELECT q,
                   norm,
                   count(*) OVER (PARTITION BY norm) AS gsz
            FROM scored
        ), b2 AS (
            SELECT q, norm,
                   CASE WHEN gsz = 1 THEN 'unique'
                        WHEN gsz <= 4 THEN 'small_2_4'
                        ELSE 'large_5_plus' END AS band
            FROM banded
        ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM b2)
        SELECT band,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT norm) AS BIGINT) AS n_groups,
               CAST((2 * 100 * sum(q) + count(*)) // (2 * count(*))
                    AS BIGINT) AS mean_q_e2,
               CAST((2 * 10000 * count(*) + any_value(n_all))
                    // (2 * any_value(n_all)) AS BIGINT) AS share_e4
        FROM b2, tot
        GROUP BY band ORDER BY band
    """


ORACLES.update({"dup_quality_report": _dk_dup_quality_oracle()})


#: the filter-size axis of Bloom tuning (BLOOM_K stays 4): measured
#: false-positive rate per bit-array size m.
BLOOM_M_GRID = [1024, 4096, 16384]


def bloom_fpr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The m axis of Bloom-filter tuning (bloom_membership pins one
    M/K point; this measures the curve): build the K=4-hash filter
    over customer keys at each m in {BLOOM_M_GRID} and probe it with
    every key shifted into a disjoint absent range -- per m, report
    bits occupancy, probe count, measured false positives and the
    half-up fpr_e4. The sizing question every 100 TB pre-join filter
    answers: how many bits per key until the FPR stops paying.

    Vectorized across the grid: each key's K full-precision hashes
    (mod the shared 2^31-1 prime) are computed ONCE; per-m bit
    positions are just h % m, so the grid multiplies only metadata-
    scale frames, never the hash pass. The bit sets (<= m rows each)
    broadcast to the probe join exactly as bloom_membership's one
    filter does."""
    from abr_etl_spark.plans.analytics8 import (
        _BLOOM_SEEDS,
        BLOOM_K,
        HLL_P,
    )

    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    mg = spark.createDataFrame(
        [(m,) for m in BLOOM_M_GRID], "m int"
    )

    def hashes(key_expr):
        return F.array(
            *[
                F.expr(
                    f"(({a} * pmod({key_expr}, {HLL_P}) + {b})"
                    f" % {HLL_P})"
                )
                for a, b in _BLOOM_SEEDS[:BLOOM_K]
            ]
        )

    bits = (
        c.select(F.explode(hashes("c_custkey")).alias("h"))
        .crossJoin(broadcast(mg))
        .select("m", F.expr("CAST(h % m AS BIGINT)").alias("pos"))
        .distinct()
    )
    occupancy = bits.groupBy("m").agg(
        F.count("*").cast("long").alias("n_bits_set")
    )
    absent = c.select(
        (F.col("c_custkey") + 1_000_000_000).alias("key")
    )
    probe_pos = (
        absent.select("key", F.explode(hashes("key")).alias("h"))
        .crossJoin(broadcast(mg))
        .select("m", "key", F.expr("CAST(h % m AS BIGINT)").alias("pos"))
        .distinct()
    )
    per_key = (
        probe_pos.join(
            broadcast(bits.withColumn("__set", F.lit(1))),
            ["m", "pos"],
            "left",
        )
        .groupBy("m", "key")
        .agg(
            F.count("*").alias("np"),
            F.sum(F.coalesce("__set", F.lit(0))).alias("nm"),
        )
    )
    fp = (
        per_key.where(F.col("nm") == F.col("np"))
        .groupBy("m")
        .agg(F.count("*").cast("long").alias("n_false_pos"))
    )
    tot = absent.groupBy().agg(F.count("*").alias("n_probes"))
    return (
        mg.join(broadcast(occupancy), "m", "left")
        .join(broadcast(fp), "m", "left")
        .crossJoin(broadcast(tot))
        .select(
            "m",
            F.coalesce("n_bits_set", F.lit(0))
            .cast("long")
            .alias("n_bits_set"),
            F.col("n_probes").cast("long").alias("n_probes"),
            F.coalesce("n_false_pos", F.lit(0))
            .cast("long")
            .alias("n_false_pos"),
            # NULL fpr on an empty key set (fresh-tenant lake): the
            # plain DIV raised under ANSI (empty-lake net)
            F.expr(
                "CASE WHEN n_probes = 0 THEN NULL ELSE"
                " CAST((2 * 10000 * coalesce(n_false_pos, 0) + n_probes)"
                " DIV (2 * n_probes) AS BIGINT) END"
            ).alias("fpr_e4"),
        )
        .orderBy("m")
    )


QUERIES.update({"bloom_fpr_sweep": bloom_fpr_sweep})


def _dk_bloom_fpr_oracle() -> str:
    from abr_etl_spark.plans.analytics8 import (
        _BLOOM_SEEDS,
        BLOOM_K,
        HLL_P,
    )

    def hs(key):
        return ", ".join(
            f"(({a} * ({key} % {HLL_P}) + {b}) % {HLL_P})"
            for a, b in _BLOOM_SEEDS[:BLOOM_K]
        )

    grid = ", ".join(str(m) for m in BLOOM_M_GRID)
    return f"""
        WITH mg AS (SELECT CAST(unnest([{grid}]) AS INTEGER) AS m),
        bh AS MATERIALIZED (
            SELECT unnest([{hs('c_custkey')}]) AS h FROM customer
        ), bits AS MATERIALIZED (
            SELECT DISTINCT m, CAST(h % m AS BIGINT) AS pos FROM bh, mg
        ), occ AS (
            SELECT m, CAST(count(*) AS BIGINT) AS n_bits_set
            FROM bits GROUP BY m
        ), ah AS MATERIALIZED (
            SELECT key, unnest([{hs('key')}]) AS h FROM (
                SELECT c_custkey + 1000000000 AS key FROM customer
            )
        ), pp AS (
            SELECT DISTINCT m, key, CAST(h % m AS BIGINT) AS pos
            FROM ah, mg
        ), pk AS (
            SELECT pp.m, pp.key,
                   count(*) AS np,
                   sum(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS nm
            FROM pp LEFT JOIN bits b ON b.m = pp.m AND b.pos = pp.pos
            GROUP BY pp.m, pp.key
        ), fp AS (
            SELECT m, CAST(count(*) AS BIGINT) AS n_false_pos
            FROM pk WHERE nm = np GROUP BY m
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_probes FROM customer
        )
        SELECT mg.m,
               CAST(coalesce(occ.n_bits_set, 0) AS BIGINT) AS n_bits_set,
               CAST(tot.n_probes AS BIGINT) AS n_probes,
               CAST(coalesce(fp.n_false_pos, 0) AS BIGINT) AS n_false_pos,
               CASE WHEN tot.n_probes = 0 THEN NULL ELSE
                   CAST((2 * 10000 * coalesce(fp.n_false_pos, 0)
                         + tot.n_probes) // (2 * tot.n_probes) AS BIGINT)
               END AS fpr_e4
        FROM mg LEFT JOIN occ ON mg.m = occ.m
                LEFT JOIN fp ON mg.m = fp.m, tot
        ORDER BY mg.m
    """


ORACLES.update({"bloom_fpr_sweep": _dk_bloom_fpr_oracle()})


#: distinct-sensitive-value thresholds for the l-diversity audit.
LDIV_GRID = [2, 3, 5]


def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007), k-anonymity's
    companion: a QI group can be k-anonymous yet leak its sensitive
    attribute when every member shares one value. QI = (nation, market
    segment); sensitive = the account-balance thousand-bucket. Per l
    in {LDIV_GRID}: QI groups carrying FEWER than l distinct sensitive
    values, the rows inside them, and the half-up row share_e4 --
    every grid row present.

    Scale shape: one (QI, sensitive) grouped count collapsed to a
    per-QI (distinct-sensitive, rows) frame -- two map-side-combined
    aggregates on the same key prefix, one shuffle chain -- then the
    broadcast grid cross. |QI| rows thereafter."""
    c = load_table(spark, sf_dir, "customer")
    qs = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.expr(
                "CAST(floor(c_acctbal / 1000.0) AS BIGINT)"
            ).alias("bal_k"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_k")
        .agg(F.count("*").alias("n"))
    )
    g = qs.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("ldiv"),
        F.sum("n").alias("gsz"),
    )
    tot = g.groupBy().agg(F.sum("gsz").alias("n_rows"))
    lg = spark.createDataFrame([(l,) for l in LDIV_GRID], "l int")
    risk = (
        g.crossJoin(broadcast(lg))
        .where(F.col("ldiv") < F.col("l"))
        .groupBy("l")
        .agg(
            F.count("*").cast("long").alias("n_groups_at_risk"),
            F.sum("gsz").cast("long").alias("n_rows_at_risk"),
        )
    )
    return (
        lg.join(broadcast(risk), "l", "left")
        .crossJoin(broadcast(tot))
        .select(
            "l",
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
        .orderBy("l")
    )


QUERIES.update({"l_diversity_report": l_diversity_report})

ORACLES.update(
    {
        "l_diversity_report": f"""
        WITH qs AS MATERIALIZED (
            SELECT c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
                   CAST(count(*) AS BIGINT) AS n
            FROM customer GROUP BY 1, 2, 3
        ), g AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(count(*) AS BIGINT) AS ldiv,
                   CAST(sum(n) AS BIGINT) AS gsz
            FROM qs GROUP BY 1, 2
        ), tot AS (
            SELECT CAST(sum(gsz) AS BIGINT) AS n_rows FROM g
        ), lg AS (
            SELECT CAST(unnest([{', '.join(str(l) for l in LDIV_GRID)}])
                        AS INTEGER) AS l
        ), risk AS (
            SELECT lg.l,
                   CAST(count(*) AS BIGINT) AS n_groups_at_risk,
                   CAST(sum(gsz) AS BIGINT) AS n_rows_at_risk
            FROM g, lg WHERE g.ldiv < lg.l GROUP BY lg.l
        )
        SELECT lg.l,
               CAST(coalesce(n_groups_at_risk, 0) AS BIGINT)
                   AS n_groups_at_risk,
               CAST(coalesce(n_rows_at_risk, 0) AS BIGINT)
                   AS n_rows_at_risk,
               CAST((2 * 10000 * coalesce(n_rows_at_risk, 0) + n_rows)
                    // (2 * n_rows) AS BIGINT) AS share_e4
        FROM lg LEFT JOIN risk ON lg.l = risk.l, tot
        ORDER BY lg.l
    """,
    }
)


#: allowed-lateness grid (seconds) for the watermark sizing sweep:
#: 0 / 1 day / 7 days / 30 days -- the events table spans ~a month, so
#: the grid brackets the actual disorder horizon (a sub-hour grid
#: measured ~flat: under the fully-shuffled arrival order ~93% of
#: events were late at every point).
LATENESS_GRID = [0, 86400, 604800, 2592000]

_LAT_P = 2147483647


def _lateness_hash_sql(key: str, *, engine: str = "spark") -> str:
    """Deterministic arrival-order scramble of an id column, shared by
    both engines. An affine hash of sequential ids LATTICES (stays
    monotone -- polyhash of short decimal strings does too, measured:
    arrival order equaled event order and nothing was ever late), so
    square the affine then re-affine: ((A*k+B)%P)^2 %P *A2+B2 -- the
    same device the HLL keys use. All intermediates < 2^62."""
    fold = (
        f"pmod({key}, {_LAT_P})" if engine == "spark" else f"({key} % {_LAT_P})"
    )
    b = f"((1103515245 * {fold} + 12345) % {_LAT_P})"
    return f"((({b} * {b}) % {_LAT_P}) * 69069 + 362437) % {_LAT_P}"


def watermark_lateness_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The allowed-lateness axis of streaming watermark sizing: replay
    the event stream in a deterministic out-of-order ARRIVAL order
    (the squared-affine id scramble _lateness_hash_sql -- reproducible
    in both engines, unlike a wall-clock ingest log) with a per-key
    (user) watermark anchored at
    the max event-time seen so far; per allowed delay D in
    {LATENESS_GRID} s, count events arriving with event-time older
    than (anchor - D) -- exactly the rows a `withWatermark(D)` keyed
    aggregation would drop. Output (delay_s, n_events, n_late,
    late_share_e4): the drop-rate-vs-latency trade-off that picks a
    production watermark.

    Scale shape: ONE (user)-partitioned window (Exchange + Sort on
    arrival order) computes the running anchor; the delay grid is a
    broadcast cross on the flagged frame -- no per-delay replay. The
    per-key watermark mirrors keyed-state semantics; a global
    watermark needs only the same anchor un-partitioned (documented,
    not computed -- unbounded global windows are off-limits)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("ts_s"),
        F.expr(_lateness_hash_sql("event_id")).alias("h"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("h").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    anch = base.select(
        "ts_s", F.max("ts_s").over(w).alias("wm")
    )
    dg = spark.createDataFrame(
        [(d,) for d in LATENESS_GRID], "delay_s int"
    )
    return (
        anch.crossJoin(broadcast(dg))
        .groupBy("delay_s")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                F.when(
                    F.col("wm").isNotNull()
                    & (F.col("ts_s") < F.col("wm") - F.col("delay_s")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_late"),
        )
        .withColumn(
            "late_share_e4",
            F.expr(
                "CAST((2 * 10000 * n_late + n_events)"
                " DIV (2 * n_events) AS BIGINT)"
            ),
        )
        .orderBy("delay_s")
    )


QUERIES.update({"watermark_lateness_sweep": watermark_lateness_sweep})

ORACLES.update(
    {
        "watermark_lateness_sweep": f"""
        WITH base AS MATERIALIZED (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                   {_lateness_hash_sql('event_id', engine='duckdb')} AS h
            FROM events
        ), anch AS (
            SELECT ts_s,
                   max(ts_s) OVER (PARTITION BY user_id
                       ORDER BY h ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS wm
            FROM base
        ), dg AS (
            SELECT CAST(unnest([{', '.join(str(d) for d in LATENESS_GRID)}])
                        AS INTEGER) AS delay_s
        )
        SELECT delay_s,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN wm IS NOT NULL
                                  AND ts_s < wm - delay_s
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
               CAST((2 * 10000 * sum(CASE WHEN wm IS NOT NULL
                                               AND ts_s < wm - delay_s
                                          THEN 1 ELSE 0 END)
                     + count(*)) // (2 * count(*)) AS BIGINT)
                   AS late_share_e4
        FROM anch, dg
        GROUP BY delay_s ORDER BY delay_s
    """,
    }
)


#: RRF smoothing constant (Cormack, Clarke & Buettcher 2009 use 60).
RRF_K = 60


def rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval
    rankings -- the hybrid-search staple: fuse the EXACT cosine top-k
    (ann_bruteforce) with the lossy-but-cheap PQ ADC top-k
    (ann_pq_adc) per query; a candidate's fused score is the sum of
    1/(RRF_K + rank) over the lists that returned it, computed as the
    exact integer surrogate 10^6 DIV (RRF_K + rank) so both engines
    agree bit-for-bit (no rational-sum denominators). Output
    (query_id, rank, neighbor_id, rrf_e6): top-{ANN_K} of the fused
    union (score desc, neighbor_id tiebreak).

    Scale shape: both input rankings are queries x k rows (metadata
    scale after their own pipelines); the fusion is a full-outer
    equi-join on (query, neighbor) plus one window over queries x
    <= 2k rows. The expensive parts are the upstream ANN pipelines,
    both already bounded."""
    from abr_etl_spark.plans.llm_pipeline import q_ann_bruteforce

    bf = q_ann_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("r_bf")
    )
    pq = ann_pq_adc(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("r_pq")
    )
    fused = (
        bf.join(pq, ["query_id", "neighbor_id"], "outer")
        .withColumn(
            "rrf_e6",
            F.expr(
                f"CAST(coalesce(1000000 DIV ({RRF_K} + r_bf), 0)"
                f" + coalesce(1000000 DIV ({RRF_K} + r_pq), 0)"
                f" AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_e6").desc(), F.col("neighbor_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            "rrf_e6",
        )
        .orderBy("query_id", "rank")
    )


QUERIES.update({"rank_fusion_rrf": rank_fusion_rrf})


def _dk_rrf_oracle() -> str:
    """Composes the two EXISTING oracle statements as scoped
    subqueries (their CTE names stay local), then replays the integer
    RRF fold and the fused re-rank."""
    from abr_etl_spark.plans.llm_pipeline import ORACLES as LP_ORACLES

    bf = LP_ORACLES["ann_bruteforce"]
    pq = ORACLES["ann_pq_adc"]
    return f"""
        WITH bf AS MATERIALIZED (
            SELECT query_id, neighbor_id, rank AS r_bf FROM ({bf})
        ), pq AS MATERIALIZED (
            SELECT query_id, neighbor_id, rank AS r_pq FROM ({pq})
        ), fused AS (
            SELECT coalesce(bf.query_id, pq.query_id) AS query_id,
                   coalesce(bf.neighbor_id, pq.neighbor_id) AS neighbor_id,
                   CAST(coalesce(1000000 // ({RRF_K} + r_bf), 0)
                        + coalesce(1000000 // ({RRF_K} + r_pq), 0)
                        AS BIGINT) AS rrf_e6
            FROM bf FULL OUTER JOIN pq
              ON bf.query_id = pq.query_id
             AND bf.neighbor_id = pq.neighbor_id
        )
        SELECT query_id, CAST(rank AS INTEGER) AS rank,
               neighbor_id, rrf_e6
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY rrf_e6 DESC, neighbor_id ASC) AS rank
            FROM fused
        ) WHERE rank <= {ANN_K}
        ORDER BY query_id, rank
    """


ORACLES.update({"rank_fusion_rrf": _dk_rrf_oracle()})


#: enumeration contracts for dq_accepted_values: (check, table, col,
#: accepted). The strict_of contract deliberately narrows the order
#: status to {O, F} so the violation path runs on REAL rows (the 'P'
#: backlog) beside the passing full contracts.
DQ_ACCEPTED: list[tuple[str, str, str, list[str]]] = [
    ("returnflag_full", "lineitem", "l_returnflag", ["A", "N", "R"]),
    ("linestatus_full", "lineitem", "l_linestatus", ["F", "O"]),
    ("orderstatus_full", "orders", "o_orderstatus", ["F", "O", "P"]),
    ("orderstatus_strict_of", "orders", "o_orderstatus", ["F", "O"]),
    (
        "mktsegment_full",
        "customer",
        "c_mktsegment",
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
    ),
]


def dq_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enumeration leg of the DQ family (dbt's accepted_values
    test beside dq_completeness / dq_uniqueness / dq_referential):
    every contract in {len(DQ_ACCEPTED)} checks counts rows outside
    its accepted set (NULL = violation) and the distinct illegal
    values. The strict_of contract narrows order status to {{O, F}} on
    purpose -- its violations are the real 'P' backlog rows, proving
    the failure path on live data while the full contracts prove the
    clean path.

    Scale shape: ONE conditional-aggregation scan per table regardless
    of how many contracts it carries (operators/quality.py
    accepted_values_report -- same single-scan stack device as
    completeness_report); output is contract-count rows."""
    from abr_etl_spark.operators.quality import accepted_values_report

    per_table: dict[str, list[tuple[str, str, list[str]]]] = {}
    for name, table, col, acc in DQ_ACCEPTED:
        per_table.setdefault(table, []).append((name, col, acc))
    parts = [
        accepted_values_report(
            load_table(spark, sf_dir, table), table, checks
        )
        for table, checks in per_table.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("check_name")


QUERIES.update({"dq_accepted_values": dq_accepted_values})


def _dk_accepted_values_oracle() -> str:
    legs = []
    for name, table, col, acc in DQ_ACCEPTED:
        inlist = ", ".join(f"'{v}'" for v in acc)
        legs.append(f"""
        SELECT '{name}' AS check_name, '{table}' AS table_name,
               '{col}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN {col} IN ({inlist}) THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_violations,
               CAST(count(DISTINCT CASE WHEN {col} IN ({inlist})
                                        THEN NULL ELSE {col} END)
                    AS BIGINT) AS n_distinct_bad
        FROM {table}""")
    return " UNION ALL ".join(legs) + " ORDER BY check_name"


ORACLES.update({"dq_accepted_values": _dk_accepted_values_oracle()})


#: prefix-dimension grid for the truncation sweep (full dim last --
#: that grid point IS the exact ranking, recall 10000 by construction).
EMB_TRUNC_GRID = [16, 32, 64]


def emb_dim_truncation_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension-budget axis of embedding retrieval (the question
    Matryoshka representation learning answers at serve time: how few
    prefix dimensions keep the ranking?): for each d in
    {EMB_TRUNC_GRID}, rank neighbors by cosine over the FIRST d
    dimensions only and report recall@{ANN_K} against the full-
    {EMB_DIM}-dim exact ranking. Output (dim, n_truth_pairs, n_hits,
    recall_e4); the full-dim grid point recalls 10000 by construction
    (pytest-pinned), so the curve reads as pure truncation loss.

    Scale shape: ONE pass builds every (query, neighbor, d) score --
    queries and the d grid are broadcast, so the corpus is scanned
    once; ranking is a (query, d)-partitioned window over bounded
    per-query candidate sets; the truth join moves (query, neighbor)
    id pairs only. Slice-then-fold keeps all arithmetic in the same
    engine-shared sequential cosine."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
    )
    dg = spark.createDataFrame(
        [(d,) for d in EMB_TRUNC_GRID], "dim int"
    )
    scored = (
        e.select(F.col("vec_id").alias("neighbor_id"), "embedding")
        .crossJoin(broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .crossJoin(broadcast(dg))
        .select(
            "query_id",
            "neighbor_id",
            "dim",
            F.round(
                F.expr(
                    th.sp_cosine(
                        "slice(qv, 1, dim)", "slice(embedding, 1, dim)"
                    )
                ),
                6,
            ).alias("cos_d"),
        )
    )
    w = Window.partitionBy("query_id", "dim").orderBy(
        F.col("cos_d").desc(), F.col("neighbor_id").asc()
    )
    ranked = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= ANN_K)
        .select("query_id", "neighbor_id", "dim")
    )
    truth = ranked.where(F.col("dim") == EMB_TRUNC_GRID[-1]).select(
        "query_id", "neighbor_id"
    )
    n_truth = truth.groupBy().agg(F.count("*").alias("n_truth_pairs"))
    hits = (
        ranked.join(broadcast(truth), ["query_id", "neighbor_id"])
        .groupBy("dim")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        dg.join(broadcast(hits), "dim", "left")
        .crossJoin(broadcast(n_truth))
        .select(
            "dim",
            F.col("n_truth_pairs").cast("long").alias("n_truth_pairs"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            # NULL recall when the truth set is empty (empty-lake net:
            # the plain DIV raised under ANSI)
            F.expr(
                "CASE WHEN n_truth_pairs = 0 THEN NULL ELSE"
                " CAST((2 * 10000 * coalesce(n_hits, 0) + n_truth_pairs)"
                " DIV (2 * n_truth_pairs) AS BIGINT) END"
            ).alias("recall_e4"),
        )
        .orderBy("dim")
    )


QUERIES.update({"emb_dim_truncation_sweep": emb_dim_truncation_sweep})


def _dk_emb_trunc_oracle() -> str:
    cos = th.dk_cosine("qv[1:dim]", "embedding[1:dim]")
    grid = ", ".join(str(d) for d in EMB_TRUNC_GRID)
    return f"""
        WITH dg AS (
            SELECT CAST(unnest([{grid}]) AS INTEGER) AS dim
        ), qs AS MATERIALIZED (
            SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id < {N_QUERY_VECS}
        ), scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id, dg.dim,
                   round({cos}, 6) AS cos_d
            FROM embeddings e, qs q, dg
            WHERE q.query_id <> e.vec_id
        ), ranked AS MATERIALIZED (
            SELECT query_id, neighbor_id, dim FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id, dim
                    ORDER BY cos_d DESC, neighbor_id ASC) AS rk
                FROM scored
            ) WHERE rk <= {ANN_K}
        ), truth AS (
            SELECT query_id, neighbor_id FROM ranked
            WHERE dim = {EMB_TRUNC_GRID[-1]}
        ), nt AS (
            SELECT CAST(count(*) AS BIGINT) AS n_truth_pairs FROM truth
        ), hits AS (
            SELECT r.dim, CAST(count(*) AS BIGINT) AS n_hits
            FROM ranked r JOIN truth t
              ON r.query_id = t.query_id
             AND r.neighbor_id = t.neighbor_id
            GROUP BY r.dim
        )
        SELECT dg.dim,
               CAST(nt.n_truth_pairs AS BIGINT) AS n_truth_pairs,
               CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
               CASE WHEN nt.n_truth_pairs = 0 THEN NULL ELSE
                   CAST((2 * 10000 * coalesce(hits.n_hits, 0)
                         + nt.n_truth_pairs) // (2 * nt.n_truth_pairs)
                        AS BIGINT)
               END AS recall_e4
        FROM dg LEFT JOIN hits ON dg.dim = hits.dim, nt
        ORDER BY dg.dim
    """


ORACLES.update({"emb_dim_truncation_sweep": _dk_emb_trunc_oracle()})
