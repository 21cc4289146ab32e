"""Round-13 LLM-pipeline batch: index-tuning synthesis and corpus
boilerplate reporting.

- ``ann_pareto_frontier``: the recall/cost Pareto frontier ACROSS index
  families, synthesized from the existing sweep frames (LSH multiprobe
  radii + IVFADC nprobe grid) -- the one table an operator reads to
  pick an index, instead of two per-family sweeps.
- ``boilerplate_line_census``: per-source census of repeated lines over
  dedup_lines' synthesized pages -- the REPORT grain (how much of each
  source is boilerplate) beside dedup_lines' drop grain.

Reference parity: curation reporting downstream of the dedup/ANN
machinery (SURVEY.md S2.D/E rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from abr_etl_spark.sources.lake import load_table

QUERIES: dict = {}
ORACLES: dict = {}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "ann_pareto_frontier": ("ann_sweep", "ivf_scored"),
    "dedup_cross_source_matrix": ("pairs:n3:t0.9",),
}

# --------------------------------------------------- ann_pareto_frontier


def ann_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family recall/cost Pareto frontier: union the LSH
    multiprobe sweep (ann_nprobe_sweep's radii) and the IVFADC nprobe
    sweep into one (family, knob, n_candidates, recall_e4) table and
    flag each config's frontier membership -- a config is ON the
    frontier iff no other config verifies fewer-or-equal candidates for
    greater-or-equal recall (strict in at least one axis; equal-cost
    equal-recall ties all stay, skyline_pareto's rule). Output
    (family, knob, n_candidates, recall_e4, on_frontier), every swept
    config reported so the dominated rows are visible too.

    Synthesis, not re-measurement: both sweep subtrees are the EXACT
    dataframe graphs of their standalone keys (ann_nprobe_sweep,
    ivfadc_nprobe_sweep), so Catalyst dedups their shared stages (the
    brute-force truth, the embeddings scan) inside this one plan and
    the cached pair machinery is reused across keys in a session.

    Scale shape: all sweep outputs are grid-sized (|radii| + |nprobe
    grid| rows); the dominance test is skyline_pareto's two RANGE
    windows over that bounded union -- whitelisted as a bounded global
    window, never data-sized."""
    from abr_etl_spark.plans.llm_pipeline7 import ann_nprobe_sweep
    from abr_etl_spark.plans.llm_pipeline9 import ivfadc_nprobe_sweep

    lsh = ann_nprobe_sweep(spark, sf_dir).select(
        F.lit("lsh_multiprobe").alias("family"),
        F.col("radius").cast("int").alias("knob"),
        "n_candidates",
        "recall_e4",
    )
    ivf = ivfadc_nprobe_sweep(spark, sf_dir).select(
        F.lit("ivfadc").alias("family"),
        F.col("nprobe").cast("int").alias("knob"),
        "n_candidates",
        "recall_e4",
    )
    u = lsh.unionByName(ivf)
    # bounded global windows: the frame is the grid union (<= ~6 rows)
    w_lt = Window.orderBy(F.col("n_candidates").asc()).rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_le = Window.orderBy(F.col("n_candidates").asc()).rangeBetween(
        Window.unboundedPreceding, 0
    )
    return (
        u.withColumn("__m_lt", F.max("recall_e4").over(w_lt))
        .withColumn("__m_le", F.max("recall_e4").over(w_le))
        .select(
            "family",
            "knob",
            "n_candidates",
            "recall_e4",
            (
                ~(
                    (
                        F.coalesce(F.col("__m_lt"), F.lit(-1))
                        >= F.col("recall_e4")
                    )
                    | (F.col("__m_le") > F.col("recall_e4"))
                )
            ).alias("on_frontier"),
        )
        .orderBy("n_candidates", "family", "knob")
    )


QUERIES["ann_pareto_frontier"] = ann_pareto_frontier


def _ann_pareto_oracle() -> str:
    from abr_etl_spark.plans.llm_pipeline7 import ORACLES as LP7_ORACLES
    from abr_etl_spark.plans.llm_pipeline9 import ORACLES as LP9_ORACLES

    return f"""
        WITH u AS (
            SELECT 'lsh_multiprobe' AS family,
                   CAST(radius AS INTEGER) AS knob,
                   n_candidates, recall_e4
            FROM ({LP7_ORACLES["ann_nprobe_sweep"]})
            UNION ALL
            SELECT 'ivfadc' AS family,
                   CAST(nprobe AS INTEGER) AS knob,
                   n_candidates, recall_e4
            FROM ({LP9_ORACLES["ivfadc_nprobe_sweep"]})
        ), m AS (
            SELECT family, knob, n_candidates, recall_e4,
                   max(recall_e4) OVER (
                       ORDER BY n_candidates ASC
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS m_lt,
                   max(recall_e4) OVER (
                       ORDER BY n_candidates ASC
                       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS m_le
            FROM u
        )
        SELECT family, knob, n_candidates, recall_e4,
               NOT (coalesce(m_lt, -1) >= recall_e4 OR m_le > recall_e4)
                   AS on_frontier
        FROM m
        ORDER BY n_candidates, family, knob
    """


ORACLES["ann_pareto_frontier"] = _ann_pareto_oracle()

# ----------------------------------------------- boilerplate_line_census

#: a line is boilerplate once it appears on at least this many of one
#: source's pages (the synthesized page header hits every page).
BOILER_MIN_PAGES = 2


def boilerplate_line_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate line census over dedup_lines' synthesized
    multi-line pages (same header + {LINES_PER_PAGE}-doc page CTE,
    grouped per source): how many distinct lines repeat across >=
    {BOILER_MIN_PAGES} of the source's pages and what share of the
    source's line mass they carry. Output (source, n_pages,
    n_line_occurrences, n_distinct_lines, n_boiler_lines,
    boiler_occurrences, boiler_share_e4) -- the table a curation team
    reads to decide which source needs line-level dedup BEFORE paying
    for it (dedup_lines is the drop grain; this is the report grain).

    Determinism: page synthesis is dedup_lines' exact rule
    (header + docs sorted by doc_id joined with newlines, lowercased
    trimmed lines); counts are exact BIGINTs and the share is one
    half-up 1e-4 integer division (occurrences are positive, so plain
    DIV agrees across engines).

    Scale shape: ONE scan to pages, one explode, one (source, line)
    shuffle (the same key dedup_lines shuffles on -- the line IS the
    row), then a |sources|-row report. 100 TB cost = dedup_lines'."""
    from abr_etl_spark.plans.llm_pipeline4 import LINES_PER_PAGE, PAGE_HEADER

    d = load_table(spark, sf_dir, "documents")
    pages = d.groupBy(
        "source",
        F.expr(f"CAST(doc_id DIV {LINES_PER_PAGE} AS BIGINT)").alias(
            "page_id"
        ),
    ).agg(
        F.concat(
            F.lit(PAGE_HEADER + "\n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ),
        ).alias("page_text")
    )
    lines = pages.select(
        "source",
        "page_id",
        F.explode(F.split("page_text", "\n")).alias("__raw"),
    ).select("source", "page_id", F.lower(F.trim("__raw")).alias("line"))
    per_line = lines.groupBy("source", "line").agg(
        F.count("*").alias("occ"),
        F.countDistinct("page_id").alias("page_df"),
    )
    n_pages = pages.groupBy("source").agg(
        F.countDistinct("page_id").alias("n_pages")
    )
    census = per_line.groupBy("source").agg(
        F.sum("occ").cast("long").alias("n_line_occurrences"),
        F.count("*").cast("long").alias("n_distinct_lines"),
        F.sum(
            F.when(F.col("page_df") >= BOILER_MIN_PAGES, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_boiler_lines"),
        F.sum(
            F.when(F.col("page_df") >= BOILER_MIN_PAGES, F.col("occ")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("boiler_occurrences"),
    )
    return (
        census.join(n_pages, "source")
        .select(
            "source",
            F.col("n_pages").cast("long").alias("n_pages"),
            "n_line_occurrences",
            "n_distinct_lines",
            "n_boiler_lines",
            "boiler_occurrences",
            F.expr(
                "(2 * 10000 * boiler_occurrences + n_line_occurrences)"
                " DIV (2 * n_line_occurrences)"
            ).alias("boiler_share_e4"),
        )
        .orderBy("source")
    )


QUERIES["boilerplate_line_census"] = boilerplate_line_census


def _boiler_census_oracle() -> str:
    from abr_etl_spark.plans.llm_pipeline4 import LINES_PER_PAGE, PAGE_HEADER

    return f"""
        WITH p AS (
            SELECT source, doc_id // {LINES_PER_PAGE} AS page_id,
                   '{PAGE_HEADER}' || chr(10)
                       || string_agg(text, chr(10) ORDER BY doc_id)
                       AS page_text
            FROM documents GROUP BY 1, 2
        ), l AS (
            SELECT source, page_id,
                   lower(trim(unnest(string_split(page_text, chr(10)))))
                       AS line
            FROM p
        ), pl AS (
            SELECT source, line, count(*) AS occ,
                   count(DISTINCT page_id) AS page_df
            FROM l GROUP BY 1, 2
        ), np AS (
            SELECT source, CAST(count(DISTINCT page_id) AS BIGINT)
                       AS n_pages
            FROM p GROUP BY 1
        ), c AS (
            SELECT source,
                   CAST(sum(occ) AS BIGINT) AS n_line_occurrences,
                   CAST(count(*) AS BIGINT) AS n_distinct_lines,
                   CAST(sum(CASE WHEN page_df >= {BOILER_MIN_PAGES}
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_boiler_lines,
                   CAST(sum(CASE WHEN page_df >= {BOILER_MIN_PAGES}
                                 THEN occ ELSE 0 END) AS BIGINT)
                       AS boiler_occurrences
            FROM pl GROUP BY 1
        )
        SELECT c.source, np.n_pages, c.n_line_occurrences,
               c.n_distinct_lines, c.n_boiler_lines, c.boiler_occurrences,
               CAST((2 * 10000 * c.boiler_occurrences
                     + c.n_line_occurrences)
                    // (2 * c.n_line_occurrences) AS BIGINT)
                   AS boiler_share_e4
        FROM c JOIN np USING (source)
        ORDER BY source
    """


ORACLES["boilerplate_line_census"] = _boiler_census_oracle()

# ----------------------------------------------- dedup_cross_source_matrix


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix over the verified near-dup pairs:
    for every unordered source pair, how many tau-pairs span it and the
    strongest overlap seen -- (source_a, source_b, n_pairs,
    max_jaccard). THE contamination table a curation team reads before
    mixing sources into one training split (diagonal rows = in-source
    duplication; off-diagonal = one source republishing another, the
    benchmark-leakage shape cross_split_leakage checks at split grain).

    Synthesis off the SHARED pair cache (dedup_ngram_jaccard's
    machinery): two survivor-bounded joins attach each side's source,
    the (lexically smaller, larger) normalization makes the matrix
    unordered, and the reduction is |sources|^2-bounded.

    Scale shape: pair frame is survivor-bounded (broadcast against the
    documents projection -- the big side streams); no new corpus pass
    beyond the cached candidate machinery."""
    from abr_etl_spark.operators import dedup
    from abr_etl_spark.plans.llm_pipeline import JACCARD_TAU

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, threshold=JACCARD_TAU).select(
        "doc_a", "doc_b", "jaccard"
    )
    src = d.select("doc_id", "source")
    located = (
        src.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "__sa")
        .join(F.broadcast(pairs), "doc_a")
        .join(
            F.broadcast(
                src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                    "source", "__sb"
                )
            ),
            "doc_b",
        )
    )
    return (
        located.select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


QUERIES["dedup_cross_source_matrix"] = dedup_cross_source_matrix


def _cross_source_oracle() -> str:
    from abr_etl_spark.functions import texthash as th
    from abr_etl_spark.plans.llm_pipeline import JACCARD_TAU

    sh = th.dk_shingles("text", 3)
    return f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, source, {sh} AS sh FROM documents
        ), e AS MATERIALIZED (
            SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM t
        ), common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b,
                   count(*) AS c
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS (
            SELECT doc_a, doc_b,
                   round(c::DOUBLE / (n_a + n_b - c), 4) AS jaccard
            FROM common
            WHERE c::DOUBLE / (n_a + n_b - c) >= {JACCARD_TAU}
        ), located AS (
            SELECT least(ta.source, tb.source) AS source_a,
                   greatest(ta.source, tb.source) AS source_b,
                   p.jaccard
            FROM pairs p
            JOIN t ta ON ta.doc_id = p.doc_a
            JOIN t tb ON tb.doc_id = p.doc_b
        )
        SELECT source_a, source_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               max(jaccard) AS max_jaccard
        FROM located GROUP BY 1, 2
        ORDER BY source_a, source_b
    """


ORACLES["dedup_cross_source_matrix"] = _cross_source_oracle()

# ------------------------------------------------ embedding_norm_outliers

#: z-threshold for the norm outlier flag (the classic 3-sigma fence).
NORM_Z = 3


def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding vectors whose squared L2 norm sits more than
    {NORM_Z} population sigmas from the corpus mean -- the cheap sanity
    screen that catches unnormalized batches, zero vectors, and
    fp-overflow debris BEFORE they poison cosine machinery. Output
    (vec_id, norm2_e6, side) for flagged vectors only, side = 'low' /
    'high'.

    Determinism: each vector's norm2 folds ITS OWN array sequentially
    (sp/dk parity shape, s + v*v) -- one IEEE-identical double per row
    -- then quantizes to e6 BIGINT, so the corpus-level moments are
    EXACT integer sums (no cross-row float accumulation order anywhere);
    the fence test is the integer cross-multiplication
    (x*n - S)^2 > z^2 * (n*Q - S^2) in DECIMAL(38,0), never a float
    sigma. All-equal norms make the RHS 0 and flag nothing.

    Scale shape: ONE embeddings scan computes per-row norms; the
    moments are one map-side-combined 1-row aggregate broadcast back;
    the flag is a map-side filter. 100 TB cost = the scan (x2 lineage
    passes, or x1 with a cached norm column)."""
    e = load_table(spark, sf_dir, "embeddings")
    norm2 = (
        "aggregate(transform(embedding, x -> cast(x as double)), 0.0D,"
        " (s, v) -> s + v * v)"
    )
    nx = e.select(
        "vec_id",
        F.expr(f"CAST(floor(({norm2}) * 1000000 + 0.5) AS BIGINT)").alias(
            "x"
        ),
    )
    mom = nx.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("S"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("Q"),
    )
    dev = "(CAST(x AS DECIMAL(38,0)) * n - S)"
    var_n2 = "(CAST(n AS DECIMAL(38,0)) * Q - CAST(S AS DECIMAL(38,0)) * S)"
    return (
        nx.crossJoin(F.broadcast(mom))
        .where(F.expr(f"{dev} * {dev} > {NORM_Z * NORM_Z} * {var_n2}"))
        .select(
            "vec_id",
            F.col("x").alias("norm2_e6"),
            F.expr(
                f"CASE WHEN {dev} < 0 THEN 'low' ELSE 'high' END"
            ).alias("side"),
        )
        .orderBy("vec_id")
    )


QUERIES["embedding_norm_outliers"] = embedding_norm_outliers


def _norm_outlier_oracle() -> str:
    norm2 = (
        "list_reduce(list_prepend(0.0::DOUBLE,"
        " list_transform(embedding, x -> x::DOUBLE)),"
        " (s, v) -> s + v * v)"
    )
    dev = "(CAST(x AS HUGEINT) * n - S)"
    var_n2 = "(CAST(n AS HUGEINT) * Q - CAST(S AS HUGEINT) * S)"
    return f"""
        WITH nx AS (
            SELECT vec_id,
                   CAST(floor(({norm2}) * 1000000 + 0.5) AS BIGINT) AS x
            FROM embeddings
        ), mom AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS S,
                   CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS Q
            FROM nx
        )
        SELECT vec_id, x AS norm2_e6,
               CASE WHEN {dev} < 0 THEN 'low' ELSE 'high' END AS side
        FROM nx CROSS JOIN mom
        WHERE {dev} * {dev} > {NORM_Z * NORM_Z} * {var_n2}
        ORDER BY vec_id
    """


ORACLES["embedding_norm_outliers"] = _norm_outlier_oracle()
