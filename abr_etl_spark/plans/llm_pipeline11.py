"""Round-12 LLM-pipeline batch 3: phrase mining, graph link prediction,
privacy generalization, and sketch-based join planning.

- ``collocations_pmi``: top bigram collocations by pointwise mutual
  information -- the phrase-mining primitive behind multi-word tokenizer
  entries and stopword-phrase filters.
- ``link_prediction_aa``: common-neighbors + Adamic-Adar scores over the
  customer co-purchase graph -- the classic link-prediction baseline.
- ``k_anon_generalization_sweep``: k-anonymity along a bucket-width
  generalization ladder -- "how much must we coarsen before the release
  is safe" (the actionable sequel to k_anonymity_report's yes/no).
- ``join_cardinality_estimate``: CMS inner-product join-size estimation
  (AMS/CMS sketch) vs the exact key-histogram product -- the planner
  statistic that decides broadcast-vs-shuffle without scanning twice.

Reference parity: the reference (abr-etl, Go) leaves all analysis past
its weekly delta to downstream SQL; these are Spark-native shapes of
that downstream work (SURVEY.md §2.C rationale).

Scale notes: collocations reduce to the bigram-vocabulary grain at the
first shuffle; link prediction bounds its pair fan-out with an explicit
degree cap (the AllPairs df-cap contract -- hub nodes are DROPPED, and
that drop is a stated part of the operator's semantics, not a silent
truncation); the k-anon ladder is one grouped census per rung over the
same scan; the CMS estimator's shuffle carries D x W bounded cells per
side, never rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from abr_etl_spark.functions import texthash as th
from abr_etl_spark.sources.lake import load_table

QUERIES: dict = {}
ORACLES: dict = {}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "link_prediction_aa": ("linkpred",),
}

# -------------------------------------------------------- collocations_pmi

#: minimum bigram count to score (PMI explodes on hapax pairs).
PMI_MIN_COUNT = 5
#: report size.
PMI_TOP_K = 100

#: adjacent-token bigram structs, 1-indexed element_at so the Spark and
#: DuckDB texts walk the array identically; docs under 2 tokens emit none.
_SP_BIGRAMS = (
    "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), "
    "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)) "
    "ELSE array() END"
)


def collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} bigram collocations by pointwise mutual information:
    PMI(w1, w2) = ln(c12 * N / (c1 * c2)) with c1/c2 the token's count
    as a bigram LEFT/RIGHT element and N the total bigram count (so
    marginals sum to N exactly). Pairs under {mc} occurrences are not
    scored -- PMI's known hapax pathology. Output (w1, w2, c12, pmi)
    ordered by (pmi desc, w1, w2), 6-dp.

    Determinism: all counts are exact BIGINTs (c12*N <= N^2 < 2^63 to
    ~3e9 bigrams; the bm25 DECIMAL swap applies beyond); PMI is ONE
    float expression over those integers; the top-k order is pinned by
    the rounded score then both words.

    Scale shape: one scan explodes to bigrams and map-side combines to
    the bigram VOCABULARY grain; marginals re-aggregate that frame;
    TakeOrdered keeps {k} -- never a global sort."""
    d = load_table(spark, sf_dir, "documents").select(
        F.expr(th.sp_tokens("text")).alias("t")
    )
    bg = (
        d.select(F.explode(F.expr(_SP_BIGRAMS)).alias("b"))
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count("*").alias("c12"))
    )
    left = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    right = bg.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = bg.agg(F.sum("c12").alias("N"))
    return (
        bg.where(F.col("c12") >= PMI_MIN_COUNT)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.round(
                F.expr("ln(CAST(c12 * N AS DOUBLE) / CAST(c1 * c2 AS DOUBLE))"),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
    )


QUERIES["collocations_pmi"] = collocations_pmi

_DK_BIGRAMS = (
    "CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)), "
    "i -> {'w1': t[i], 'w2': t[i + 1]}) ELSE [] END"
)

ORACLES["collocations_pmi"] = f"""
    WITH toks AS (
        SELECT {th.dk_tokens('text')} AS t FROM documents
    ), bg AS MATERIALIZED (
        SELECT b['w1'] AS w1, b['w2'] AS w2, count(*) AS c12
        FROM (SELECT unnest({_DK_BIGRAMS}) AS b FROM toks)
        GROUP BY 1, 2
    ), l AS (SELECT w1, sum(c12) AS c1 FROM bg GROUP BY 1),
    r AS (SELECT w2, sum(c12) AS c2 FROM bg GROUP BY 1),
    tot AS (SELECT sum(c12) AS N FROM bg)
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
           round(ln(CAST(c12 * N AS DOUBLE) / CAST(c1 * c2 AS DOUBLE)), 6)
               AS pmi
    FROM bg JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot
    WHERE c12 >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1, w2
    LIMIT {PMI_TOP_K}
"""

# ------------------------------------------------------ link_prediction_aa

#: hub cap: parts bought by more than this many customers are DROPPED
#: from the pair generation (their 1/ln(deg) term is the smallest
#: anyway, and a hub's deg^2 pair fan-out is THE scale killer -- the
#: same df-cap contract as dedup_ngram_jaccard's candidate stage).
AA_DEG_CAP = 64
AA_TOP_K = 100

#: sorted fold of the per-shared-part 1/ln(deg) terms (chi2's
#: addition-order contract, keyed by partkey).
_AA_FOLD = (
    "aggregate(array_sort(collect_list(s)), cast(0 as double), "
    "(acc, x) -> acc + x.t)"
)


def link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the customer co-purchase graph: for
    customer pairs sharing at least one purchased part, the
    common-neighbors count and the Adamic-Adar score sum_p
    1/ln(deg(p)) (Adamic & Adar 2003 -- rare shared parts count more
    than popular ones). Output the top-{k} pairs by (aa desc, a, b):
    (cust_a, cust_b, common_parts, aa).

    Determinism: degrees are exact; each part's term is one pinned
    1/ln double; per-pair terms fold in sorted partkey order; the
    report order is pinned by the 6-dp score then both keys.

    Scale shape: edges dedup to the (cust, part) grain at the first
    shuffle; the pair generator self-joins WITHIN part buckets only,
    over ONE MATERIALIZED term-weighted edge table (r16: the old plan
    compiled the orders-join-lineitem-distinct subtree four times --
    twice per self-join side -- and re-executed it; the cached frame is
    built once and both sides read it). Parts of degree > {cap} are
    dropped (stated df-cap contract, the explicit alternative to a
    silent hub blow-up) and degree-1 parts skipped (they cannot form a
    pair); the shuffle past candidate generation carries (a, b,
    partkey, term) only."""
    from abr_etl_spark.functions.cache import materialize_result

    e = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_partkey"
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
    )
    deg = (
        e.groupBy("part")
        .agg(F.count("*").alias("deg"))
        .where((F.col("deg") >= 2) & (F.col("deg") <= AA_DEG_CAP))
    )
    ed = materialize_result(
        e.join(deg, "part").select(
            "part",
            "cust",
            F.expr("1.0 / ln(CAST(deg AS DOUBLE))").alias("term"),
        ),
        family="linkpred",
    )
    pairs = (
        ed.alias("a")
        .join(
            ed.alias("b"),
            (F.col("a.part") == F.col("b.part"))
            & (F.col("a.cust") < F.col("b.cust")),
        )
        .select(
            F.col("a.cust").alias("cust_a"),
            F.col("b.cust").alias("cust_b"),
            F.struct(
                F.col("a.part").alias("k1"), F.col("a.term").alias("t")
            ).alias("s"),
        )
    )
    return (
        pairs.groupBy("cust_a", "cust_b")
        .agg(
            F.count("*").cast("long").alias("common_parts"),
            F.round(F.expr(_AA_FOLD), 6).alias("aa"),
        )
        .orderBy(F.col("aa").desc(), "cust_a", "cust_b")
        .limit(AA_TOP_K)
    )


QUERIES["link_prediction_aa"] = link_prediction_aa

ORACLES["link_prediction_aa"] = f"""
    WITH e AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS part
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), deg AS (
        SELECT part, count(*) AS deg FROM e GROUP BY 1
        HAVING count(*) >= 2 AND count(*) <= {AA_DEG_CAP}
    ), ed AS MATERIALIZED (
        SELECT e.part, e.cust,
               1.0 / ln(CAST(deg AS DOUBLE)) AS term
        FROM e JOIN deg USING (part)
    ), pairs AS (
        SELECT a.cust AS cust_a, b.cust AS cust_b,
               {{'k1': a.part, 't': a.term}} AS s
        FROM ed a JOIN ed b
          ON b.part = a.part AND a.cust < b.cust
    )
    SELECT cust_a, cust_b, CAST(count(*) AS BIGINT) AS common_parts,
           round(list_aggregate(list_transform(list_sort(list(s)),
                 x -> x['t']), 'sum'), 6) AS aa
    FROM pairs GROUP BY cust_a, cust_b
    ORDER BY aa DESC, cust_a, cust_b
    LIMIT {AA_TOP_K}
"""

# --------------------------------------------- k_anon_generalization_sweep

#: the k being tested (k_anonymity_report's convention).
KA_K = 5
#: acctbal generalization rungs, in whole dollars per bucket.
KA_WIDTHS = (10, 100, 1000, 10000)
#: shift making every cent value non-negative before bucketing
#: (c_acctbal >= -999.99), so integer division truncates identically
#: toward zero == floor on both engines.
_KA_SHIFT_E2 = 100_000


def k_anon_generalization_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity along a generalization ladder: the quasi-identifier
    is (nation, mktsegment, acctbal bucketed at width w dollars) for
    each rung w in {widths}; per rung report (width_dollars, n_groups,
    min_group_size, violator_rows, k_anonymous) where violator_rows
    counts customers in QI groups smaller than k={k}. Coarser buckets
    merge groups monotonically, so the report reads as "generalize to
    THIS rung before release" -- the actionable form of
    k_anonymity_report's single-grain audit.

    Determinism: buckets are integer DIVs of shifted non-negative cent
    values; every stat is an exact count.

    Scale shape: one scan projects all {nw} bucket ids map-side; each
    rung is ONE grouped census of (nation, segment, bucket) cells with
    map-side combine -- rung frames are QI-cardinality-bounded, and no
    rung re-reads the table (a single unioned census keyed by width)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            f"CAST(round(c_acctbal * 100, 0) AS BIGINT) + {_KA_SHIFT_E2}"
        ).alias("v_e2"),
    )
    stack = "stack({n}, {args}) AS (width_dollars, bkt)".format(
        n=len(KA_WIDTHS),
        args=", ".join(f"{w}, v_e2 DIV {w * 100}" for w in KA_WIDTHS),
    )
    census = (
        c.select("c_nationkey", "c_mktsegment", F.expr(stack))
        .groupBy("width_dollars", "c_nationkey", "c_mktsegment", "bkt")
        .agg(F.count("*").alias("g"))
    )
    return (
        census.groupBy("width_dollars")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.min("g").cast("long").alias("min_group_size"),
            F.coalesce(
                F.sum(F.when(F.col("g") < KA_K, F.col("g"))), F.lit(0)
            )
            .cast("long")
            .alias("violator_rows"),
            (F.min("g") >= KA_K).alias("k_anonymous"),
        )
        .orderBy("width_dollars")
    )


QUERIES["k_anon_generalization_sweep"] = k_anon_generalization_sweep


def _ka_oracle() -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT {w} AS width_dollars, c_nationkey, c_mktsegment, "
        f"(CAST(round(c_acctbal * 100, 0) AS BIGINT) + {_KA_SHIFT_E2})"
        f" // {w * 100} AS bkt FROM customer"
        for w in KA_WIDTHS
    )
    return f"""
        WITH unp AS MATERIALIZED ({unions}),
        census AS (
            SELECT width_dollars, c_nationkey, c_mktsegment, bkt,
                   count(*) AS g
            FROM unp GROUP BY 1, 2, 3, 4
        )
        SELECT width_dollars, CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(g) AS BIGINT) AS min_group_size,
               CAST(coalesce(sum(CASE WHEN g < {KA_K} THEN g END), 0)
                    AS BIGINT) AS violator_rows,
               min(g) >= {KA_K} AS k_anonymous
        FROM census GROUP BY width_dollars
        ORDER BY width_dollars
    """


ORACLES["k_anon_generalization_sweep"] = _ka_oracle()

# --------------------------------------------- join_cardinality_estimate

#: CMS geometry shared with heavy_hitters_cms (llm_pipeline4).
JC_D = 4
JC_W = 1024
_JC_A, _JC_B = (s[:JC_D] for s in th.perm_seeds(JC_D))


def _jc_stack(key: str) -> str:
    """D (row, cell) probes of an integer key -- shared literal seeds,
    identical text both engines (keys are positive, so plain % works)."""
    rows = ", ".join(
        f"{j}, (({a} * ({key} % {th.P}) + {b}) % {th.P}) % {JC_W}"
        for j, (a, b) in enumerate(zip(_JC_A, _JC_B))
    )
    return f"stack({JC_D}, {rows}) AS (j, cell)"


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation by Count-Min inner product (Alon-Matias-
    Szegedy lineage; Cormode & Muthukrishnan 2005 SS 5.3): the planner
    statistic that prices |orders JOIN lineitem ON orderkey| from two
    O(D x W) sketches instead of a second scan. est_j = sum_cell
    cmsA[j] * cmsB[j] overestimates (collisions only ADD), the final
    estimate is min_j est_j, and the exact truth sum_k cA(k) * cB(k)
    comes from the key histograms for the error report. Output one row
    per depth (depth, est) plus depth = -1 carrying (min-estimate,
    exact, rel_err 6-dp).

    Determinism: sketch cells and histograms are exact BIGINT counts
    (cell products <= (n/W + skew)^2 * W -- DECIMAL swap documented
    past ~3e9 rows per side); rel_err is one float expression.

    Scale shape: each side is ONE scan map-side-combining straight to
    D x {w} cells ({d} stack probes per row); the estimate join is
    cell-to-cell on a {d}x{w} frame; the exact branch joins the two
    KEY histograms (key-cardinality-bounded), never row x row."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )

    def cells(df: DataFrame) -> DataFrame:
        return (
            df.select(F.expr(_jc_stack("k")))
            .groupBy("j", "cell")
            .agg(F.count("*").alias("c"))
        )

    ca, cb = cells(o), cells(li)
    per_depth = (
        ca.alias("a")
        .join(
            cb.alias("b"),
            (F.col("a.j") == F.col("b.j")) & (F.col("a.cell") == F.col("b.cell")),
        )
        .groupBy(F.col("a.j").alias("depth"))
        .agg(F.sum(F.expr("a.c * b.c")).alias("est"))
    )
    ha = o.groupBy("k").agg(F.count("*").alias("ca"))
    hb = li.groupBy("k").agg(F.count("*").alias("cb"))
    exact = (
        ha.join(hb, "k")
        .agg(F.sum(F.expr("ca * cb")).alias("exact"))
    )
    best = per_depth.agg(F.min("est").alias("est"))
    summary = best.crossJoin(broadcast(exact)).select(
        F.lit(-1).alias("depth"),
        F.col("est").cast("long").alias("est"),
        F.col("exact").cast("long").alias("exact"),
        F.round(
            F.expr(
                "(CAST(est AS DOUBLE) - CAST(exact AS DOUBLE))"
                " / CAST(exact AS DOUBLE)"
            ),
            6,
        ).alias("rel_err"),
    )
    rows = per_depth.select(
        "depth",
        F.col("est").cast("long").alias("est"),
        F.lit(None).cast("long").alias("exact"),
        F.lit(None).cast("double").alias("rel_err"),
    )
    return rows.unionByName(summary).orderBy("depth")


QUERIES["join_cardinality_estimate"] = join_cardinality_estimate


def _jc_oracle() -> str:
    def probes(src: str) -> str:
        sels = "\nUNION ALL\n".join(
            f"SELECT {j} AS j, (({a} * (k % {th.P}) + {b}) % {th.P})"
            f" % {JC_W} AS cell FROM {src}"
            for j, (a, b) in enumerate(zip(_JC_A, _JC_B))
        )
        return sels

    return f"""
        WITH oa AS (SELECT o_orderkey AS k FROM orders),
        ob AS (SELECT l_orderkey AS k FROM lineitem),
        ca AS MATERIALIZED (
            SELECT j, cell, count(*) AS c FROM ({probes('oa')}) GROUP BY 1, 2
        ), cb AS MATERIALIZED (
            SELECT j, cell, count(*) AS c FROM ({probes('ob')}) GROUP BY 1, 2
        ), per_depth AS MATERIALIZED (
            SELECT ca.j AS depth, sum(ca.c * cb.c) AS est
            FROM ca JOIN cb ON cb.j = ca.j AND cb.cell = ca.cell
            GROUP BY 1
        ), ha AS (SELECT k, count(*) AS ca FROM oa GROUP BY 1),
        hb AS (SELECT k, count(*) AS cb FROM ob GROUP BY 1),
        ex AS (SELECT sum(ca * cb) AS exact FROM ha JOIN hb USING (k)),
        best AS (SELECT min(est) AS est FROM per_depth)
        SELECT CAST(depth AS INTEGER) AS depth, CAST(est AS BIGINT) AS est,
               CAST(NULL AS BIGINT) AS exact, CAST(NULL AS DOUBLE) AS rel_err
        FROM per_depth
        UNION ALL
        SELECT -1, CAST(est AS BIGINT), CAST(exact AS BIGINT),
               round((CAST(est AS DOUBLE) - CAST(exact AS DOUBLE))
                     / CAST(exact AS DOUBLE), 6)
        FROM best CROSS JOIN ex
        ORDER BY depth
    """


ORACLES["join_cardinality_estimate"] = _jc_oracle()

# ----------------------------------------------------- keyness_g2_by_source

#: report size per source.
G2_TOP_K = 20
#: minimum in-source term count (G2 on hapax terms is noise).
G2_MIN_COUNT = 5

#: signed log-likelihood keyness (Dunning 1993; Rayson & Garside 2000):
#: G2 = 2 * (a*ln(a/Ea) + b*ln(b/Eb)) with Ea = n1*(a+b)/N, Eb =
#: n2*(a+b)/N; zero b contributes 0 (lim x->0 x ln x = 0). ONE pinned
#: text over exact BIGINTs -- a*N <= N^2 needs the bm25 DECIMAL swap
#: past ~3e9 tokens; sign flips negative when the term is UNDER-used.
_G2_TERM = (
    "2.0 * (CAST(a AS DOUBLE)"
    " * ln(CAST(a AS DOUBLE) * N / (CAST(n1 AS DOUBLE) * (a + b)))"
    " + (CASE WHEN b = 0 THEN cast(0 as double) ELSE CAST(b AS DOUBLE)"
    " * ln(CAST(b AS DOUBLE) * N / (CAST(n2 AS DOUBLE) * (a + b))) END))"
    " * (CASE WHEN CAST(a AS DOUBLE) * n2 >= CAST(b AS DOUBLE) * n1"
    " THEN 1 ELSE -1 END)"
)


def keyness_g2_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyness: for each source, the top-{k} most
    CHARACTERISTIC terms vs the rest of the corpus by signed
    log-likelihood G2 (Dunning 1993 -- the corpus-linguistics standard
    that, unlike raw lift, does not reward hapax terms). a/b are the
    term's token counts in-source/elsewhere, n1/n2 the corpora sizes;
    positive sign = over-used in the source. Output (source, term, a,
    g2) ordered by (source, g2 desc, term).

    Determinism: all counts exact BIGINT; G2 is ONE pinned-text float
    expression per (source, term) -- no fold, so no addition-order
    hazard; ranking uses the 6-dp score with term tie-break.

    Scale shape: ONE tokenize pass to the (source, term) grain with
    map-side combine; term totals re-aggregate that frame; the
    per-source top-k is a bounded window over qualifying terms
    (count >= {mc})."""
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select(
            "source", F.explode(F.expr(th.sp_tokens("text"))).alias("tok")
        )
        .groupBy("source", F.col("tok").alias("term"))
        .agg(F.count("*").alias("a"))
    )
    tt = st.groupBy("term").agg(F.sum("a").alias("ab"))
    n1 = st.groupBy("source").agg(F.sum("a").alias("n1"))
    nn = n1.agg(F.sum("n1").alias("N"))
    scored = (
        st.where(F.col("a") >= G2_MIN_COUNT)
        .join(tt, "term")
        .join(broadcast(n1), "source")
        .crossJoin(broadcast(nn))
        .select(
            "source",
            "term",
            "a",
            F.expr("ab - a").alias("b"),
            "n1",
            F.expr("N - n1").alias("n2"),
            "N",
        )
        .select(
            "source",
            "term",
            F.col("a").cast("long").alias("a"),
            F.round(F.expr(_G2_TERM), 6).alias("g2"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("g2").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= G2_TOP_K)
        .select("source", "term", "a", "g2")
        .orderBy("source", F.col("g2").desc(), "term")
    )


QUERIES["keyness_g2_by_source"] = keyness_g2_by_source

ORACLES["keyness_g2_by_source"] = f"""
    WITH st AS MATERIALIZED (
        SELECT source, tok AS term, count(*) AS a
        FROM (SELECT source, unnest({th.dk_tokens('text')}) AS tok
              FROM documents)
        GROUP BY 1, 2
    ), tt AS (SELECT term, sum(a) AS ab FROM st GROUP BY 1),
    n1s AS (SELECT source, sum(a) AS n1 FROM st GROUP BY 1),
    nn AS (SELECT sum(n1) AS N FROM n1s),
    scored AS (
        SELECT source, term, CAST(a AS BIGINT) AS a,
               round({_G2_TERM}, 6) AS g2
        FROM (
            SELECT st.source, st.term, st.a, tt.ab - st.a AS b,
                   n1s.n1, nn.N - n1s.n1 AS n2, nn.N
            FROM st JOIN tt USING (term) JOIN n1s USING (source)
            CROSS JOIN nn
            WHERE st.a >= {G2_MIN_COUNT}
        )
    )
    SELECT source, term, a, g2 FROM (
        SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY g2 DESC, term ASC) AS rn
        FROM scored
    ) WHERE rn <= {G2_TOP_K}
    ORDER BY source, g2 DESC, term
"""
