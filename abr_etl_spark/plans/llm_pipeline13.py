"""Round-13 census-derived idf family (SURVEY §7.19): three keys that
read the shingle document-frequency statistics the dedup candidate
machinery computes anyway.

- ``vocab_df_zipf``: the VOCABULARY-grain Zipf report over shingle
  document frequencies (zipf_tail_by_source measures the token grain;
  template-stamped corpora flatten here first because stamped n-grams
  out-rank natural collocations).
- ``doc_idf_profile``: per-document idf mass off the rational idf
  surrogate w(s) = N DIV df(s) (dedup_weighted_jaccard's weights,
  reported at the doc grain) -- the ranking feature curation teams
  sort by when mining "informative" documents.
- ``doc_boilerplate_simpson``: per-document concentration of corpus df
  mass (Gini-Simpson over the doc's shingle dfs, plus the hottest
  shingle's share) -- a boilerplate detector that needs NO line-level
  parsing, integer-exact.

Engine economics: all three consume ``shingle_doc_df`` /
``shingle_df_census`` (operators/dedup.py), whose plans canonicalize
equal to the pair machinery's internal frames -- in a session where any
dedup key ran (the bench, the driver), Spark's CacheManager serves the
census from cache and these keys cost one shuffle; standalone they pay
exactly ONE corpus pass each, never the candidate self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from abr_etl_spark.functions import texthash as th
from abr_etl_spark.plans.analytics13 import _halfup, _halfup_dk
from abr_etl_spark.sources.lake import load_table

QUERIES: dict = {}
ORACLES: dict = {}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "vocab_df_zipf": ("census:n3",),
    "doc_idf_profile": ("doc_df",),
    "doc_boilerplate_simpson": ("doc_df",),
    "source_df_zipf": ("source_census",),
}

#: DuckDB twin of the engine's shingle df census (string shingles; the
#: engine keys on 64-bit gram hashes -- identical df multisets absent a
#: hash collision, the certified weighted-jaccard equivalence).
_DK_CENSUS = f"""
    t AS MATERIALIZED (
        SELECT doc_id, {th.dk_shingles("text", 3)} AS sh FROM documents
    ), e AS MATERIALIZED (
        SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM t
    ), census AS MATERIALIZED (
        SELECT s, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY s
    )
"""

# ------------------------------------------------------- vocab_df_zipf

#: rank anchors for the df-tail slope (deeper than the token-grain
#: zipf_tail anchors: shingle vocabularies are hapax-heavy, so the
#: interesting curvature sits past rank ~100).
VDZ_R_LO = 10
VDZ_R_HI = 1000


def vocab_df_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf report over the SHINGLE document-frequency distribution:
    vocabulary size, hapax share (shingles appearing in exactly one
    document -- natural prose keeps this high; template stamping
    collapses it), and the two-anchor log-log tail slope between the
    rank-{VDZ_R_LO} and rank-{VDZ_R_HI} most document-frequent
    shingles. Output ONE row (n_vocab, hapax, hapax_share_e6, f_lo,
    f_hi, slope_e4).

    Determinism: counts and the half-up share are exact integers; the
    anchors are the rank-{VDZ_R_LO}/{VDZ_R_HI} values of the SORTED df
    multiset (tie order between equal dfs cannot change them), pulled
    from a {VDZ_R_HI}-row ORDER BY ... LIMIT -- no window at all; the
    only float math is one ln expression over two exact BIGINTs (the
    zipf_tail_by_source device). Lakes with fewer than {VDZ_R_HI}
    distinct shingles report NULL anchors/slope, never raise.

    Scale shape: the census is one corpus pass (cache-shared with the
    dedup machinery); the report aggregates it to 1 row, the anchor
    frame is a top-{VDZ_R_HI} TakeOrdered (no global sort shuffle).
    100 TB cost = the census pass."""
    from abr_etl_spark.operators.dedup import shingle_df_census
    from abr_etl_spark.functions.cache import materialize_result

    d = load_table(spark, sf_dir, "documents")
    # Persisted: BOTH subtrees below (base aggregate + anchor top-k)
    # read the census, so a cold standalone run must not tokenize and
    # shingle the corpus twice (r13 ADVICE). In a session where a dedup
    # key already ran, CacheManager dedups this to the existing entry.
    census = materialize_result(shingle_df_census(d), family="census:n3")
    base = census.agg(
        F.count("*").cast("long").alias("n_vocab"),
        F.coalesce(
            F.sum((F.col("df") == 1).cast("long")), F.lit(0)
        ).cast("long").alias("hapax"),
    )
    top = (
        census.orderBy(F.col("df").desc(), F.col("s").asc())
        .limit(VDZ_R_HI)
        .agg(
            F.expr(
                "sort_array(collect_list(df), false)"
            ).alias("__dfs")
        )
        .select(
            F.expr(f"try_element_at(__dfs, {VDZ_R_LO})").alias("f_lo"),
            F.expr(f"try_element_at(__dfs, {VDZ_R_HI})").alias("f_hi"),
        )
    )
    return base.crossJoin(top).select(
        "n_vocab",
        "hapax",
        F.expr(
            "CASE WHEN n_vocab > 0 THEN "
            + _halfup("hapax * 1000000", "n_vocab")
            + " END"
        ).alias("hapax_share_e6"),
        F.col("f_lo").cast("long").alias("f_lo"),
        F.col("f_hi").cast("long").alias("f_hi"),
        F.expr(
            "CASE WHEN f_lo IS NOT NULL AND f_hi IS NOT NULL THEN "
            "CAST(round((ln(CAST(f_lo AS DOUBLE)) -"
            " ln(CAST(f_hi AS DOUBLE))) /"
            f" (ln({VDZ_R_HI}.0) - ln({VDZ_R_LO}.0))"
            " * 10000, 0) AS BIGINT) END"
        ).alias("slope_e4"),
    )


QUERIES["vocab_df_zipf"] = vocab_df_zipf

ORACLES["vocab_df_zipf"] = f"""
    WITH {_DK_CENSUS}, base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_vocab,
               CAST(coalesce(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS hapax
        FROM census
    ), top AS (
        SELECT list(df ORDER BY df DESC)[{VDZ_R_LO}] AS f_lo,
               list(df ORDER BY df DESC)[{VDZ_R_HI}] AS f_hi
        FROM (SELECT df FROM census ORDER BY df DESC LIMIT {VDZ_R_HI})
    )
    SELECT n_vocab, hapax,
           CASE WHEN n_vocab > 0 THEN CAST(
               {_halfup_dk("hapax * 1000000", "n_vocab")} AS BIGINT)
           END AS hapax_share_e6,
           CAST(f_lo AS BIGINT) AS f_lo,
           CAST(f_hi AS BIGINT) AS f_hi,
           CASE WHEN f_lo IS NOT NULL AND f_hi IS NOT NULL THEN
               CAST(round((ln(CAST(f_lo AS DOUBLE)) -
                           ln(CAST(f_hi AS DOUBLE))) /
                          (ln({VDZ_R_HI}.0) - ln({VDZ_R_LO}.0))
                          * 10000, 0) AS BIGINT)
           END AS slope_e4
    FROM base CROSS JOIN top
"""

# ------------------------------------------------------ doc_idf_profile


def _doc_df_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_sh, df) -- the doc-exploded shingle frame with corpus
    document frequencies, projected to what the doc-grain census keys
    consume (the 8-byte shingle hash itself is dropped) and MATERIALIZED
    (functions/cache.py lifecycle): doc_idf_profile and
    doc_boilerplate_simpson build the identical plan, so the second key
    (and every later bench rep) reads the one cache instead of re-paying
    the corpus tokenize+shingle pass (r16; opt guide 5 -- reuse is real
    here, both keys always run together in the bench/driver)."""
    from abr_etl_spark.operators.dedup import shingle_doc_df
    from abr_etl_spark.functions.cache import materialize_result

    d = load_table(spark, sf_dir, "documents")
    return materialize_result(
        shingle_doc_df(d).select("doc_id", "n_sh", "df"), family="doc_df"
    )


def doc_idf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document idf profile off the rational idf surrogate
    w(s) = N DIV df(s) (rare shingles weigh ~N, corpus boilerplate ~1;
    no libm): the doc's distinct-shingle count, total idf mass, and
    half-up mean idf per shingle. Output (doc_id, n_sh, idf_sum,
    idf_mean_e4) -- the doc-grain tf-idf vector norm for shingle
    features (tf = 1 per distinct shingle by construction).

    Determinism: pure BIGINT -- the weight is an integer division, the
    mean one sign-safe half-up division; n_sh >= 1 for every doc (the
    whole-text fallback shingle), so no zero denominators. Headroom:
    idf_sum <= n_sh * N ~ 5e2 * 5e6 well inside int64 at the certified
    decades; widen to DECIMAL(38,0) past ~1e13 doc-shingles.

    Scale shape: one corpus pass to the exploded (doc, shingle, df)
    frame (materialized and shared with doc_boilerplate_simpson --
    _doc_df_frame), one map-side-combinable groupBy back to the doc
    grain. The shuffle carries (doc_id, two BIGINTs), never text.
    100 TB cost = the pass + one doc-grain shuffle."""
    d = load_table(spark, sf_dir, "documents")
    flagged = _doc_df_frame(spark, sf_dir)
    tot = d.agg(F.count("*").alias("__n"))
    return (
        flagged.crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.max("n_sh").cast("long").alias("n_sh"),
            F.sum(F.expr("__n DIV df")).cast("long").alias("idf_sum"),
        )
        .select(
            "doc_id",
            "n_sh",
            "idf_sum",
            F.expr(
                "CAST("
                + _halfup("idf_sum * 10000", "n_sh")
                + " AS BIGINT)"
            ).alias("idf_mean_e4"),
        )
        .orderBy("doc_id")
    )


QUERIES["doc_idf_profile"] = doc_idf_profile

ORACLES["doc_idf_profile"] = f"""
    WITH {_DK_CENSUS}, n AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM documents
    ), per_doc AS (
        SELECT e.doc_id,
               CAST(max(e.n_sh) AS BIGINT) AS n_sh,
               CAST(sum((SELECT n FROM n) // c.df) AS BIGINT) AS idf_sum
        FROM e JOIN census c USING (s)
        GROUP BY e.doc_id
    )
    SELECT doc_id, n_sh, idf_sum,
           CAST({_halfup_dk("idf_sum * 10000", "n_sh")} AS BIGINT)
               AS idf_mean_e4
    FROM per_doc
    ORDER BY doc_id
"""

# ----------------------------------------------- doc_boilerplate_simpson


def doc_boilerplate_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate concentration: treat the doc's shingles'
    corpus document frequencies as a mass distribution and report its
    Gini-Simpson diversity 1 - sum((df_s/T)^2) with T = sum df_s, plus
    the hottest shingle's mass share -- a template-stamped page
    concentrates df mass on a few corpus-wide shingles (low Simpson,
    high hot share) while natural prose spreads it. Output (doc_id,
    n_sh, df_mass, hot_df, hot_share_e6, simpson_e6).

    Determinism: Simpson avoids Shannon's per-row ln SUM (cross-engine
    float addition order) -- sum(df^2) and T are exact BIGINTs, the two
    reports are sign-safe half-up divisions in DECIMAL(38,0) (ssq*1e6
    wraps int64 past ~1e12 per-doc df mass, hence the widening); T >= 1
    always (every shingle has df >= 1).

    Scale shape: identical to doc_idf_profile -- the same materialized
    (doc_id, n_sh, df) frame, one doc-grain map-side-combinable
    groupBy."""
    flagged = _doc_df_frame(spark, sf_dir)
    dec = "CAST({} AS DECIMAL(38,0))"
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.max("n_sh").cast("long").alias("n_sh"),
            F.sum("df").cast("long").alias("df_mass"),
            F.max("df").cast("long").alias("hot_df"),
            # df*df accumulates in DECIMAL(38,0): df grows with the
            # corpus (a boilerplate shingle's df ~ n_docs), so ONE
            # term already exceeds int64 at ~3e9 docs (the
            # gini_concentration r15 accumulator-width class); the
            # downstream ratio already reads it through a
            # DECIMAL(38,0) cast, so values are unchanged in range.
            F.sum(F.expr("CAST(df AS DECIMAL(38,0)) * df")).alias(
                "__ssq"
            ),
        )
        .select(
            "doc_id",
            "n_sh",
            "df_mass",
            "hot_df",
            F.expr(
                "CASE WHEN df_mass > 0 THEN CAST("
                + _halfup(dec.format("hot_df") + " * 1000000", "df_mass")
                + " AS BIGINT) END"
            ).alias("hot_share_e6"),
            F.expr(
                "CASE WHEN df_mass > 0 THEN 1000000 - CAST("
                + _halfup(
                    dec.format("__ssq") + " * 1000000",
                    dec.format("df_mass") + " * df_mass",
                )
                + " AS BIGINT) END"
            ).alias("simpson_e6"),
        )
        .orderBy("doc_id")
    )


QUERIES["doc_boilerplate_simpson"] = doc_boilerplate_simpson

_HUG = "CAST({} AS HUGEINT)"
ORACLES["doc_boilerplate_simpson"] = f"""
    WITH {_DK_CENSUS}, per_doc AS (
        SELECT e.doc_id,
               CAST(max(e.n_sh) AS BIGINT) AS n_sh,
               CAST(sum(c.df) AS BIGINT) AS df_mass,
               CAST(max(c.df) AS BIGINT) AS hot_df,
               CAST(sum(c.df * c.df) AS BIGINT) AS ssq
        FROM e JOIN census c USING (s)
        GROUP BY e.doc_id
    )
    SELECT doc_id, n_sh, df_mass, hot_df,
           CASE WHEN df_mass > 0 THEN CAST(
               {_halfup_dk(_HUG.format("hot_df") + " * 1000000",
                           "df_mass")} AS BIGINT)
           END AS hot_share_e6,
           CASE WHEN df_mass > 0 THEN 1000000 - CAST(
               {_halfup_dk(_HUG.format("ssq") + " * 1000000",
                           _HUG.format("df_mass") + " * df_mass")}
               AS BIGINT)
           END AS simpson_e6
    FROM per_doc
    ORDER BY doc_id
"""

# ------------------------------------------------------ source_df_zipf

#: per-source anchors sit shallower than the corpus-wide ones: a single
#: source's shingle vocabulary is ~1/|sources| of the corpus.
SDZ_R_LO = 5
SDZ_R_HI = 200


def source_df_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE shingle df-Zipf monitor: vocab_df_zipf's report split
    by feed, so ONE template-stamped source cannot hide inside a
    healthy corpus-wide slope (the same source split zipf_tail_by_source
    applies at the token grain). Output (source, n_vocab, hapax,
    hapax_share_e6, f_lo, f_hi, slope_e4) for every source; anchors at
    ranks {SDZ_R_LO}/{SDZ_R_HI}, NULL when the source's vocabulary is
    shallower.

    Determinism: per-source df = count per (source, shingle) -- a doc's
    shingles are distinct, so the plain count IS the document frequency;
    anchors read the rank-k df off a (source)-partitioned row_number
    ordered (df DESC, s ASC) -- equal-df tie order differs between the
    engines' shingle representations but cannot change the rank-k df
    VALUE; hapax share is one half-up division; the slope is the
    two-scalar ln device.

    Scale shape: one corpus pass to the (source, shingle) census
    (map-side combinable), one source-partitioned window over the
    vocabulary-grain census (zipf_tail_by_source's accepted shape --
    type-cardinality-, not corpus-, sized), |sources| report rows."""
    d = load_table(spark, sf_dir, "documents")
    from abr_etl_spark.operators.dedup import ensure_parallelism

    # carry source THROUGH the shingle projection (no doc-grain
    # join-back): one scan, tokens materialized once per row
    sh = (
        ensure_parallelism(d)
        .select("source", F.expr(th.sp_tokens("text")).alias("__tok"))
        .select(
            "source",
            F.expr(
                th.sp_shingle_hashes_from_tokens("__tok", 3)
            ).alias("shingles"),
        )
    )
    from abr_etl_spark.functions.cache import materialize_result

    # Persisted for the same reason as vocab_df_zipf: the base
    # aggregate and the anchor window both read the census, and a cold
    # run must pay exactly ONE corpus pass (r13 ADVICE).
    census = materialize_result(
        sh.select("source", F.explode("shingles").alias("s"))
        .groupBy("source", "s")
        .agg(F.count("*").alias("df")),
        family="source_census",
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("source").orderBy(
        F.col("df").desc(), F.col("s").asc()
    )
    ranked = census.withColumn("rk", F.row_number().over(w))
    base = census.groupBy("source").agg(
        F.count("*").cast("long").alias("n_vocab"),
        F.coalesce(
            F.sum((F.col("df") == 1).cast("long")), F.lit(0)
        ).cast("long").alias("hapax"),
    )
    anchors = (
        ranked.where(F.col("rk").isin(SDZ_R_LO, SDZ_R_HI))
        .groupBy("source")
        .agg(
            F.max(
                F.when(F.col("rk") == SDZ_R_LO, F.col("df"))
            ).alias("f_lo"),
            F.max(
                F.when(F.col("rk") == SDZ_R_HI, F.col("df"))
            ).alias("f_hi"),
        )
    )
    return (
        base.join(anchors, "source", "left")
        .select(
            "source",
            "n_vocab",
            "hapax",
            F.expr(
                "CASE WHEN n_vocab > 0 THEN "
                + _halfup("hapax * 1000000", "n_vocab")
                + " END"
            ).alias("hapax_share_e6"),
            F.col("f_lo").cast("long").alias("f_lo"),
            F.col("f_hi").cast("long").alias("f_hi"),
            F.expr(
                "CASE WHEN f_lo IS NOT NULL AND f_hi IS NOT NULL THEN "
                "CAST(round((ln(CAST(f_lo AS DOUBLE)) -"
                " ln(CAST(f_hi AS DOUBLE))) /"
                f" (ln({SDZ_R_HI}.0) - ln({SDZ_R_LO}.0))"
                " * 10000, 0) AS BIGINT) END"
            ).alias("slope_e4"),
        )
        .orderBy("source")
    )


QUERIES["source_df_zipf"] = source_df_zipf

ORACLES["source_df_zipf"] = f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, source, {th.dk_shingles("text", 3)} AS sh
        FROM documents
    ), census AS MATERIALIZED (
        SELECT source, s, CAST(count(*) AS BIGINT) AS df FROM (
            SELECT source, unnest(sh) AS s FROM t
        ) GROUP BY source, s
    ), ranked AS (
        SELECT source, df,
               row_number() OVER (PARTITION BY source
                   ORDER BY df DESC, s ASC) AS rk
        FROM census
    ), base AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_vocab,
               CAST(coalesce(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS hapax
        FROM census GROUP BY 1
    ), anchors AS (
        SELECT source,
               max(CASE WHEN rk = {SDZ_R_LO} THEN df END) AS f_lo,
               max(CASE WHEN rk = {SDZ_R_HI} THEN df END) AS f_hi
        FROM ranked GROUP BY 1
    )
    SELECT b.source, b.n_vocab, b.hapax,
           CASE WHEN n_vocab > 0 THEN CAST(
               {_halfup_dk("hapax * 1000000", "n_vocab")} AS BIGINT)
           END AS hapax_share_e6,
           CAST(f_lo AS BIGINT) AS f_lo,
           CAST(f_hi AS BIGINT) AS f_hi,
           CASE WHEN f_lo IS NOT NULL AND f_hi IS NOT NULL THEN
               CAST(round((ln(CAST(f_lo AS DOUBLE)) -
                           ln(CAST(f_hi AS DOUBLE))) /
                          (ln({SDZ_R_HI}.0) - ln({SDZ_R_LO}.0))
                          * 10000, 0) AS BIGINT)
           END AS slope_e4
    FROM base b LEFT JOIN anchors a USING (source)
    ORDER BY b.source
"""
