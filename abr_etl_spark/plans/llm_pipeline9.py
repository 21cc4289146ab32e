"""LLM-training-data pipeline, part 9 (round 11, late).

Completes the tuning-sweep family (SURVEY §7.15 listed three axes
still uncovered): shingle order n, HLL precision m, and SimHash band
layout join the existing LSH-band / PQ-codebook / IVF-nprobe /
k-means-k / MMR-lambda / sessionize-gap / vocab-size / Bloom-m /
watermark-delay / embedding-dim curves. Every sweep follows the same
contract as its siblings: ONE shared expensive computation, per-config
reductions to scalar counts, exact-integer recall/err columns so the
DuckDB oracle replays the whole curve.

- ``shingle_size_sweep``: the n axis of the dedup family. The shingle
  order trades recall against specificity (w=3 is this engine's dedup
  default, w=5 is the Gopher/MassiveText near-dup setting, w=13 the
  standard decontamination n); the sweep reports, per n, the corpus
  index size (total distinct shingles -- the COST axis) and the
  verified tau-pair yield with its exact-1e-4 jaccard mass (the
  OUTCOME axis). Grid floors at n=3: the df-cap no-recall-loss
  argument (dedup.ngram_jaccard_pairs) weakens for n<3 where single
  hot bigrams go over the cap on realistic corpora.
- ``hll_precision_sweep``: the m (register count / precision) axis of
  the HLL family. hll_distinct pins m=16 (exact literal-table linear
  counting), hll_distinct_prod_m pins m=1024 (runtime-ln branch); the
  sweep runs the WHOLE precision ladder in one pass -- the hash is
  computed once per row and every register table hangs off one
  (m, bucket) shuffle -- reporting est vs exact and the 1e-4 relative
  error an operator sizes m against. Uses the runtime-ln estimator
  uniformly (the literal-table device cannot span a grid; parity is
  the dsir_importance round-to-grain discipline, pytest-proven across
  the full V range by test_analytics8).
- ``simhash_band_sweep``: the band-layout axis of the SimHash family
  (simhash_recall_by_tau covers the tau axis). Splitting the same
  48-bit fingerprint into B bands guarantees recall only up to
  hamming B-1 (pigeonhole); fewer, wider bands generate fewer
  candidates but miss radius-3 pairs. Per layout: candidate count
  (COST), hits against the exact hamming<=3 truth, recall_e4 --
  with the >=4-band rows provably at 10000 (pytest).

Scale shapes: the sweeps add NO new join classes -- each reuses its
family's banded/df-capped candidate machinery or register shuffle and
reduces to a <= |grid|-row report; the expensive inputs (fingerprints,
truth pair set, key hashes) are computed once and shared across the
grid.

Reference parity: the reference (abr-etl, Go) has no tuning tooling;
these extend the engine's training-data block (SURVEY.md §2.C).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from abr_etl_spark.functions import texthash as th
from abr_etl_spark.functions.cache import materialize_result
from abr_etl_spark.operators import dedup, similarity
from abr_etl_spark.plans.analytics8 import _hll_hash_sql
from abr_etl_spark.plans.llm_pipeline import (
    ANN_K,
    IVF_SEED_PRED,
    JACCARD_TAU,
    N_QUERY_VECS,
)
from abr_etl_spark.plans.llm_pipeline8 import (
    PQ_K,
    PQ_KM_ITERS,
    PQ_M,
    PQ_SUB,
    _dk_pq_kmeans_ctes,
    _ivfadc_seed_parts,
    _pq_e6,
    _PQ_SLICE,
    dk_ivfadc_seed_ctes,
)
from abr_etl_spark.sources.lake import load_table

QUERIES: dict = {}
ORACLES: dict = {}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "shingle_size_sweep": (
        "pairs:n3:t0.9",
        "pairs:n5:t0.9",
        "pairs:n7:t0.9",
        "pairs:n13:t0.9",
    ),
    "simhash_band_sweep": ("simhash_sweep", "sh_pairs:h3"),
    "ivfadc_nprobe_sweep": ("ivf_scored",),
    "ann_ivf_pq_kmeans": ("ivfadc_trained",),
    "hll_merge_by_type": ("sketch_merge",),
    "kmv_merge_by_source": ("sketch_merge",),
    "cms_merge_by_source": ("sketch_merge",),
    "ivfadc_trained_nprobe": ("ivfadc_trained", "ivf_scored"),
}

# --------------------------------------------------- shingle_size_sweep

#: shingle orders: 3 = the engine's dedup default, 5 = Gopher-style
#: near-dup, 7 = paragraph-scale, 13 = the decontamination standard.
SHINGLE_N_GRID = [3, 5, 7, 13]


def shingle_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle-order axis of near-dup tuning: for each n in
    {SHINGLE_N_GRID}, (n, total_shingles, n_pairs, sum_jaccard_e4) --
    the corpus's distinct-shingle index size (cost), the verified
    jaccard>=tau pair yield, and the pairs' exact half-up 1e-4 jaccard
    mass (so the curve shows WHERE the yield sits inside the tau band,
    not just how many pairs survive). Pair yield is non-increasing in
    n on prose corpora; the committed grid spans the published
    operating points (3 dedup / 5 Gopher / 13 decontamination).

    Scale shape: each n runs the SAME df-capped AllPairs/PPJoin prefix
    machinery as dedup_ngram_jaccard (lossless at tau; candidate
    fan-out bounded by df_cap^2) and reduces to one 3-scalar row; the
    index-size scan is one column-pruned shingle pass per n. Nothing
    here is quadratic in corpus size.

    Short-doc contract: a document with fewer than n tokens collapses
    to ONE whole-doc shingle, for which the prefix-filter losslessness
    argument does not hold -- if more than df_cap identical short docs
    share that shingle, the df-cap silently drops their jaccard=1
    pairs while a brute-force oracle keeps them. The sweep therefore
    EXCLUDES sub-n-token docs from the pair stats for that n, on both
    engines (they carry no n-gram signal at that order; exact dedup
    upstream owns them); total_shingles still counts every doc, since
    the index-size axis is a whole-corpus cost. Pinned by
    tests/test_llm_pipeline9.py::test_shingle_sweep_short_doc_contract
    with > df_cap identical one-token docs."""
    d = load_table(spark, sf_dir, "documents")
    out = None
    for n in SHINGLE_N_GRID:
        sh = dedup.shingle_df(d, "text", "doc_id", n)
        tot = sh.agg(
            F.coalesce(F.sum("n_sh"), F.lit(0))
            .cast("long")
            .alias("total_shingles")
        )
        d_pairs = d.where(
            F.size(F.expr(th.sp_tokens("text"))) >= F.lit(n)
        )
        pairs = dedup.ngram_jaccard_pairs(d_pairs, n=n, threshold=JACCARD_TAU)
        pstats = pairs.agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.coalesce(
                F.sum(F.expr("CAST(round(jaccard * 10000, 0) AS BIGINT)")),
                F.lit(0),
            )
            .cast("long")
            .alias("sum_jaccard_e4"),
        )
        row = tot.crossJoin(broadcast(pstats)).select(
            F.lit(n).cast("int").alias("n"),
            "total_shingles",
            "n_pairs",
            "sum_jaccard_e4",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n")


QUERIES["shingle_size_sweep"] = shingle_size_sweep


def _shingle_size_sweep_oracle() -> str:
    selects = []
    ctes = []
    for n in SHINGLE_N_GRID:
        sh = th.dk_shingles("text", n)
        tok = th.dk_tokens("text")
        ctes.append(f"""
    t{n} AS MATERIALIZED (
        SELECT doc_id, {sh} AS sh, len({tok}) AS n_tok FROM documents
    ), e{n} AS (
        SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM t{n}
        WHERE n_tok >= {n}
    ), pairs{n} AS MATERIALIZED (
        SELECT round(c::DOUBLE / (n_a + n_b - c), 4) AS jaccard FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b,
                   count(*) AS c
            FROM e{n} a JOIN e{n} b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ) WHERE c::DOUBLE / (n_a + n_b - c) >= {JACCARD_TAU}
    )""")
        selects.append(f"""
    SELECT CAST({n} AS INTEGER) AS n,
           (SELECT CAST(coalesce(sum(len(sh)), 0) AS BIGINT) FROM t{n})
               AS total_shingles,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs{n}) AS n_pairs,
           (SELECT CAST(coalesce(sum(
                CAST(round(jaccard * 10000, 0) AS BIGINT)), 0) AS BIGINT)
            FROM pairs{n}) AS sum_jaccard_e4""")
    return (
        "WITH "
        + ",".join(c.strip() for c in ctes)
        + " "
        + " UNION ALL ".join(selects)
        + " ORDER BY n"
    )


ORACLES["shingle_size_sweep"] = _shingle_size_sweep_oracle()

# --------------------------------------------------- hll_precision_sweep

#: the precision ladder: m=16 (hll_distinct's pin) up through the
#: production m=1024 (hll_distinct_prod_m's pin). Per m the row also
#: carries its rank width 31 - log2(m), alpha_m * m^2, and the
#: 2.5m linear-counting boundary as EXACT shared literals.
HLL_M_GRID = [16, 64, 256, 1024]


def _hll_sweep_rows() -> list[tuple[int, int, float, float]]:
    rows = []
    for m in HLL_M_GRID:
        w_bits = 31 - m.bit_length() + 1  # 31 - log2(m) for m a power of 2
        alpha_m2 = 0.7213 / (1 + 1.079 / m) * m * m
        rows.append((m, w_bits, alpha_m2, 2.5 * m))
    return rows


#: est expression shared verbatim by both engines (column refs only):
#: raw = alpha_m2 / (empties + sum 2^-rank); linear counting
#: round(m*ln(m/V), 4) replaces it when V > 0 and raw <= 2.5m --
#: hll_est_sql_runtime_ln's branch rule with the constants as columns.
_HLL_SWEEP_EST = (
    "CASE WHEN (m - n_filled) > 0"
    " AND (alpha_m2 / ((m - n_filled) + S_f)) <= lc_thr"
    " THEN round(m * ln(m / CAST(m - n_filled AS DOUBLE)), 4)"
    " ELSE round(alpha_m2 / ((m - n_filled) + S_f), 4) END"
)
_HLL_SWEEP_ERR = (
    "CASE WHEN n_exact = 0 THEN NULL"
    " ELSE CAST(round(abs(est - n_exact) / n_exact * 10000, 0) AS BIGINT)"
    " END"
)


def hll_precision_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The register-count axis of HLL sizing: one row per m in
    {HLL_M_GRID} -- (m, n_filled, est, n_exact, rel_err_e4), the
    distinct-user estimate at that precision against the exact count
    and its half-up 1e-4 relative error. The grid spans both regimes
    on this data: small m sits in the raw-estimator branch, large m in
    linear counting, so ONE driver row exercises both code paths at
    four precisions (hll_distinct / hll_distinct_prod_m pin the two
    endpoints individually).

    Cross-engine exactness: the squared-affine hash is shared text;
    ranks come from length(bin(w)) (no libm); register sums are dyadic
    2^-rank partials (order-exact); alpha_m2 and the 2.5m boundary ride
    the grid table as identical double literals; both est branches
    round to 4 (the runtime-ln round-to-grain discipline).

    Scale shape: the key hashes ONCE per row; the grid cross-join fans
    the scan |grid|x into a single (m, bucket) shuffle whose register
    state is sum(m) rows total; the exact count is one distinct agg.
    At 100 TB the sweep costs |grid| register tables -- kilobytes."""
    e = load_table(spark, sf_dir, "events").select("user_id")
    mt = broadcast(
        spark.createDataFrame(
            _hll_sweep_rows(),
            "m int, w_bits int, alpha_m2 double, lc_thr double",
        )
    )
    h = f"({_hll_hash_sql('user_id')})"
    regs = (
        e.crossJoin(mt)
        .select(
            "m",
            "alpha_m2",
            "lc_thr",
            F.expr(f"{h} % m").alias("bucket"),
            F.expr(
                f"CASE WHEN {h} DIV m = 0 THEN w_bits + 1"
                f" ELSE w_bits + 1 - length(bin({h} DIV m)) END"
            ).alias("rank"),
        )
        .groupBy("m", "alpha_m2", "lc_thr", "bucket")
        .agg(F.max("rank").alias("max_rank"))
    )
    agg = regs.groupBy("m", "alpha_m2", "lc_thr").agg(
        F.count("*").cast("long").alias("n_filled"),
        F.sum(F.expr("power(2.0, -max_rank)")).alias("S_f"),
    )
    ex = e.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    return (
        agg.crossJoin(broadcast(ex))
        .select(
            "m",
            "n_filled",
            F.expr(_HLL_SWEEP_EST).alias("est"),
            "n_exact",
        )
        .withColumn("rel_err_e4", F.expr(_HLL_SWEEP_ERR))
        .orderBy("m")
    )


QUERIES["hll_precision_sweep"] = hll_precision_sweep


def _hll_precision_sweep_oracle() -> str:
    vals = ", ".join(
        f"(CAST({m} AS INTEGER), CAST({w} AS INTEGER),"
        f" CAST({a!r} AS DOUBLE), CAST({t!r} AS DOUBLE))"
        for m, w, a, t in _hll_sweep_rows()
    )
    h = f"({_hll_hash_sql('user_id', engine='duckdb')})"
    return f"""
    WITH mt(m, w_bits, alpha_m2, lc_thr) AS (VALUES {vals}),
    regs AS (
        SELECT mt.m, mt.alpha_m2, mt.lc_thr, {h} % mt.m AS bucket,
               max(CASE WHEN {h} // mt.m = 0 THEN mt.w_bits + 1
                        ELSE mt.w_bits + 1 - length(bin({h} // mt.m))
                   END) AS max_rank
        FROM events, mt
        GROUP BY 1, 2, 3, 4
    ), agg AS (
        SELECT m, alpha_m2, lc_thr,
               CAST(count(*) AS BIGINT) AS n_filled,
               sum(power(2.0, -max_rank)) AS S_f
        FROM regs GROUP BY 1, 2, 3
    ), ex AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events
    ), est AS (
        SELECT m, n_filled, {_HLL_SWEEP_EST} AS est, n_exact
        FROM agg, ex
    )
    SELECT m, n_filled, est, n_exact, {_HLL_SWEEP_ERR} AS rel_err_e4
    FROM est ORDER BY m
    """


ORACLES["hll_precision_sweep"] = _hll_precision_sweep_oracle()

# --------------------------------------------------- simhash_band_sweep

#: (bands, band width) layouts of the 48-bit fingerprint; pigeonhole
#: guarantees recall only for hamming <= bands - 1, so the first two
#: rows are the lossy-but-cheap end and >= 4 bands are radius-3
#: complete.
SIMHASH_LAYOUTS = [(2, 24), (3, 16), (4, 12), (6, 8)]
#: the truth radius every layout is scored against (dedup_simhash's
#: operating point).
SIMHASH_SWEEP_RADIUS = 3


def _band_eq_pred(bands: int, width: int, a: str, b: str) -> str:
    """Pinned-text 'fingerprints collide in >= 1 band' predicate --
    an unrolled OR of masked-shift equalities (bands <= 6), identical
    on both engines."""
    mask = (1 << width) - 1
    return " OR ".join(
        f"((({a} >> {bnd * width}) & {mask})"
        f" = (({b} >> {bnd * width}) & {mask}))"
        for bnd in range(bands)
    )


def simhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band-layout axis of SimHash tuning: for each (bands, width)
    split of the SAME 48-bit fingerprint, the candidate VOLUME the
    band equi-join would generate and the layout's recall against the
    exact hamming<={SIMHASH_SWEEP_RADIUS} truth -- (bands, width,
    radius_guaranteed, n_candidates, n_hits, n_true, recall_e4).
    n_candidates is the probe-join volume sum_bands sum_buckets
    C(size, 2) (a pair colliding in k bands counts k times -- exactly
    the join cost an operator prices; the distinct-pair count is
    bounded above by it). Rows with bands > {SIMHASH_SWEEP_RADIUS}
    are pigeonhole-complete (recall_e4 = 10000, pytest-pinned); wider
    bands cut candidates at the cost of radius-3 misses -- THE table
    an operator reads before committing a layout (lsh_band_sweep's
    contract for the minhash family).

    Scale shape -- NO pair enumeration anywhere (the r14 redesign):
    the original materialized each layout's DISTINCT candidate pairs,
    which on this template-heavy corpus saturates toward all-pairs
    and OOMed the sf1 cert (~1.25e11 pairs; the kernel killed a 32 GB
    run at 94 GB) -- precisely the pathology the report exists to
    surface, so the report itself must not pay it. n_candidates now
    reduces the (band, bits) bucket-size census (map-side combinable,
    <= bands x |buckets| rows; C(size,2) summed in DECIMAL(38,0)),
    and n_hits evaluates the collide-in->=1-band predicate as a pure
    EXPRESSION over each truth pair's two fingerprints (truth-sized
    map, zero joins beyond fetching the two fingerprints). 100 TB
    cost = the fingerprint scan + the truth pair set."""
    d = load_table(spark, sf_dir, "documents")
    fp = materialize_result(dedup.simhash_fingerprints(d), family="simhash_sweep")
    pairs = dedup.simhash_pairs(d, max_hamming=SIMHASH_SWEEP_RADIUS)
    truth = materialize_result(
        pairs.join(
            fp.select(
                F.col("doc_id").alias("doc_a"),
                F.col("simhash").alias("sh_a"),
            ),
            "doc_a",
        )
        .join(
            fp.select(
                F.col("doc_id").alias("doc_b"),
                F.col("simhash").alias("sh_b"),
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "sh_a", "sh_b"),
        family="simhash_sweep",
    )
    n_true = truth.groupBy().agg(F.count("*").alias("n_true"))
    out = None
    for bands, width in SIMHASH_LAYOUTS:
        census = (
            fp.select(
                F.explode(
                    F.expr(
                        f"transform(sequence(0, {bands - 1}), b -> "
                        f"named_struct('band_idx', b, 'band_bits', "
                        f"shiftright(simhash, b * {width})"
                        f" % {1 << width}))"
                    )
                ).alias("bb")
            )
            .groupBy("bb.band_idx", "bb.band_bits")
            .agg(F.count("*").alias("sz"))
        )
        n_cand = census.agg(
            # Sum the DECIMAL(38,0) product and halve ONCE at the end:
            # a per-bucket `... DIV 2` would make each term (and the
            # running sum) BIGINT -- Spark's IntegralDivide always
            # returns BIGINT -- capping the accumulator at ~9.2e18
            # instead of the DECIMAL(38,0) headroom the oracle's
            # HUGEINT sum has. sz*(sz-1) is even, so the single final
            # DIV is exact; ANSI raises if the halved total ever
            # exceeds int64 (r14 ADVICE).
            F.coalesce(
                F.expr(
                    "sum(CAST(sz AS DECIMAL(38,0)) * (sz - 1)) DIV 2"
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_candidates")
        )
        n_hits = truth.agg(
            F.coalesce(
                F.sum(
                    F.expr(
                        f"CASE WHEN {_band_eq_pred(bands, width, 'sh_a', 'sh_b')}"
                        " THEN 1 ELSE 0 END"
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_hits")
        )
        row = (
            n_cand.crossJoin(broadcast(n_hits))
            .crossJoin(broadcast(n_true))
            .select(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(width).cast("int").alias("width"),
                F.lit(bands - 1).cast("int").alias("radius_guaranteed"),
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
    return out.orderBy("bands")


QUERIES["simhash_band_sweep"] = simhash_band_sweep


def _simhash_band_sweep_oracle() -> str:
    """Mirrors the r14 census + expression-recall design: bucket-size
    census for the candidate volume, the unrolled band-equality
    predicate over each truth pair's fingerprints for hits -- no pair
    enumeration beyond the truth set."""
    fp = th.dk_simhash(th.dk_token_hashes(th.dk_tokens("text")))
    parts = [f"""
    WITH f AS MATERIALIZED (
        SELECT doc_id, {fp} AS simhash FROM documents
    ), truth AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM f a JOIN f b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash))
              <= {SIMHASH_SWEEP_RADIUS}
    ), nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth)"""]
    selects = []
    for bands, width in SIMHASH_LAYOUTS:
        parts.append(f"""
    , census_{bands} AS (
        SELECT i AS band_idx,
               (simhash >> (i * {width})) % {1 << width} AS band_bits,
               count(*) AS sz
        FROM f, (SELECT CAST(unnest(range({bands})) AS INTEGER) AS i)
        GROUP BY 1, 2
    ), nc_{bands} AS (
        SELECT CAST(coalesce(sum(
                   CAST(sz AS HUGEINT) * (sz - 1) // 2), 0) AS BIGINT)
               AS n_candidates
        FROM census_{bands}
    ), nh_{bands} AS (
        SELECT CAST(coalesce(sum(CASE WHEN
                   {_band_eq_pred(bands, width, "sh_a", "sh_b")}
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
        FROM truth
    )""")
        selects.append(f"""
    SELECT CAST({bands} AS INTEGER) AS bands,
           CAST({width} AS INTEGER) AS width,
           CAST({bands - 1} AS INTEGER) AS radius_guaranteed,
           (SELECT n_candidates FROM nc_{bands}) AS n_candidates,
           (SELECT n_hits FROM nh_{bands}) AS n_hits,
           (SELECT n_true FROM nt) AS n_true,
           CASE WHEN (SELECT n_true FROM nt) = 0 THEN NULL
                ELSE CAST((2 * 10000 * (SELECT n_hits FROM nh_{bands})
                           + (SELECT n_true FROM nt))
                     // (2 * (SELECT n_true FROM nt)) AS BIGINT)
           END AS recall_e4""")
    parts.append(" UNION ALL ".join(selects))
    parts.append("""
    ORDER BY bands""")
    return "".join(parts)


ORACLES["simhash_band_sweep"] = _simhash_band_sweep_oracle()

# --------------------------------------------------- ivfadc_nprobe_sweep

#: cells probed per query -- the IVFADC cost/recall dial (faiss's
#: nprobe). The grid tops out at 4 because the testdata quantizer has
#: ~n/50 cells; the sweep SHAPE is what scales, not the literal grid.
IVFADC_NPROBE_GRID = [1, 2, 4]


def ivfadc_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe axis of IVFADC tuning (ann_nprobe_sweep's contract
    for the compound index; ann_ivf_pq pins nprobe=1): per nprobe in
    {IVFADC_NPROBE_GRID}, (nprobe, n_candidates, n_true, n_common,
    recall_e4) -- the residual-ADC candidate count a query pays when
    scanning its top-nprobe cells, and the micro-averaged recall of
    the resulting top-{ANN_K} against the exact cosine truth. Probing
    more cells can only add candidates; the ADC ranking then sees a
    superset, so the COST column is provably monotone (pytest) while
    recall measures how fast the compound index closes on exact search.

    Determinism/parity: everything upstream (coarse quantizer, seed
    residual codebook, encode, LUT) is _ivfadc_seed_parts -- the
    IDENTICAL dataframe graph ann_ivf_pq ranks with -- and cell
    ranking reuses ivf_assign's comparator (round-6 cosine desc,
    centroid_id asc) extended to rank <= max(nprobe).

    Scale shape: the scored-candidate frame builds ONCE at max(nprobe)
    (per-query work ~ nprobe * n/n_cells codes, never n) and is
    re-sliced per config by a broadcast grid join; ranks run per
    (nprobe, query) over that bounded frame; the brute-force truth is
    the audited broadcast-query shape and runs once."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cb, codes, lut = _ivfadc_seed_parts(spark, e)
    return _nprobe_report(spark, e, codes, lut)


def _nprobe_report(
    spark: SparkSession, e: DataFrame, codes: DataFrame, lut: DataFrame
) -> DataFrame:
    """The codebook-agnostic half of an IVFADC nprobe sweep: rank every
    query's cells (ivf_assign's comparator extended to rank <=
    max(nprobe)), score the candidates of the top-max(nprobe) cells
    ONCE from the given (codes, lut) frames, then slice per config by
    a broadcast grid join and report candidates/recall vs the exact
    cosine truth. Candidate GENERATION never reads the codebook, so
    two sweeps over the same corpus share their cost column exactly
    (pytest-pinned across the seed and trained variants)."""
    cent = e.where(F.expr(IVF_SEED_PRED)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cfull"),
        F.expr(th.sp_norm("embedding")).alias("__cn"),
    )
    maxp = max(IVFADC_NPROBE_GRID)
    q = e.where(F.col("vec_id") < N_QUERY_VECS)
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("centroid_id").asc()
    )
    qprobe = (
        q.select(
            F.col("vec_id").alias("query_id"),
            "embedding",
            F.expr(th.sp_norm("embedding")).alias("__vn"),
        )
        .crossJoin(broadcast(cent))
        .withColumn(
            "cos_c",
            F.round(
                F.expr(th.sp_dot("embedding", "cfull"))
                / (F.col("__vn") * F.col("__cn")),
                6,
            ),
        )
        .withColumn("cell_rank", F.row_number().over(wq))
        .where(F.col("cell_rank") <= maxp)
        .select(
            "query_id",
            "centroid_id",
            "cell_rank",
            F.expr(_pq_e6(th.sp_dot("embedding", "cfull"))).alias("qc_e6"),
        )
    )
    scored = materialize_result(
        codes.join(broadcast(qprobe), "centroid_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .join(broadcast(lut), ["query_id", "m", "c"])
        .groupBy("query_id", "vec_id", "cell_rank", "qc_e6")
        .agg(F.sum("p_e6").alias("__s"))
        .select(
            "query_id",
            "vec_id",
            "cell_rank",
            (F.col("qc_e6") + F.col("__s")).cast("long").alias("score_e6"),
        ),
        family="ivf_scored",
    )
    truth = similarity.cosine_topk(e, q, k=ANN_K).select(
        "query_id", "neighbor_id"
    )
    nt = truth.groupBy().agg(F.count("*").alias("n_true"))
    npg = broadcast(
        spark.createDataFrame(
            [(p,) for p in IVFADC_NPROBE_GRID], "nprobe int"
        )
    )
    cands = scored.crossJoin(npg).where(
        F.col("cell_rank") <= F.col("nprobe")
    )
    ncand = cands.groupBy("nprobe").agg(
        F.count("*").alias("n_candidates")
    )
    wr = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("score_e6").desc(), F.col("vec_id").asc()
    )
    ranked = cands.withColumn("__r", F.row_number().over(wr)).where(
        F.col("__r") <= ANN_K
    )
    ncommon = (
        ranked.join(
            truth.withColumnRenamed("neighbor_id", "vec_id"),
            ["query_id", "vec_id"],
        )
        .groupBy("nprobe")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        ncand.join(ncommon, "nprobe", "left")
        .crossJoin(broadcast(nt))
        .select(
            "nprobe",
            "n_candidates",
            "n_true",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            F.expr(
                "CASE WHEN n_true = 0 THEN NULL"
                " ELSE (2 * 10000 * coalesce(n_common, 0) + n_true)"
                " DIV (2 * n_true) END"
            ).alias("recall_e4"),
        )
        .orderBy("nprobe")
    )


QUERIES["ivfadc_nprobe_sweep"] = ivfadc_nprobe_sweep

def _dk_nprobe_tail(codes: str, lut: str) -> str:
    """The codebook-agnostic oracle half of an IVFADC nprobe sweep
    (_nprobe_report's DuckDB twin): qprobe/scored/grid/truth CTEs plus
    the final per-nprobe report, parameterized on the CTE names
    providing (vec_id, centroid_id, m, c) codes and (query_id, m, c,
    p_e6) LUT rows so the seed and trained variants share the text."""
    return f""" qprobe AS MATERIALIZED (
        SELECT query_id, centroid_id, cell_rank, qc_e6 FROM (
            SELECT q.vec_id AS query_id, c.centroid_id,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY round({th.dk_cosine('q.embedding', 'c.cfull')}, 6) DESC,
                                c.centroid_id ASC) AS cell_rank,
                   CAST(round(round({th.dk_dot('q.embedding', 'c.cfull')}, 6)
                        * 1000000.0, 0) AS BIGINT) AS qc_e6
            FROM embeddings q, cent c WHERE q.vec_id < {N_QUERY_VECS}
        ) WHERE cell_rank <= {max(IVFADC_NPROBE_GRID)}
    ), scored AS MATERIALIZED (
        SELECT qp.query_id, s.vec_id,
               any_value(qp.cell_rank) AS cell_rank,
               CAST(any_value(qp.qc_e6) + sum(l.p_e6) AS BIGINT)
                   AS score_e6
        FROM {codes} s
        JOIN qprobe qp ON qp.centroid_id = s.centroid_id
        JOIN {lut} l ON l.query_id = qp.query_id
                  AND l.m = s.m AND l.c = s.c
        WHERE qp.query_id <> s.vec_id
        GROUP BY qp.query_id, s.vec_id
    ), npg AS (
        SELECT CAST(unnest([{", ".join(map(str, IVFADC_NPROBE_GRID))}])
               AS INTEGER) AS nprobe
    ), cands AS MATERIALIZED (
        SELECT g.nprobe, s.query_id, s.vec_id, s.score_e6
        FROM scored s JOIN npg g ON s.cell_rank <= g.nprobe
    ), ncand AS (
        SELECT nprobe, CAST(count(*) AS BIGINT) AS n_candidates
        FROM cands GROUP BY nprobe
    ), truth AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY round({th.dk_cosine('q.embedding', 'c2.embedding')}, 6) DESC,
                                c2.vec_id ASC) AS rnk
            FROM embeddings q, embeddings c2
            WHERE q.vec_id < {N_QUERY_VECS} AND c2.vec_id <> q.vec_id
        ) WHERE rnk <= {ANN_K}
    ), nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
    ranked AS (
        SELECT nprobe, query_id, vec_id FROM (
            SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
                ORDER BY score_e6 DESC, vec_id ASC) AS rnk
            FROM cands
        ) WHERE rnk <= {ANN_K}
    ), ncom AS (
        SELECT nprobe, CAST(count(*) AS BIGINT) AS n_common
        FROM ranked r
        JOIN truth t ON t.query_id = r.query_id
                    AND t.neighbor_id = r.vec_id
        GROUP BY nprobe
    )
    SELECT c.nprobe, c.n_candidates, nt.n_true,
           CAST(coalesce(nc.n_common, 0) AS BIGINT) AS n_common,
           CASE WHEN nt.n_true = 0 THEN NULL
                ELSE CAST((2 * 10000 * coalesce(nc.n_common, 0)
                           + nt.n_true) // (2 * nt.n_true) AS BIGINT)
           END AS recall_e4
    FROM ncand c LEFT JOIN ncom nc ON nc.nprobe = c.nprobe, nt
    ORDER BY c.nprobe"""


ORACLES["ivfadc_nprobe_sweep"] = (
    f"WITH {dk_ivfadc_seed_ctes()},{_dk_nprobe_tail('codes', 'lut')}"
)

# ---------------------------------------------------- ann_ivf_pq_kmeans


def ann_ivf_pq_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivf_pq with TRAINED residual codebooks -- the full IVFADC
    production recipe (Jegou, Douze & Schmid 2011 train PQ on residual
    vectors, faiss's IVFxx,PQyy): residuals to the coarse quantizer are
    materialized as float32 vectors, per-subspace Lloyd k-means runs in
    RESIDUAL SPACE ({PQ_KM_ITERS} iteration from the lowest-id residual
    seeds) behind the persisted PQ index (similarity.pq_index with the
    'ivf-residual' variant tag, so the sidecar never collides with the
    plain-PQ codebook trained on raw vectors), then the identical
    encode / LUT / cell-scan ADC ranking as ann_ivf_pq. The DuckDB
    oracle replays the residual-space subspace k-means itself
    (_dk_pq_kmeans_ctes over a residual CTE -- exact-1e-6 L2
    assignment, exact integer micro-unit means), so residual TRAINING
    is oracle-checked end to end, the same bar ann_pq_kmeans holds for
    raw-space PQ and ann_ivf_kmeans for the coarse quantizer.

    Determinism/parity: residuals are built float32 with the same
    element op order on both engines (cast-to-double subtract, round
    to float32); everything downstream is the proven trained-codebook
    machinery. float32 codewords round-trip the index sidecar exactly,
    so an index probe is bit-identical to fresh training.

    Scale shape: training is {PQ_KM_ITERS} corpus pass(es) through a
    broadcast argmin + (m, c, dim) hash agg, run once per ingest epoch
    behind the index; search stays the nprobe=1 cell scan where the
    shuffle carries (cell, code, score) -- codes are {PQ_M}
    bytes-worth per vector, vectors never move."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cb, codes, lut = _ivfadc_trained_parts(spark, e, sf_dir)
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


def _ivfadc_trained_parts(
    spark: SparkSession, e: DataFrame, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The trained-residual IVFADC build (ann_ivf_pq_kmeans's flavor of
    _ivfadc_seed_parts): (asg, cb, codes, lut) with the codebook
    TRAINED by residual-space subspace k-means behind the persisted
    pq_index (variant-tagged sidecar). Factored verbatim so the
    trained nprobe sweep re-slices the identical dataframe graph."""
    cent = e.where(F.expr(IVF_SEED_PRED)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cfull"),
    )
    cent_as_vecs = cent.select(
        F.col("centroid_id").alias("vec_id"),
        F.col("cfull").alias("embedding"),
    )
    asg = similarity.ivf_assign(e, cent_as_vecs).join(
        broadcast(cent), "centroid_id"
    )
    # float32 residuals, materialized once: training (seeds + one scan
    # per Lloyd iteration) and encoding both read this frame
    resid = materialize_result(
        asg.select(
            "vec_id",
            "centroid_id",
            F.expr(
                "transform(zip_with(embedding, cfull, "
                "(a, b) -> cast(a as double) - cast(b as double)), "
                "x -> cast(x as float))"
            ).alias("rvec"),
        ),
        family="ivfadc_trained",
    )
    cb = similarity.pq_index(
        spark,
        resid,
        n_sub=PQ_M,
        sub_dim=PQ_SUB,
        k=PQ_K,
        iters=PQ_KM_ITERS,
        source_path=f"{sf_dir}/embeddings.parquet",
        vec_col="rvec",
        variant="ivf-residual-mod50",
    )
    sub = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    codes = (
        resid.crossJoin(broadcast(sub))
        .select(
            "vec_id",
            "centroid_id",
            "m",
            F.expr(f"slice(rvec, m * {PQ_SUB} + 1, {PQ_SUB})").alias("xv"),
        )
        .join(broadcast(cb), "m")
        .select(
            "vec_id",
            "centroid_id",
            "m",
            F.struct(
                F.expr(_pq_e6(th.sp_l2sq("xv", "cvec"))).alias("d_e6"),
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
            F.expr(_pq_e6(th.sp_dot("qv", "cvec"))).alias("p_e6"),
        )
    )
    return asg, cb, codes, lut


QUERIES["ann_ivf_pq_kmeans"] = ann_ivf_pq_kmeans

#: DuckDB twin of _ivfadc_trained_parts: CTEs cent/asg/remb/<kmeans>/
#: dists2/codes2/lut2 -- shared by ann_ivf_pq_kmeans and the trained
#: nprobe sweep so both oracles replay the identical residual-space
#: training, encode and LUT.
_DK_IVFADC_TRAINED_CTES = f"""cent AS MATERIALIZED (
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
    ), remb AS MATERIALIZED (
        SELECT vec_id, centroid_id,
               list_transform(range(0, len(embedding)), i ->
                   CAST(embedding[i + 1]::DOUBLE - cfull[i + 1]::DOUBLE
                        AS FLOAT)) AS embedding
        FROM asg
    ), {_dk_pq_kmeans_ctes(src='remb')}, dists2 AS (
        SELECT r.vec_id, r.centroid_id, cb.m, cb.c,
               CAST(round(round(
                   {th.dk_l2sq(f'r.embedding[{_PQ_SLICE}]', 'cb.cvec')}
               , 6) * 1000000.0, 0) AS BIGINT) AS d_e6
        FROM remb r, cb
    ), codes2 AS MATERIALIZED (
        SELECT vec_id, centroid_id, m, c FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m
                ORDER BY d_e6 ASC, c ASC) AS rn
            FROM dists2
        ) WHERE rn = 1
    ), lut2 AS MATERIALIZED (
        SELECT q.vec_id AS query_id, cb.m, cb.c,
               CAST(round(round(
                   {th.dk_dot(f'q.embedding[{_PQ_SLICE}]', 'cb.cvec')}
               , 6) * 1000000.0, 0) AS BIGINT) AS p_e6
        FROM embeddings q, cb
        WHERE q.vec_id < {N_QUERY_VECS}
    )"""

ORACLES["ann_ivf_pq_kmeans"] = f"""
    WITH {_DK_IVFADC_TRAINED_CTES}, qcell AS MATERIALIZED (
        SELECT a.vec_id AS query_id, a.centroid_id,
               CAST(round(round(
                   {th.dk_dot('a.embedding', 'a.cfull')}
               , 6) * 1000000.0, 0) AS BIGINT) AS qc_e6
        FROM asg a WHERE a.vec_id < {N_QUERY_VECS}
    ), scores AS (
        SELECT qc.query_id, s.vec_id,
               CAST(any_value(qc.qc_e6) + sum(l.p_e6) AS BIGINT)
                   AS score_e6
        FROM codes2 s
        JOIN qcell qc ON qc.centroid_id = s.centroid_id
        JOIN lut2 l ON l.query_id = qc.query_id
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
"""

# ----------------------------------------------------- hll_merge_by_type

#: register count for the merge demo -- the m=16 exact literal-table
#: estimator (hll_distinct's configuration), so the merged row needs
#: no runtime ln().
from abr_etl_spark.plans.analytics8 import (  # noqa: E402
    HLL_M,
    _hll_rank_sql,
    hll_est_sql,
)


def hll_merge_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY -- the algebraic property that makes HLL the
    100 TB distinct-count answer: per event_type register tables are
    built independently, and the whole-corpus estimate comes from
    MERGING them (per-bucket max across scopes) without ever rescanning
    the data. Output (scope, n_filled, est): one row per event_type
    plus the '__ALL__' row computed ONLY from the per-scope registers.
    max is associative/commutative/idempotent, so merge(registers(A),
    registers(B)) == registers(A union B) exactly -- the '__ALL__' row
    is bit-identical to a direct single-pass sketch (pytest-pinned),
    which is why per-partition sketches can roll up across days,
    sources, or 1000 executors with O(m) state each.

    Scale shape: ONE key-hash scan, one (scope, bucket) shuffle whose
    state is |scopes| x m rows; the merge is an m-row aggregate of that
    register table -- the data is never touched twice. The estimator is
    the m={HLL_M} exact literal-table form (dyadic 2^-rank sums, no
    libm), so every row replays bit-identically cross-engine."""
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = f"({_hll_hash_sql('user_id')})"
    regs = materialize_result(
        e.select(
            F.col("event_type").alias("scope"),
            F.expr(f"{h} % {HLL_M}").alias("bucket"),
            F.expr(_hll_rank_sql(f"{h} DIV {HLL_M}")).alias("rank"),
        )
        .groupBy("scope", "bucket")
        .agg(F.max("rank").alias("max_rank")),
        family="sketch_merge",
    )
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("max_rank").alias("max_rank"))
        .select(F.lit("__ALL__").alias("scope"), "bucket", "max_rank")
    )
    est = (
        regs.unionByName(merged)
        .groupBy("scope")
        .agg(
            F.count("*").cast("long").alias("n_filled"),
            F.sum(F.expr("power(2.0, -max_rank)")).alias("S_f"),
        )
        .select(
            "scope",
            "n_filled",
            F.expr(
                hll_est_sql(
                    f"({HLL_M} - n_filled)",
                    f"(({HLL_M} - n_filled) + S_f)",
                )
            ).alias("est"),
        )
    )
    return est.orderBy("scope")


QUERIES["hll_merge_by_type"] = hll_merge_by_type


def _hll_merge_by_type_oracle() -> str:
    h = f"({_hll_hash_sql('user_id', engine='duckdb')})"
    rank = (
        f"CASE WHEN {h} // {HLL_M} = 0 THEN 28 "
        f"ELSE 28 - length(bin({h} // {HLL_M})) END"
    )
    return f"""
    WITH regs AS MATERIALIZED (
        SELECT event_type AS scope, {h} % {HLL_M} AS bucket,
               max({rank}) AS max_rank
        FROM events GROUP BY 1, 2
    ), merged AS (
        SELECT '__ALL__' AS scope, bucket, max(max_rank) AS max_rank
        FROM regs GROUP BY bucket
    ), allregs AS (
        SELECT * FROM regs UNION ALL SELECT * FROM merged
    ), agg AS (
        SELECT scope, CAST(count(*) AS BIGINT) AS n_filled,
               sum(power(2.0, -max_rank)) AS S_f
        FROM allregs GROUP BY scope
    )
    SELECT scope, n_filled,
           {hll_est_sql(f"({HLL_M} - n_filled)",
                        f"(({HLL_M} - n_filled) + S_f)")} AS est
    FROM agg ORDER BY scope
    """


ORACLES["hll_merge_by_type"] = _hll_merge_by_type_oracle()

# -------------------------------------------------- kmv_merge_by_source

from abr_etl_spark.plans.llm_pipeline3 import KMV_K  # noqa: E402


def kmv_merge_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV MERGEABILITY -- the order-statistics half of the sketch-
    rollup story (hll_merge_by_type is the register half): per-source
    k-minimum-value sketches over corpus 3-gram hashes are built
    independently, and the whole-corpus sketch comes from merging the
    k-min LISTS alone (k smallest distinct of their union), never
    rescanning data. Output (scope, k, kth_hash, est_distinct): one
    row per source plus '__ALL__' from the merge. Any hash among the
    global k smallest is among its own source's k smallest (fewer than
    k distinct hashes precede it anywhere), so merge(kmin(A), kmin(B))
    == kmin(A union B) EXACTLY -- pytest-pinned against a direct
    single-pass sketch. est = (k-1) * P / h_k with the row's own k, so
    a gram-poor source (k < {KMV_K}) estimates its true cardinality
    instead of inheriting the full-k numerator.

    Scale shape: one gram-hash scan, one distinct (source, hash)
    shuffle, a per-source rank bounded at k rows kept (state k x
    |sources|); the merge is a |sources| x k-row frame. The data is
    never touched twice -- the property that lets per-day / per-source
    / per-executor sketches roll up at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    h = (
        d.select(
            "source",
            F.expr(th.sp_token_hashes(th.sp_tokens("text"))).alias("__th"),
        )
        .select(
            "source",
            F.explode(
                F.expr(th.sp_gram_hashes_from_token_hashes("__th", 3))
            ).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("source").orderBy(F.col("h").asc())
    kmin = materialize_result(
        h.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= KMV_K)
        .select(F.col("source").alias("scope"), "h"),
        family="sketch_merge",
    )
    per = kmin.groupBy("scope").agg(
        F.count("*").cast("long").alias("k"),
        F.max("h").alias("kth_hash"),
    )
    merged = (
        kmin.select("h")
        .distinct()
        .orderBy(F.col("h").asc())
        .limit(KMV_K)
        .agg(F.count("*").cast("long").alias("k"), F.max("h").alias("kth_hash"))
        .select(F.lit("__ALL__").alias("scope"), "k", "kth_hash")
    )
    return (
        per.unionByName(merged)
        .select(
            "scope",
            "k",
            "kth_hash",
            ((F.col("k") - 1) * F.lit(th.P) / F.col("kth_hash")).alias(
                "est_distinct"
            ),
        )
        .orderBy("scope")
    )


QUERIES["kmv_merge_by_source"] = kmv_merge_by_source

ORACLES["kmv_merge_by_source"] = f"""
    WITH tt AS (
        SELECT source, {th.dk_token_hashes(th.dk_tokens('text'))} AS tth
        FROM documents
    ), hh AS (
        SELECT DISTINCT source,
            unnest({th.dk_gram_hashes_from_token_hashes('tth', 3)}) AS h
        FROM tt
    ), kmin AS MATERIALIZED (
        SELECT source AS scope, h FROM (
            SELECT source, h,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY h ASC) AS rn
            FROM hh
        ) WHERE rn <= {KMV_K}
    ), per AS (
        SELECT scope, CAST(count(*) AS BIGINT) AS k,
               CAST(max(h) AS BIGINT) AS kth_hash
        FROM kmin GROUP BY scope
    ), merged AS (
        SELECT '__ALL__' AS scope, CAST(count(*) AS BIGINT) AS k,
               CAST(max(h) AS BIGINT) AS kth_hash
        FROM (SELECT DISTINCT h FROM kmin ORDER BY h ASC LIMIT {KMV_K})
    ), allrows AS (
        SELECT * FROM per UNION ALL SELECT * FROM merged
    )
    SELECT scope, k, kth_hash,
           (k - 1) * {th.P} / kth_hash AS est_distinct
    FROM allrows ORDER BY scope
"""

# -------------------------------------------------- cms_merge_by_source

from abr_etl_spark.plans.llm_pipeline4 import (  # noqa: E402
    _CMS_A,
    _CMS_B,
    _cms_cells,
    CMS_PROBE_DOCS,
    CMS_W,
)


def cms_merge_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch MERGEABILITY -- the linear-algebra member of
    the sketch-rollup trio (HLL merges by register max, KMV by order
    statistics, CMS by CELL-WISE SUM): per-source D x W counter tables
    are built independently and the whole-corpus sketch is their
    cell-wise sum -- counting is linear, so merge(cms(A), cms(B)) ==
    cms(A union B) EXACTLY, and the '__ALL__' estimates below are
    pytest-pinned equal to the single-pass heavy_hitters_cms output.
    Output (scope, tok, est_freq): the probe set's frequency estimate
    under every per-source sketch (0 where the token never occurs --
    an absent cell counts zero, hence the left join) and under the
    merged sketch.

    Scale shape: token occurrences never shuffle -- each partition
    partially aggregates into <= |sources| x D x W cells; the merge is
    one cell-wise sum of those metadata-scale tables; the probe grid
    is |probes| x D x |scopes| rows against a broadcast sketch. The
    rollup property is what lets per-day / per-source CMS tables
    answer corpus-wide frequency queries without a second scan."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select(
        "source", F.explode(F.expr(th.sp_tokens("text"))).alias("tok")
    )
    per = materialize_result(
        _cms_cells(occ)
        .groupBy("source", "j", "cell")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col("source").alias("scope"), "j", "cell", "n"),
        family="sketch_merge",
    )
    merged = (
        per.groupBy("j", "cell")
        .agg(F.sum("n").cast("long").alias("n"))
        .select(F.lit("__ALL__").alias("scope"), "j", "cell", "n")
    )
    sketches = per.unionByName(merged)
    scopes = sketches.select("scope").distinct()
    probe = (
        d.where(F.col("doc_id") < CMS_PROBE_DOCS)
        .select(F.explode(F.expr(th.sp_tokens("text"))).alias("tok"))
        .distinct()
    )
    grid = _cms_cells(probe, keep_tok=True).crossJoin(broadcast(scopes))
    return (
        grid.join(broadcast(sketches), ["scope", "j", "cell"], "left")
        .groupBy("scope", "tok")
        .agg(
            F.min(F.coalesce("n", F.lit(0))).cast("long").alias("est_freq")
        )
        .orderBy("scope", "tok")
    )


QUERIES["cms_merge_by_source"] = cms_merge_by_source


def _cms_merge_oracle() -> str:
    cells_src = " UNION ALL ".join(
        f"SELECT source, {j} AS j,"
        f" (({a} * h + {b}) % {th.P}) % {CMS_W} AS cell FROM occ"
        for j, (a, b) in enumerate(zip(_CMS_A, _CMS_B))
    )
    pcells = " UNION ALL ".join(
        f"SELECT tok, {j} AS j,"
        f" (({a} * h + {b}) % {th.P}) % {CMS_W} AS cell FROM ph"
        for j, (a, b) in enumerate(zip(_CMS_A, _CMS_B))
    )
    return f"""
    WITH occ AS (
        SELECT source, {th.dk_polyhash('tok')} AS h
        FROM (SELECT source, unnest({th.dk_tokens('text')}) AS tok
              FROM documents)
    ), cells AS (
        {cells_src}
    ), per AS MATERIALIZED (
        SELECT source AS scope, j, cell, CAST(count(*) AS BIGINT) AS n
        FROM cells GROUP BY 1, 2, 3
    ), merged AS (
        SELECT '__ALL__' AS scope, j, cell, CAST(sum(n) AS BIGINT) AS n
        FROM per GROUP BY j, cell
    ), sk AS (
        SELECT * FROM per UNION ALL SELECT * FROM merged
    ), scopes AS (SELECT DISTINCT scope FROM sk),
    probe AS (
        SELECT DISTINCT tok
        FROM (SELECT unnest({th.dk_tokens('text')}) AS tok
              FROM documents WHERE doc_id < {CMS_PROBE_DOCS})
    ), ph AS (
        SELECT tok, {th.dk_polyhash('tok')} AS h FROM probe
    ), pcells AS (
        {pcells}
    ), grid AS (
        SELECT s.scope, p.tok, p.j, p.cell FROM pcells p, scopes s
    )
    SELECT g.scope, g.tok,
           CAST(min(coalesce(sk.n, 0)) AS BIGINT) AS est_freq
    FROM grid g
    LEFT JOIN sk ON sk.scope = g.scope AND sk.j = g.j
                AND sk.cell = g.cell
    GROUP BY g.scope, g.tok
    ORDER BY g.scope, g.tok
    """


ORACLES["cms_merge_by_source"] = _cms_merge_oracle()

# ----------------------------------------------- ivfadc_trained_nprobe


def ivfadc_trained_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivfadc_nprobe_sweep with TRAINED residual codebooks -- the
    nprobe axis of the PRODUCTION IVFADC (ann_ivf_pq_kmeans pins
    nprobe=1), closing the compound index's tuning surface: coarse
    quantizer (oracle-replayed), residual-space k-means codebooks
    (oracle-replayed, persisted behind the variant-tagged pq_index),
    and now the probe-count dial over both. Same report columns as the
    seed sweep; candidate GENERATION never reads the codebook, so the
    n_candidates column is pytest-pinned EQUAL to ivfadc_nprobe_sweep's
    row for row -- the two sweeps differ only in ranking quality.

    Scale shape: identical to ivfadc_nprobe_sweep (the scored frame
    builds once at max(nprobe) and is grid-sliced); training amortizes
    behind the index exactly as in ann_ivf_pq_kmeans."""
    e = load_table(spark, sf_dir, "embeddings")
    _asg, _cb, codes, lut = _ivfadc_trained_parts(spark, e, sf_dir)
    return _nprobe_report(spark, e, codes, lut)


QUERIES["ivfadc_trained_nprobe"] = ivfadc_trained_nprobe

ORACLES["ivfadc_trained_nprobe"] = (
    f"WITH {_DK_IVFADC_TRAINED_CTES},"
    f"{_dk_nprobe_tail('codes2', 'lut2')}"
)
