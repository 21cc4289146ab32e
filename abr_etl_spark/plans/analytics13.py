"""Round-13 second-wave analytics: the four §7.19 operator candidates.

- ``holt_winters_seasonal``: the THIRD smoothing term -- multiplicative
  day-of-week seasonality around the double-exponential level/trend
  (holt_winters_forecast x seasonal_index_dow, composed per event type,
  all-integer rational arithmetic).
- ``spearman_rho_daily``: Spearman rank correlation (average-tie ranks)
  between each type's daily count and value series -- the third rank
  geometry beside kendall_tau_daily (pairwise signs) and
  regr_slope_per_user (linear).
- ``funnel_dropoff``: the per-stage attrition table over funnel_counts'
  conversion grain -- where users leave, not just how many finish.
- ``weighted_reservoir_sample``: Efraimidis-Spirakis A-Res weighted
  sampling (top-k by u^(1/w)) made INTEGER-EXACT by restricting weights
  to powers of two and comparing u^(1/w) through its 4th power --
  (h+1)^(4/w) * p^(4-4/w) fits DECIMAL(38,0), so both engines replay
  the identical race with no libm pow/ln anywhere.

Reference parity: downstream-of-the-weekly-delta analytics (SURVEY.md
§2.B rationale); the sampler is the training-data-pipeline ask
(weighted corpus subsampling with an auditable replayable seed).

Scale notes: every window here is partitioned (event_type / lang /
lang+bucket); the sampler never sorts the corpus -- a 4096-cell key
histogram picks the per-lang cutoff bucket and only survivors reach
the top-k window (the gini/abc two-level device applied to top-k).
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
    "association_rules": ("rules",),
}

_DOW_ANCHOR = "1992-01-06"  # a Monday (shared with seasonal_index_dow)


def _halfup(num: str, den: str) -> str:
    """Sign-safe half-up rational rounding ``round(num/den)`` for a
    POSITIVE denominator expression, exact on both engines: the pmod
    remainder makes the final integer division a floor even for
    negative numerators (the time_weighted_avg device, generalized to
    expression denominators)."""
    x = f"(2 * ({num}) + ({den}))"
    return f"(({x} - pmod({x}, 2 * ({den}))) DIV (2 * ({den})))"


def _halfup_dk(num: str, den: str) -> str:
    """DuckDB twin of _halfup (pmod spelled ((x%y)+y)%y; // floors)."""
    x = f"(2 * ({num}) + ({den}))"
    y = f"(2 * ({den}))"
    return f"(({x} - ((({x}) % {y} + {y}) % {y})) // {y})"


# ------------------------------------------------- holt_winters_seasonal

#: smoothing window depth and closed-form weight totals -- shared with
#: holt_winters_forecast (analytics12) so the two keys' level/trend
#: machinery is literally the same kernel.
from abr_etl_spark.plans.analytics12 import (  # noqa: E402
    HW_D1,
    HW_D2,
    HW_W,
    _hw_round_e4,
    _hw_round_e4_duck,
)


def holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative-seasonal Holt-Winters: per event type, (1) the
    day-of-week seasonal index idx(d) = mean value on DOW d / overall
    mean (seasonal_index_dow's cross-multiplied rational, computed at
    the DAY grain so weekday coverage, not event volume, weighs each
    cell), (2) the series seasonally ADJUSTED by that index, (3)
    Brown's double smooth of the adjusted series (holt_winters_forecast's
    closed-form integer kernel), and (4) the one-step forecast
    RE-INFLATED by the next calendar day's index. Output (event_type,
    day, v_e4, idx_e6, sa_e4, sf_e4): observed value, own-DOW index in
    1e-6 units, seasonally-adjusted value, and the seasonal forecast
    for day+1 -- all half-up fixed-point BIGINT.

    Determinism: the index is a RATIONAL carried as (num, den) integer
    pairs (num = s_d * c_all, den = c_d * s_all over the day-grain
    cells), so adjust = v*den/num and re-inflate = f*num'/den' are each
    ONE sign-safe half-up division in DECIMAL(38,0) -- no float ever;
    the smoothing is the pinned power-weight fold, itself carried in
    DECIMAL(38,0) (HUGEINT on the oracle) because sa_e4 is den/num-
    inflated and only s_all-bounded under extreme DOW skew -- an int64
    fold would wrap where the oracle raises. Degenerate guards:
    a type whose value mass is <= 0 (the all-NULL lake) or a next-DOW
    never observed yields NULL for the affected report columns, never
    a raise. Headroom: daily sums ~1e12 x DOW mass ~1e15 x day count
    ~1e4 stays < 1e31 << 1e38.

    Scale shape: ONE events scan map-side combines to the (type, day)
    grain; cells/totals re-aggregate the day-grain frame (<= 7|types|
    rows, broadcast back); the {HW_W} lags share one (event_type)-
    partitioned window. 100 TB cost = the scan."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.floor(F.col("value") * 10000 + 0.5).cast("long").alias("v"),
    )
    daily = e.groupBy("event_type", "day").agg(
        F.coalesce(F.sum("v"), F.lit(0)).alias("v_e4")
    ).withColumn(
        "dow",
        F.expr(
            f"pmod(datediff(CAST(day AS DATE), DATE '{_DOW_ANCHOR}'), 7)"
        ),
    )
    cells = daily.groupBy("event_type", "dow").agg(
        F.count("*").alias("c_d"), F.sum("v_e4").alias("s_d")
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("c_all"), F.sum("v_e4").alias("s_all")
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    num = dec.format("s_d * c_all")  # idx numerator
    den = dec.format("c_d * s_all")  # idx denominator
    withidx = (
        daily.join(broadcast(cells), ["event_type", "dow"])
        .join(broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            "dow",
            "v_e4",
            F.expr(
                f"CASE WHEN {den} > 0 AND {num} > 0 THEN CAST("
                f"{_halfup(f'{num} * 1000000', den)} AS BIGINT) END"
            ).alias("idx_e6"),
            F.expr(
                f"CASE WHEN {den} > 0 AND {num} > 0 THEN CAST("
                + _halfup(f"{dec.format('v_e4')} * ({den})", num)
                + " AS BIGINT) END"
            ).alias("sa_e4"),
        )
    )
    # The power-weight fold runs in DECIMAL(38,0) (HUGEINT on the
    # oracle): sa_e4 is den/num-inflated and only s_all-bounded under
    # extreme DOW skew, so an int64 fold would silently wrap past
    # ~2.4e13 e4-units while DuckDB raised -- divergent failure modes
    # (r13 ADVICE). The final quotient is sa_e4-magnitude, so the
    # BIGINT report column is safe.
    w = Window.partitionBy("event_type").orderBy(F.col("day").asc())
    s1 = sum(
        F.coalesce(F.lag("sa_e4", j).over(w), F.lit(0)).cast(
            "decimal(38,0)"
        )
        * F.lit(2 ** (HW_W - 1 - j))
        for j in range(HW_W)
    )
    s2 = sum(
        F.coalesce(F.lag("sa_e4", j).over(w), F.lit(0)).cast(
            "decimal(38,0)"
        )
        * F.lit((j + 1) * 2 ** (HW_W - 1 - j))
        for j in range(HW_W)
    )
    sm = withidx.select(
        "event_type",
        "day",
        "dow",
        "v_e4",
        "idx_e6",
        "sa_e4",
        s1.cast("decimal(38,0)").alias("__s1"),
        s2.cast("decimal(38,0)").alias("__s2"),
    ).withColumn(
        "f_adj",
        F.expr(
            "CAST("
            + _hw_round_e4(
                f"3 * __s1 * {HW_D2} - 2 * __s2 * {HW_D1}", HW_D1 * HW_D2
            )
            + " AS BIGINT)"
        ),
    ).withColumn("dow_next", F.expr("pmod(dow + 1, 7)"))
    nxt = cells.select(
        "event_type",
        F.col("dow").alias("dow_next"),
        F.col("c_d").alias("c_dn"),
        F.col("s_d").alias("s_dn"),
    )
    num2 = dec.format("s_dn * c_all")
    den2 = dec.format("c_dn * s_all")
    return (
        sm.join(broadcast(nxt), ["event_type", "dow_next"], "left")
        .join(broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            "v_e4",
            "idx_e6",
            "sa_e4",
            F.expr(
                f"CASE WHEN {den2} > 0 AND {num2} > 0 THEN CAST("
                + _halfup(f"{dec.format('f_adj')} * ({num2})", den2)
                + " AS BIGINT) END"
            ).alias("sf_e4"),
        )
        .orderBy("event_type", "day")
    )


QUERIES["holt_winters_seasonal"] = holt_winters_seasonal


def _hws_oracle() -> str:
    # HUGEINT fold -- the DuckDB twin of the Spark side's DECIMAL(38,0)
    # smoothing fold (r13 ADVICE: matched wide-integer headroom).
    lag_s1 = " + ".join(
        f"CAST(coalesce(lag(sa_e4, {j}) OVER w, 0) AS HUGEINT)"
        f" * {2 ** (HW_W - 1 - j)}"
        for j in range(HW_W)
    )
    lag_s2 = " + ".join(
        f"CAST(coalesce(lag(sa_e4, {j}) OVER w, 0) AS HUGEINT)"
        f" * {(j + 1) * 2 ** (HW_W - 1 - j)}"
        for j in range(HW_W)
    )
    hug = "CAST({} AS HUGEINT)"
    num = hug.format("s_d * c_all")
    den = hug.format("c_d * s_all")
    num2 = hug.format("s_dn * c_all")
    den2 = hug.format("c_dn * s_all")
    return f"""
        WITH daily AS MATERIALIZED (
            SELECT event_type,
                   strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   ((CAST(ts AS DATE) - DATE '{_DOW_ANCHOR}') % 7 + 7) % 7
                       AS dow,
                   CAST(coalesce(sum(
                       CAST(floor(value * 10000 + 0.5) AS BIGINT)
                   ), 0) AS BIGINT) AS v_e4
            FROM events GROUP BY 1, 2, 3
        ), cells AS (
            SELECT event_type, dow, count(*) AS c_d, sum(v_e4) AS s_d
            FROM daily GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, count(*) AS c_all, sum(v_e4) AS s_all
            FROM daily GROUP BY 1
        ), adj AS (
            SELECT d.event_type, d.day, d.dow, d.v_e4,
                   CASE WHEN {den} > 0 AND {num} > 0 THEN CAST(
                       {_halfup_dk(f"{num} * 1000000", den)} AS BIGINT)
                   END AS idx_e6,
                   CASE WHEN {den} > 0 AND {num} > 0 THEN CAST(
                       {_halfup_dk(f"{hug.format('d.v_e4')} * ({den})", num)}
                       AS BIGINT)
                   END AS sa_e4
            FROM daily d
            JOIN cells USING (event_type, dow)
            JOIN tot USING (event_type)
        ), sm AS (
            SELECT event_type, day, dow, v_e4, idx_e6, sa_e4,
                   CAST({lag_s1} AS HUGEINT) AS s1,
                   CAST({lag_s2} AS HUGEINT) AS s2
            FROM adj
            WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)
        ), fc AS (
            SELECT *, CAST({_hw_round_e4_duck(
                f"3 * s1 * {HW_D2} - 2 * s2 * {HW_D1}", HW_D1 * HW_D2
            )} AS BIGINT) AS f_adj,
                   (dow + 1) % 7 AS dow_next
            FROM sm
        )
        SELECT f.event_type, f.day, f.v_e4, f.idx_e6, f.sa_e4,
               CASE WHEN {den2} > 0 AND {num2} > 0 THEN CAST(
                   {_halfup_dk(f"{hug.format('f.f_adj')} * ({num2})", den2)}
                   AS BIGINT)
               END AS sf_e4
        FROM fc f
        LEFT JOIN (SELECT event_type, dow AS dow_next, c_d AS c_dn,
                          s_d AS s_dn FROM cells) n
            USING (event_type, dow_next)
        JOIN tot USING (event_type)
        ORDER BY f.event_type, f.day
    """


ORACLES["holt_winters_seasonal"] = _hws_oracle()

# ---------------------------------------------------- spearman_rho_daily


def spearman_rho_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (tie-AVERAGED ranks) between each
    type's daily event count and daily total value -- the monotone-
    association twin of kendall_tau_daily that weighs rank DISTANCE,
    not just pair sign. Output (event_type, n_days, rho_e6).

    Determinism: average ranks with ties are half-integers, so both
    engines carry 2x the rank (R2 = 2*rank() + ties - 1, exact BIGINT
    off two partitioned windows per axis); rho is then Pearson over the
    R2 pairs -- the 4x scale cancels -- reported as ONE pinned-text
    double expression round(.., 6) over five exact integer sums
    (identical IEEE on both engines; sqrt is correctly rounded), NULL
    when either axis is constant (the all-NULL lake collapses value to
    one tie) or n_days < 2. Headroom: n*Sxx ~ 4*n_days^4 wraps int64
    past ~40k distinct days (a century of daily grain) -- widen to
    DECIMAL(38,0) before that.

    Scale shape: ONE scan to the (type, day) grain; four windows all
    partitioned by event_type (frames day-grain, calendar-bounded);
    |types| report rows. 100 TB cost = the scan."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
    )
    daily = e.groupBy("event_type", "day").agg(
        F.count("*").alias("cnt"),
        F.coalesce(F.sum("c"), F.lit(0)).alias("v"),
    )
    def r2(col: str) -> F.Column:
        wr = Window.partitionBy("event_type").orderBy(F.col(col).asc())
        wt = Window.partitionBy("event_type", col)
        return (
            2 * F.rank().over(wr) + F.count("*").over(wt) - 1
        ).cast("long")

    ranked = daily.select(
        "event_type", r2("cnt").alias("rx"), r2("v").alias("ry")
    )
    agg = ranked.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.expr("rx * rx")).cast("long").alias("sxx"),
        F.sum(F.expr("ry * ry")).cast("long").alias("syy"),
        F.sum(F.expr("rx * ry")).cast("long").alias("sxy"),
    )
    rho = (
        "CASE WHEN n >= 2 AND n * sxx - sx * sx > 0"
        " AND n * syy - sy * sy > 0 THEN "
        "round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /"
        " sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)"
        " ELSE NULL END"
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr(rho).alias("rho_e6"),
    ).orderBy("event_type")


QUERIES["spearman_rho_daily"] = spearman_rho_daily

ORACLES["spearman_rho_daily"] = """
    WITH daily AS (
        SELECT event_type,
               strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(coalesce(sum(
                   CAST(floor(value * 100 + 0.5) AS BIGINT)), 0)
                   AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT event_type,
               CAST(2 * rank() OVER (PARTITION BY event_type
                        ORDER BY cnt ASC)
                    + count(*) OVER (PARTITION BY event_type, cnt)
                    - 1 AS BIGINT) AS rx,
               CAST(2 * rank() OVER (PARTITION BY event_type
                        ORDER BY v ASC)
                    + count(*) OVER (PARTITION BY event_type, v)
                    - 1 AS BIGINT) AS ry
        FROM daily
    ), agg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(rx) AS BIGINT) AS sx,
               CAST(sum(ry) AS BIGINT) AS sy,
               CAST(sum(rx * rx) AS BIGINT) AS sxx,
               CAST(sum(ry * ry) AS BIGINT) AS syy,
               CAST(sum(rx * ry) AS BIGINT) AS sxy
        FROM ranked GROUP BY 1
    )
    SELECT event_type, n AS n_days,
           CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
                AND n * syy - sy * sy > 0 THEN
               round((CAST(n AS DOUBLE) * sxy
                      - CAST(sx AS DOUBLE) * sy) /
                     sqrt((CAST(n AS DOUBLE) * sxx
                           - CAST(sx AS DOUBLE) * sx)
                          * (CAST(n AS DOUBLE) * syy
                             - CAST(sy AS DOUBLE) * sy)), 6)
           END AS rho_e6
    FROM agg
    ORDER BY event_type
"""

# --------------------------------------------------------- funnel_dropoff


def funnel_dropoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage attrition over the ordered view -> click -> purchase
    funnel: funnel_counts answers 'how many finish'; this answers
    'WHERE do they leave'. Output one row per stage (stage_idx, stage,
    entered, converted, dropped, conv_e6) where entered is the prior
    stage's conversions (stage 1 enters every user), dropped = entered
    - converted, and conv_e6 the half-up micro-rate.

    Determinism: pure conditional counting off each user's first-touch
    timestamps (strict < ordering, funnel_counts' rule); the rate is
    one integer half-up division, NULL when entered = 0 (empty lake).

    Scale shape: one scan map-side combines to the user grain, ONE
    global 6-counter aggregate, and the 3-row stage table explodes
    from a literal array -- no per-stage scans, no self-joins. 100 TB
    cost = the scan."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    agg = firsts.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("long"))
        .cast("long")
        .alias("s1"),
        # coalesce(pred, false): a NULL comparison (either timestamp
        # missing) must count 0, not poison the whole sum -- on a lake
        # where NO user has both stamps, sum(all-NULL) is NULL in Spark
        # while the oracle's CASE ... ELSE 0 yields 0 (r13 ADVICE).
        F.sum(
            F.coalesce(
                F.col("t_view") < F.col("t_click"), F.lit(False)
            ).cast("long")
        )
        .cast("long")
        .alias("s2"),
        F.sum(
            F.coalesce(
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase")),
                F.lit(False),
            ).cast("long")
        )
        .cast("long")
        .alias("s3"),
    )
    stages = agg.select(
        F.explode(
            F.expr(
                "array("
                "named_struct('stage_idx', 1L, 'stage', 'view',"
                " 'entered', n_users, 'converted', s1),"
                "named_struct('stage_idx', 2L, 'stage', 'click',"
                " 'entered', s1, 'converted', s2),"
                "named_struct('stage_idx', 3L, 'stage', 'purchase',"
                " 'entered', s2, 'converted', s3))"
            )
        ).alias("s")
    )
    return stages.select(
        F.col("s.stage_idx").alias("stage_idx"),
        F.col("s.stage").alias("stage"),
        F.col("s.entered").alias("entered"),
        F.col("s.converted").alias("converted"),
        (F.col("s.entered") - F.col("s.converted")).alias("dropped"),
        F.expr(
            "CASE WHEN s.entered > 0 THEN "
            + _halfup("s.converted * 1000000", "s.entered")
            + " END"
        ).alias("conv_e6"),
    ).orderBy("stage_idx")


QUERIES["funnel_dropoff"] = funnel_dropoff

ORACLES["funnel_dropoff"] = f"""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS t_purchase
        FROM events GROUP BY user_id
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS s1,
               CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END)
                   AS BIGINT) AS s2,
               CAST(sum(CASE WHEN t_view < t_click
                             AND t_click < t_purchase
                        THEN 1 ELSE 0 END) AS BIGINT) AS s3
        FROM firsts
    ), stages AS (
        SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
               n_users AS entered, s1 AS converted FROM agg
        UNION ALL
        SELECT 2, 'click', s1, s2 FROM agg
        UNION ALL
        SELECT 3, 'purchase', s2, s3 FROM agg
    )
    SELECT stage_idx, stage, entered, converted,
           entered - converted AS dropped,
           CASE WHEN entered > 0 THEN CAST(
               {_halfup_dk("converted * 1000000", "entered")} AS BIGINT)
           END AS conv_e6
    FROM stages
    ORDER BY stage_idx
"""

# ------------------------------------------------ weighted_reservoir_sample

#: reservoir size per language stratum.
WRS_K = 16
#: key-histogram cells for the cutoff pre-filter (the two-level top-k
#: device: only rows in buckets that can still reach the reservoir
#: survive to the window).
WRS_BUCKETS = 4096
#: public-domain LCG mix (Numerical Recipes constants) over doc_id,
#: reduced mod the Mersenne prime shared with the minhash family.
WRS_A = 1103515245
WRS_B = 12345
#: length tiers -> sampling weight (powers of two so the A-Res key
#: u^(1/w) is exactly comparable through its 4th power).
WRS_TIER_HI = 350  # n_chars >= -> w = 4
WRS_TIER_LO = 220  # n_chars >= -> w = 2
_P = th.P
_P4 = _P**4
_BW = _P4 // WRS_BUCKETS


def _wrs_key(h: str, w: str, *, duck: bool) -> str:
    """The A-Res sort key u^(1/w) carried EXACTLY: with u = h/p and
    weights in {{1,2,4}}, u_a^(1/wa) >= u_b^(1/wb) iff
    h_a^(4/wa) p^(4-4/wa) >= h_b^(4/wb) p^(4-4/wb) (both sides raised
    to the 4th power and scaled by p^4) -- every quantity <= p^4 ~
    2.1e37 fits DECIMAL(38,0)/HUGEINT."""
    d = (
        f"CAST({h} AS HUGEINT)" if duck else f"CAST({h} AS DECIMAL(38,0))"
    )
    return (
        f"CASE WHEN {w} = 4 THEN {d} * {_P**3}"
        f" WHEN {w} = 2 THEN {d} * ({h}) * {_P**2}"
        f" ELSE {d} * ({h}) * ({h}) * ({h}) END"
    )


def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (Efraimidis-Spirakis A-Res): per
    language, the {WRS_K} documents with the largest u^(1/w), where u
    is a replayable LCG uniform from doc_id and w a length-tier weight
    (long docs 4x as likely as short) -- the standard weighted
    subsample a corpus-mixing pipeline draws, with an auditable seed.
    Output (lang, rn, doc_id, w).

    Determinism: u = (({WRS_A} * doc_id + {WRS_B}) mod p + 1)/p is pure
    integer; the race order u^(1/w) is compared EXACTLY through its 4th
    power in DECIMAL(38,0) (weights restricted to powers of two -- see
    _wrs_key), so no libm pow/ln/exp runs on either engine and the
    selected set is bit-identical; ties (impossible unless two docs
    share an LCG value AND a tier) break on doc_id.

    Scale shape: the corpus is NEVER globally sorted -- keys histogram
    into {WRS_BUCKETS} range cells per language (one map-side-combined
    census, <= {WRS_BUCKETS}|langs| rows), a lang-partitioned prefix
    over the census picks the cutoff cell that can still reach rank
    {WRS_K}, and only rows at or above it (~K + one cell's occupancy)
    reach the top-k window. 100 TB cost = TWO key-column scans (the
    census pass, then the cutoff filter -- columnar pruning keeps each
    to (lang, doc_id, n_chars)) + a reservoir-sized shuffle; the
    two-scan trade buys out the full per-lang corpus sort a plain
    top-k window would pay."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.expr(
            f"pmod({WRS_A} * pmod(doc_id, {_P}) + {WRS_B}, {_P}) + 1"
        ).alias("h"),
        F.expr(
            f"CASE WHEN n_chars >= {WRS_TIER_HI} THEN 4"
            f" WHEN n_chars >= {WRS_TIER_LO} THEN 2 ELSE 1 END"
        ).alias("w"),
    )
    keyed = d.withColumn(
        "key", F.expr(_wrs_key("h", "w", duck=False))
    ).withColumn("b", F.expr(f"CAST(key DIV {_BW} AS INT)"))
    census = keyed.groupBy("lang", "b").agg(F.count("*").alias("cnt"))
    wc = Window.partitionBy("lang").orderBy(F.col("b").desc())
    cutoff = (
        census.withColumn("run", F.sum("cnt").over(wc))
        .where(F.col("run") - F.col("cnt") < WRS_K)
        .groupBy("lang")
        .agg(F.min("b").alias("cut_b"))
    )
    survivors = keyed.join(broadcast(cutoff), "lang").where(
        F.col("b") >= F.col("cut_b")
    )
    wk = Window.partitionBy("lang").orderBy(
        F.col("key").desc(), F.col("doc_id").asc()
    )
    return (
        survivors.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= WRS_K)
        .select("lang", F.col("rn").cast("long").alias("rn"), "doc_id", F.col("w").cast("long").alias("w"))
        .orderBy("lang", "rn")
    )


QUERIES["weighted_reservoir_sample"] = weighted_reservoir_sample

ORACLES["weighted_reservoir_sample"] = f"""
    WITH keyed AS (
        SELECT lang, doc_id,
               ((({WRS_A} * ((doc_id % {_P} + {_P}) % {_P}) + {WRS_B})
                 % {_P} + {_P}) % {_P}) + 1 AS h,
               CASE WHEN n_chars >= {WRS_TIER_HI} THEN 4
                    WHEN n_chars >= {WRS_TIER_LO} THEN 2 ELSE 1 END AS w
        FROM documents
    ), ranked AS (
        SELECT lang, doc_id, w,
               row_number() OVER (PARTITION BY lang
                   ORDER BY {_wrs_key("h", "w", duck=True)} DESC,
                            doc_id ASC) AS rn
        FROM keyed
    )
    SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, CAST(w AS BIGINT) AS w
    FROM ranked
    WHERE rn <= {WRS_K}
    ORDER BY lang, rn
"""

# ----------------------------------------------- funnel_time_to_convert


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per funnel transition: among users
    who complete view -> click (and click -> purchase, and the overall
    view -> purchase path, all at first-touch timestamps with the
    strict ordering funnel_counts/funnel_dropoff use), the lag
    distribution -- funnel_dropoff says how many convert, this says how
    LONG conversion takes. Output (transition, n, p50_us, p90_us,
    mean_us): exact microsecond lags, interpolated p50/p90 and the mean
    all rounded half-up to integer microseconds.

    Determinism: lags are exact BIGINT microseconds (unix_micros <->
    epoch_us parity); the percentile bounds use the winsorized_mean
    device (percentile <-> quantile_cont parity, half-up to integer)
    and the mean is one sign-safe half-up division -- no float
    accumulation anywhere.

    Scale shape: one scan map-side combines to the user grain, the
    transition rows explode from a 3-element literal array per user
    (<= 3 rows out per user, most filtered by the conversion
    predicate), one |transitions|-row aggregate. 100 TB cost = the
    scan."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    lags = firsts.select(
        F.explode(
            F.expr(
                "filter(array("
                "named_struct('transition', 'view_to_click', 'lag_us',"
                " CASE WHEN t_view < t_click THEN"
                " unix_micros(t_click) - unix_micros(t_view) END),"
                "named_struct('transition', 'click_to_purchase', 'lag_us',"
                " CASE WHEN t_view < t_click AND t_click < t_purchase THEN"
                " unix_micros(t_purchase) - unix_micros(t_click) END),"
                "named_struct('transition', 'view_to_purchase', 'lag_us',"
                " CASE WHEN t_view < t_click AND t_click < t_purchase THEN"
                " unix_micros(t_purchase) - unix_micros(t_view) END)"
                "), s -> s.lag_us IS NOT NULL)"
            )
        ).alias("s")
    ).select(
        F.col("s.transition").alias("transition"),
        F.col("s.lag_us").alias("lag_us"),
    )
    return (
        lags.groupBy("transition")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.expr(
                "CAST(floor(percentile(lag_us, 0.5) + 0.5) AS BIGINT)"
            ).alias("p50_us"),
            F.expr(
                "CAST(floor(percentile(lag_us, 0.9) + 0.5) AS BIGINT)"
            ).alias("p90_us"),
            F.expr(
                "CAST("
                + _halfup("sum(lag_us)", "count(*)")
                + " AS BIGINT)"
            ).alias("mean_us"),
        )
        .orderBy("transition")
    )


QUERIES["funnel_time_to_convert"] = funnel_time_to_convert

ORACLES["funnel_time_to_convert"] = f"""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS t_purchase
        FROM events GROUP BY user_id
    ), lags AS (
        SELECT 'view_to_click' AS transition,
               epoch_us(t_click) - epoch_us(t_view) AS lag_us
        FROM firsts WHERE t_view < t_click
        UNION ALL
        SELECT 'click_to_purchase',
               epoch_us(t_purchase) - epoch_us(t_click)
        FROM firsts WHERE t_view < t_click AND t_click < t_purchase
        UNION ALL
        SELECT 'view_to_purchase',
               epoch_us(t_purchase) - epoch_us(t_view)
        FROM firsts WHERE t_view < t_click AND t_click < t_purchase
    )
    SELECT transition, CAST(count(*) AS BIGINT) AS n,
           CAST(floor(quantile_cont(lag_us, 0.5) + 0.5) AS BIGINT)
               AS p50_us,
           CAST(floor(quantile_cont(lag_us, 0.9) + 0.5) AS BIGINT)
               AS p90_us,
           CAST({_halfup_dk("sum(lag_us)", "count(*)")} AS BIGINT)
               AS mean_us
    FROM lags
    GROUP BY transition
    ORDER BY transition
"""

# --------------------------------------------------- page_hinkley_drift

#: Page-Hinkley tolerated-drift term delta, in 1e-4 value units. Zero
#: makes the statistic the pure mean-shift detector; report consumers
#: threshold max_ph_e4 themselves (lambda is a policy, not a fact).
PH_DELTA_E4 = 0


def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift statistic over each type's daily value
    series: m_t = sum_{{s<=t}} (x_s - mu_s - delta) with mu_s the
    RUNNING mean (unlike cusum_changepoint_daily's fixed reference
    window), M_t = min m, and PH_t = m_t - M_t; the report is the peak
    PH and the day it first peaks -- the classic sequential mean-shift
    monitor (Page 1954, Hinkley 1971). Output (event_type, n_days,
    max_ph_e4, peak_day).

    Determinism: the running mean is QUANTIZED to half-up integer e4
    units each day (mu_s = round(S_s/s), the pmod device), so m_t, M_t
    and PH_t are exact BIGINTs on both engines -- the documented
    quantization (<= 0.5e-4/day) replaces the textbook's float
    recursion; peak_day is the MIN day attaining the max (explicit
    tie-break, not an arbitrary max_by). All-NULL lakes coalesce to a
    constant-zero series: PH = 0 everywhere, peak_day = first day.

    Scale shape: ONE scan to the (type, day) grain; three
    type-partitioned running windows over calendar-bounded frames;
    |types| report rows. 100 TB cost = the scan."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.floor(F.col("value") * 10000 + 0.5).cast("long").alias("v"),
    )
    daily = e.groupBy("event_type", "day").agg(
        F.coalesce(F.sum("v"), F.lit(0)).alias("v_e4")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("day").asc())
    cur = (
        daily.withColumn("t", F.row_number().over(w))
        .withColumn("s_t", F.sum("v_e4").over(w))
        .withColumn("mu", F.expr(_halfup("s_t", "t")))
        .withColumn(
            "dev", F.col("v_e4") - F.col("mu") - F.lit(PH_DELTA_E4)
        )
        .withColumn("m", F.sum("dev").over(w))
        .withColumn("mmin", F.min("m").over(w))
        .withColumn("ph", F.col("m") - F.col("mmin"))
    )
    peak = cur.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("ph").cast("long").alias("max_ph_e4"),
    )
    return (
        cur.join(broadcast(peak), "event_type")
        .where(F.col("ph") == F.col("max_ph_e4"))
        .groupBy("event_type", "n_days", "max_ph_e4")
        .agg(F.min("day").alias("peak_day"))
        .select("event_type", "n_days", "max_ph_e4", "peak_day")
        .orderBy("event_type")
    )


QUERIES["page_hinkley_drift"] = page_hinkley_drift

ORACLES["page_hinkley_drift"] = f"""
    WITH daily AS (
        SELECT event_type,
               strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(coalesce(sum(
                   CAST(floor(value * 10000 + 0.5) AS BIGINT)), 0)
                   AS BIGINT) AS v_e4
        FROM events GROUP BY 1, 2
    ), run AS (
        SELECT event_type, day, v_e4,
               row_number() OVER w AS t,
               sum(v_e4) OVER w AS s_t
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)
    ), dev AS (
        SELECT event_type, day, v_e4,
               v_e4 - {_halfup_dk("s_t", "t")} - {PH_DELTA_E4} AS d
        FROM run
    ), m AS (
        SELECT event_type, day,
               sum(d) OVER (PARTITION BY event_type
                            ORDER BY day ASC) AS m
        FROM dev
    ), ph AS (
        SELECT event_type, day,
               m - min(m) OVER (PARTITION BY event_type
                                ORDER BY day ASC) AS ph
        FROM m
    ), peak AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(max(ph) AS BIGINT) AS max_ph_e4
        FROM ph GROUP BY 1
    )
    SELECT p.event_type, p.n_days, p.max_ph_e4,
           min(h.day) AS peak_day
    FROM peak p JOIN ph h
      ON h.event_type = p.event_type AND h.ph = p.max_ph_e4
    GROUP BY 1, 2, 3
    ORDER BY p.event_type
"""

# ------------------------------------------------ q2_min_cost_supplier

#: part slice for the Q2 shape (selective but non-empty at sf0.001).
Q2_MIN_SIZE = 40
Q2_REGION = "EUROPE"


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape on this schema (no partsupp table -- lineitem is
    the supply relation, the q11/q20 convention): for every part of
    size >= {Q2_MIN_SIZE}, the {Q2_REGION} supplier(s) whose unit cost
    equals the MINIMUM unit cost any {Q2_REGION} supplier quotes for
    that part -- the classic correlated-min subquery, expressed as one
    per-part window min instead of a rescan. Output (p_partkey,
    p_brand, s_name, n_name, acctbal_cents, cost_e4), Q2's ordering
    (acctbal DESC then name keys) made total.

    Determinism: unit cost is the half-up integer e4 unit price
    round(extendedprice/quantity) -- exact on both engines via the pmod
    device -- so the correlated min and the equality against it are
    integer comparisons, never float; acctbal reports as exact half-up
    cents.

    Scale shape: suppliers filter through two BROADCAST dims (nation,
    region); the (part, supp) cost grain is one map-side-combinable
    groupBy of the lineitem scan; the correlated min is one
    part-partitioned window over that grain (q20's device -- same
    shuffle produces the pair and the threshold); the part attributes
    join at the part grain with AQE free to broadcast the filtered
    side. 100 TB cost = the lineitem scan + one pair-grain shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_size") >= Q2_MIN_SIZE
    )
    geo = (
        s.join(
            broadcast(n), s.s_nationkey == n.n_nationkey
        )
        .join(
            broadcast(r.where(F.col("r_name") == Q2_REGION)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name", "s_acctbal")
    )
    unit = F.expr(
        _halfup(
            "CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)",
            "CAST(l_quantity AS BIGINT)",
        )
    )
    cost = (
        l.select("l_partkey", "l_suppkey", unit.alias("u"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("u").cast("long").alias("cost_e4"))
    )
    w = Window.partitionBy("l_partkey")
    best = (
        cost.join(geo, cost.l_suppkey == geo.s_suppkey)
        .withColumn("__min", F.min("cost_e4").over(w))
        .where(F.col("cost_e4") == F.col("__min"))
    )
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            F.expr(
                "CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)"
            ).alias("acctbal_cents"),
            "cost_e4",
        )
        .orderBy(
            F.col("acctbal_cents").desc(),
            "n_name",
            "s_name",
            "p_partkey",
        )
    )


QUERIES["q2_min_cost_supplier"] = q2_min_cost_supplier

ORACLES["q2_min_cost_supplier"] = f"""
    WITH geo AS (
        SELECT s_suppkey, s_name, n_name, s_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{Q2_REGION}'
    ), cost AS (
        SELECT l_partkey, l_suppkey,
               CAST(min({_halfup_dk(
                   "CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)",
                   "CAST(l_quantity AS BIGINT)")}) AS BIGINT) AS cost_e4
        FROM lineitem GROUP BY 1, 2
    ), best AS (
        SELECT c.l_partkey, c.l_suppkey, c.cost_e4,
               g.s_name, g.n_name, g.s_acctbal,
               min(c.cost_e4) OVER (PARTITION BY c.l_partkey) AS mn
        FROM cost c JOIN geo g ON c.l_suppkey = g.s_suppkey
    )
    SELECT p.p_partkey, p.p_brand, b.s_name, b.n_name,
           CAST(floor(b.s_acctbal * 100 + 0.5) AS BIGINT)
               AS acctbal_cents,
           b.cost_e4
    FROM best b JOIN part p ON b.l_partkey = p.p_partkey
    WHERE b.cost_e4 = b.mn AND p.p_size >= {Q2_MIN_SIZE}
    ORDER BY acctbal_cents DESC, b.n_name, b.s_name, p.p_partkey
"""

# ---------------------------------------------------- association_rules

#: minimum co-occurrence count for a rule (support floor: a pair seen
#: once is an anecdote, not a rule).
AR_MIN_PAIR = 2


def _basket_census(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(l, pc_all): the distinct (order, part) basket projection and
    the UNFILTERED directed pair census (ant, cons, n_pair) -- both
    MATERIALIZED (functions/cache.py lifecycle). association_rules,
    rule_conviction and rule_ancestor_prune all derive from exactly
    these two frames (the min-support rule table is a filter of
    pc_all; ancestor pruning's part-consequent counts ARE pc_all; the
    per-part and basket-total counts are cheap aggregates of the
    cached l), so the within-order pair explosion and the lineitem
    distinct shuffle run ONCE per session instead of once per key and
    per bench rep (r16 -- the docstring claim that CacheManager would
    share these was aspirational before: nothing ever persisted them;
    opt guide 5).

    Footprint (r16 ADVICE): pc_all is the UNFILTERED directed census,
    dominated by singleton pairs (n_pair = 1) that association_rules /
    rule_conviction immediately filter away -- only
    rule_ancestor_prune's ancestor counts need the unfiltered frame.
    The default MEMORY_AND_DISK level spills rather than OOMs, and the
    'rules' family is released right after its last declared consumer
    (CACHE_FAMILIES, bench.release_schedule), so the oversized census
    is resident only while the three rule keys run."""
    from abr_etl_spark.functions.cache import materialize_result

    l = materialize_result(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
        family="rules",
    )
    a = l.select("l_orderkey", F.col("l_partkey").alias("ant"))
    b = l.select("l_orderkey", F.col("l_partkey").alias("cons"))
    pc_all = materialize_result(
        a.join(b, "l_orderkey")
        .where(F.col("ant") != F.col("cons"))
        .groupBy("ant", "cons")
        .agg(F.count("*").cast("long").alias("n_pair")),
        family="rules",
    )
    return l, pc_all


def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over basket_pairs' co-occurrence vocabulary:
    every directed rule ant -> cons from part pairs bought together in
    >= {AR_MIN_PAIR} orders, with the three classic strengths --
    support (pair share of baskets), confidence (pair share of the
    antecedent's baskets) and lift (confidence over the consequent's
    base rate). Output (ant, cons, n_pair, n_ant, n_cons, supp_e6,
    conf_e6, lift_e6) -- the recommendations table basket_pairs' raw
    counts feed.

    Determinism: all three strengths are exact integer rationals in
    half-up e6 units (lift cross-multiplies N*n_pair against
    n_ant*n_cons in DECIMAL(38,0) -- ~1e9 baskets x 1e6-basket parts
    stays < 1e27); both directions of a pair emit explicitly, so no
    arbitrary orientation survives.

    Scale shape: the pair census is basket_pairs' within-order
    self-join (quadratic in BASKET SIZE only, <= 21 pairs per TPC-H
    order, map-side combined); per-part basket counts are one more
    combine of the SAME distinct (order, part) projection; the rule
    table joins pair rows to two |parts|-grain count frames on part
    keys (AQE broadcasts the smaller side) plus one 1-row basket-total
    broadcast. 100 TB cost = the lineitem scan + the pair-vocabulary
    shuffle -- paid once per session via the materialized
    _basket_census shared with the rule_* keys (r16)."""
    l, pc_all = _basket_census(spark, sf_dir)
    pairs = pc_all.where(F.col("n_pair") >= AR_MIN_PAIR)
    per_part = l.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_part")
    )
    tot = l.select("l_orderkey").distinct().agg(
        F.count("*").cast("long").alias("n_baskets")
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    return (
        pairs.join(
            per_part.select(
                F.col("l_partkey").alias("ant"),
                F.col("n_part").alias("n_ant"),
            ),
            "ant",
        )
        .join(
            per_part.select(
                F.col("l_partkey").alias("cons"),
                F.col("n_part").alias("n_cons"),
            ),
            "cons",
        )
        .crossJoin(broadcast(tot))
        .select(
            "ant",
            "cons",
            "n_pair",
            "n_ant",
            "n_cons",
            F.expr(
                "CAST("
                + _halfup("n_pair * 1000000", "n_baskets")
                + " AS BIGINT)"
            ).alias("supp_e6"),
            F.expr(
                "CAST("
                + _halfup("n_pair * 1000000", "n_ant")
                + " AS BIGINT)"
            ).alias("conf_e6"),
            F.expr(
                "CAST("
                + _halfup(
                    dec.format("n_baskets")
                    + " * n_pair * 1000000",
                    dec.format("n_ant") + " * n_cons",
                )
                + " AS BIGINT)"
            ).alias("lift_e6"),
        )
        .orderBy("ant", "cons")
    )


QUERIES["association_rules"] = association_rules

_AR_HUG = "CAST({} AS HUGEINT)"
ORACLES["association_rules"] = f"""
    WITH l AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS ant, b.l_partkey AS cons,
               CAST(count(*) AS BIGINT) AS n_pair
        FROM l a JOIN l b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {AR_MIN_PAIR}
    ), per_part AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part
        FROM l GROUP BY 1
    ), tot AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
        FROM l
    )
    SELECT p.ant, p.cons, p.n_pair,
           pa.n_part AS n_ant, pc.n_part AS n_cons,
           CAST({_halfup_dk("p.n_pair * 1000000", "n_baskets")}
               AS BIGINT) AS supp_e6,
           CAST({_halfup_dk("p.n_pair * 1000000", "pa.n_part")}
               AS BIGINT) AS conf_e6,
           CAST({_halfup_dk(
               _AR_HUG.format("n_baskets") + " * p.n_pair * 1000000",
               _AR_HUG.format("pa.n_part") + " * pc.n_part")}
               AS BIGINT) AS lift_e6
    FROM pairs p
    JOIN per_part pa ON p.ant = pa.l_partkey
    JOIN per_part pc ON p.cons = pc.l_partkey
    CROSS JOIN tot
    ORDER BY p.ant, p.cons
"""
