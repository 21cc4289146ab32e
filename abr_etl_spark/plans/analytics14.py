"""Round-14 analytics: the five §7.19 operator candidates.

- ``markov_attribution``: first-order Markov-chain (removal-effect)
  attribution over gap-based session funnels -- the credit model that
  replaces last-touch heuristics; the 3-state funnel's absorption
  probabilities are CLOSED-FORM integer-count rationals, so no
  iteration and no matrix inverse on either engine.
- ``sprt_conversion_monitor``: Wald's Sequential Probability Ratio
  Test over the daily conversion series -- the sequential monitor that
  answers "stop the experiment yet?" day by day.
- ``holt_winters_additive``: the additive-seasonality twin of
  holt_winters_seasonal (subtract the DOW index instead of dividing)
  -- degrades gracefully when a DOW's value mass is zero or negative,
  where the multiplicative index is undefined.
- ``rule_conviction``: conviction + leverage columns over
  association_rules' pair census (two more exact integer rationals).
- ``rule_ancestor_prune``: 2-item-antecedent rules kept only when they
  BEAT both 1-item ancestors' confidence (exact cross-multiplied
  comparison) -- the classic redundant-rule filter.
- ``stratified_reservoir_alloc``: a GLOBAL weighted sample budget
  water-filled across (lang, source) strata by largest-remainder
  apportionment, then drawn per stratum with the integer 4th-power
  A-Res race (weighted_reservoir_sample's device). Batch top-k by
  u^(1/w) draws the same sample A-ExpJ would (the exponential-jump
  device is the STREAMING evaluation of the same order; in batch the
  race key is evaluated once per row either way).

Reference parity: downstream-of-the-weekly-delta analytics
(SURVEY.md §2.B rationale); the attribution/SPRT/sampler keys are the
training-data-pipeline asks (channel credit, sequential quality
monitoring, auditable stratified subsampling).

Scale notes: markov's windows are user/session-partitioned and its
report is ONE 10-counter global aggregate; sprt's single-partition
window reads the day-grain series (calendar-bounded, whitelisted);
the HW twin shares holt_winters_seasonal's exact kernel and exchange
shape; the rule keys aggregate within-basket pair/triple explosions
(quadratic/cubic in BASKET SIZE only, <= 7 items per TPC-H order);
the sampler's only global window reads the strata census
(|lang x source| rows, whitelisted) -- the corpus itself is never
globally sorted (bucket-census cutoff, the WRS device).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from abr_etl_spark.plans.analytics8 import SESSION_GAP_S
from abr_etl_spark.plans.analytics12 import (
    HW_D1,
    HW_D2,
    HW_W,
    _hw_round_e4,
    _hw_round_e4_duck,
)
from abr_etl_spark.plans.analytics13 import (
    _DOW_ANCHOR,
    _P,
    AR_MIN_PAIR,
    WRS_A,
    WRS_B,
    WRS_TIER_HI,
    WRS_TIER_LO,
    _BW,
    _halfup,
    _halfup_dk,
    _wrs_key,
)
from abr_etl_spark.functions import markov
from abr_etl_spark.sources.lake import load_table

QUERIES: dict = {}
ORACLES: dict = {}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "rule_conviction": ("rules",),
    "rule_ancestor_prune": ("rules",),
    "stratified_reservoir_alloc": ("strat_alloc",),
}

# ----------------------------------------------------- markov_attribution

#: the funnel chain's transient channel states (A, B) and the absorbing
#: conversion state; other event types are transparent to the chain.
MK_CHANNEL_A = "view"
MK_CHANNEL_B = "click"
MK_CONV = "purchase"

# Pinned-text scalar expressions over the 10 transition counters
# (n_sa n_sb n_sc | n_ab n_ac n_an | n_ba n_bc n_bn, plus derived
# n_a n_b n_s), shared VERBATIM by the Spark plan and the DuckDB
# oracle so every IEEE operation matches bit-for-bit. Counts are exact
# BIGINTs; all products run in DOUBLE (each count < 2^53 up to ~9e15
# transitions, far past 100 TB -- the documented headroom; the
# closed-form cubic products would wrap DECIMAL(38,0) at planet scale,
# doubles never raise and both engines share the rounding).
# The effective out-masses make the closed form TOTAL: an UNUSED
# channel (n_x = 0, so every counter touching it is 0 too) substitutes
# a unit out-mass -- its rows vanish from every product, the
# determinant stays positive (D = na_eff*nb_eff - n_ab*n_ba >= 1 when
# a channel is unused; > 0 for terminating chains otherwise), and the
# formulas reduce to the single-channel / no-channel chain exactly
# (e.g. n_b = 0 gives u_A = n_ac/n_a, removal(B) = 0).
# Since r15 the texts are GENERATED by the general k-channel Cramer
# unroller (functions/markov.py, the r14 verdict's generalization) at
# k = 2 with this key's legacy symbol names: every generated string is
# byte-identical to the r14 hand-written constant except __bnum's two
# commuted DOUBLE factors (2-operand IEEE multiply is commutative, so
# values are bit-for-bit unchanged) -- both pinned by
# tests/test_markov_general.py against the frozen r14 literals.
# The survival ratio u'(-X)/u stays total via the effective masses (an
# unused other-channel reduces V_X D / (n_other U) to (n_SC/n_S)/u).
_MK_NAMES = markov.legacy_two_channel_names()
_MK_X = markov.mk_attr_exprs(_MK_NAMES)
_MK_D = _MK_X["d"]
_MK_ANUM, _MK_BNUM = _MK_X["num"]
_MK_U = _MK_X["u"]
_MK_VA, _MK_VB = _MK_X["v"]
_MK_REMOVAL_A, _MK_REMOVAL_B = _MK_X["removal"]
_MK_CREDIT_A, _MK_CREDIT_B = _MK_X["credit"]
_MK_P_CONV = _MK_X["p_conv"]


def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov-chain removal-effect attribution over the
    {MK_CHANNEL_A}/{MK_CHANNEL_B} -> {MK_CONV} funnel: build each
    gap-based session's state chain (START -> collapsed event types,
    truncated at the first {MK_CONV} = absorbing CONV, terminal NULL
    otherwise), estimate the transition matrix from counts, and credit
    each channel by its REMOVAL EFFECT -- how much the chain's
    conversion probability drops when that channel is deleted
    (Anderl et al.'s attribution model). Output one row per channel
    (channel, n_from, removal_e6, credit_e6, p_conv_e6).

    Determinism: with two transient channels the absorption
    probability is CLOSED FORM -- u_A = (n_AC n_B + n_AB n_BC) / D,
    u_B symmetric, D = n_A n_B - n_AB n_BA (the cycle determinant,
    positive for terminating chains), with an UNUSED channel
    substituting a unit out-mass (all its counters are zero, so it
    vanishes from every product and the form reduces to the
    single-channel chain exactly -- the formula is total), and
    u_START = U / (n_S D) -- so both engines evaluate the SAME
    pinned-text expression over ten exact BIGINT counters; products
    run in DOUBLE (counts stay exact past 100 TB; the e6 half-up
    floor(x + 0.5) has ~1e-5 slack over the worst double error).
    Removal re-solves the chain with the channel's column zeroed:
    u'(-A) = (n_SB n_BC + n_SC n_B) / (n_S n_B). Chain construction
    is order-pinned by (ts, event_id): sessionize (gap >
    {SESSION_GAP_S}s), truncate after the first {MK_CONV}, collapse
    consecutive duplicate states (no self-loops), then count
    (prev -> state) pairs plus one terminal (state -> NULL) per
    non-converting session. Degenerate lakes report NULL
    removal/credit (no conversions or no channel transitions), never
    raise.

    Scale shape: one events scan, three user/session-partitioned
    windows over the funnel-filtered rows, then ONE global 10-counter
    conditional aggregate (map-side combinable) and a 2-row literal
    explode. No joins, no corpus-sized shuffle. 100 TB cost = the
    scan.

    Reference parity: SURVEY.md §2.B (downstream-of-delta analytics);
    composes session_paths_topk's sessionization (analytics8.py)."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(MK_CHANNEL_A, MK_CHANNEL_B, MK_CONV)
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    base = e.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("st"),
        F.col("ts").cast("long").alias("ts_s"),
    )
    sess = (
        base.withColumn("prev_ts", F.lag("ts_s").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts_s") - F.col("prev_ts") > SESSION_GAP_S),
                1,
            ).otherwise(0),
        )
        .withColumn("sess", F.sum("brk").over(w))
    )
    ws = Window.partitionBy("user_id", "sess").orderBy("ts_s", "event_id")
    is_conv = (F.col("st") == MK_CONV).cast("int")
    trunc = sess.withColumn("p_cum", F.sum(is_conv).over(ws)).where(
        F.col("p_cum") - is_conv == 0
    )
    coll = trunc.withColumn("prev_st", F.lag("st").over(ws)).where(
        F.col("prev_st").isNull() | (F.col("prev_st") != F.col("st"))
    )
    seq = coll.withColumn(
        "frm", F.coalesce(F.lag("st").over(ws), F.lit("START"))
    ).withColumn("nxt", F.lead("st").over(ws))
    # single-pass emission: each row yields its (frm -> st) transition
    # plus, when it terminates a non-converting session, (st -> NULL)
    # -- an explode, not a union, so the session frame (and the events
    # scan under it) is computed ONCE.
    trans = seq.select(
        F.explode(
            F.expr(
                "filter(array("
                "named_struct('frm', frm, 'tos', st),"
                "named_struct('frm', st, 'tos',"
                f" CASE WHEN nxt IS NULL AND st <> '{MK_CONV}'"
                " THEN 'NULL' END)"
                "), x -> x.tos IS NOT NULL)"
            )
        ).alias("t")
    ).select(
        F.col("t.frm").alias("frm"), F.col("t.tos").alias("tos")
    )

    def cnt(frm: str, tos: str) -> F.Column:
        return F.coalesce(
            F.sum(
                ((F.col("frm") == frm) & (F.col("tos") == tos)).cast(
                    "long"
                )
            ),
            F.lit(0),
        ).cast("long")

    counts = trans.agg(
        cnt("START", MK_CHANNEL_A).alias("n_sa"),
        cnt("START", MK_CHANNEL_B).alias("n_sb"),
        cnt("START", MK_CONV).alias("n_sc"),
        cnt(MK_CHANNEL_A, MK_CHANNEL_B).alias("n_ab"),
        cnt(MK_CHANNEL_A, MK_CONV).alias("n_ac"),
        cnt(MK_CHANNEL_A, "NULL").alias("n_an"),
        cnt(MK_CHANNEL_B, MK_CHANNEL_A).alias("n_ba"),
        cnt(MK_CHANNEL_B, MK_CONV).alias("n_bc"),
        cnt(MK_CHANNEL_B, "NULL").alias("n_bn"),
    )
    mid = counts.select(
        "*",
        F.expr("n_ab + n_ac + n_an").alias("n_a"),
        F.expr("n_ba + n_bc + n_bn").alias("n_b"),
        F.expr("n_sa + n_sb + n_sc").alias("n_s"),
    ).select(
        "*",
        F.expr(
            "CASE WHEN n_a > 0 THEN n_a ELSE 1 END"
        ).alias("na_eff"),
        F.expr(
            "CASE WHEN n_b > 0 THEN n_b ELSE 1 END"
        ).alias("nb_eff"),
    ).select(
        "*",
        F.expr(_MK_D).alias("__d"),
        F.expr(_MK_ANUM).alias("__anum"),
        F.expr(_MK_BNUM).alias("__bnum"),
        F.expr(_MK_VA).alias("__va"),
        F.expr(_MK_VB).alias("__vb"),
    ).select("*", F.expr(_MK_U).alias("__u"))
    rep = mid.select(
        F.col("n_a"),
        F.col("n_b"),
        F.expr(_MK_REMOVAL_A).alias("ra"),
        F.expr(_MK_REMOVAL_B).alias("rb"),
        F.expr(_MK_CREDIT_A).alias("ca"),
        F.expr(_MK_CREDIT_B).alias("cb"),
        F.expr(_MK_P_CONV).alias("pc"),
    )
    return (
        rep.select(
            F.explode(
                F.expr(
                    f"array(named_struct('channel', '{MK_CHANNEL_A}',"
                    " 'n_from', n_a, 'removal_e6', ra,"
                    " 'credit_e6', ca, 'p_conv_e6', pc),"
                    f" named_struct('channel', '{MK_CHANNEL_B}',"
                    " 'n_from', n_b, 'removal_e6', rb,"
                    " 'credit_e6', cb, 'p_conv_e6', pc))"
                )
            ).alias("r")
        )
        .select(
            F.col("r.channel").alias("channel"),
            F.col("r.n_from").alias("n_from"),
            F.col("r.removal_e6").alias("removal_e6"),
            F.col("r.credit_e6").alias("credit_e6"),
            F.col("r.p_conv_e6").alias("p_conv_e6"),
        )
        .orderBy("channel")
    )


QUERIES["markov_attribution"] = markov_attribution

ORACLES["markov_attribution"] = f"""
    WITH f AS (
        SELECT user_id, event_id, event_type AS st,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events
        WHERE event_type IN
            ('{MK_CHANNEL_A}', '{MK_CHANNEL_B}', '{MK_CONV}')
    ), flagged AS (
        SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
                            OR ts_s - lag(ts_s) OVER w > {SESSION_GAP_S}
                       THEN 1 ELSE 0 END AS brk
        FROM f
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
    ), sess AS (
        SELECT *, sum(brk) OVER (PARTITION BY user_id
            ORDER BY ts_s, event_id ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS sess
        FROM flagged
    ), trunc AS (
        SELECT * FROM (
            SELECT *, sum(CASE WHEN st = '{MK_CONV}' THEN 1 ELSE 0 END)
                       OVER ws
                      - CASE WHEN st = '{MK_CONV}' THEN 1 ELSE 0 END
                      AS p_before
            FROM sess
            WINDOW ws AS (PARTITION BY user_id, sess
                ORDER BY ts_s, event_id ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW)
        ) WHERE p_before = 0
    ), coll AS (
        SELECT * FROM (
            SELECT *, lag(st) OVER (PARTITION BY user_id, sess
                ORDER BY ts_s, event_id) AS prev_st
            FROM trunc
        ) WHERE prev_st IS NULL OR prev_st <> st
    ), seq AS (
        SELECT *, coalesce(lag(st) OVER ws2, 'START') AS frm,
               lead(st) OVER ws2 AS nxt
        FROM coll
        WINDOW ws2 AS (PARTITION BY user_id, sess
            ORDER BY ts_s, event_id)
    ), trans AS (
        SELECT frm, st AS tos FROM seq
        UNION ALL
        SELECT st AS frm, 'NULL' AS tos FROM seq
        WHERE nxt IS NULL AND st <> '{MK_CONV}'
    ), counts AS (
        SELECT
          CAST(coalesce(sum(CASE WHEN frm = 'START' AND tos =
            '{MK_CHANNEL_A}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_sa,
          CAST(coalesce(sum(CASE WHEN frm = 'START' AND tos =
            '{MK_CHANNEL_B}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_sb,
          CAST(coalesce(sum(CASE WHEN frm = 'START' AND tos =
            '{MK_CONV}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_sc,
          CAST(coalesce(sum(CASE WHEN frm = '{MK_CHANNEL_A}' AND tos =
            '{MK_CHANNEL_B}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ab,
          CAST(coalesce(sum(CASE WHEN frm = '{MK_CHANNEL_A}' AND tos =
            '{MK_CONV}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ac,
          CAST(coalesce(sum(CASE WHEN frm = '{MK_CHANNEL_A}' AND tos =
            'NULL' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_an,
          CAST(coalesce(sum(CASE WHEN frm = '{MK_CHANNEL_B}' AND tos =
            '{MK_CHANNEL_A}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ba,
          CAST(coalesce(sum(CASE WHEN frm = '{MK_CHANNEL_B}' AND tos =
            '{MK_CONV}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bc,
          CAST(coalesce(sum(CASE WHEN frm = '{MK_CHANNEL_B}' AND tos =
            'NULL' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bn
        FROM trans
    ), mid00 AS (
        SELECT *, n_ab + n_ac + n_an AS n_a,
               n_ba + n_bc + n_bn AS n_b,
               n_sa + n_sb + n_sc AS n_s
        FROM counts
    ), mid0 AS (
        SELECT *, CASE WHEN n_a > 0 THEN n_a ELSE 1 END AS na_eff,
               CASE WHEN n_b > 0 THEN n_b ELSE 1 END AS nb_eff
        FROM mid00
    ), mid1 AS (
        SELECT *, {_MK_D} AS __d, {_MK_ANUM} AS __anum,
               {_MK_BNUM} AS __bnum, {_MK_VA} AS __va, {_MK_VB} AS __vb
        FROM mid0
    ), mid AS (
        SELECT *, {_MK_U} AS __u FROM mid1
    ), rep AS (
        SELECT n_a, n_b,
               {_MK_REMOVAL_A} AS ra, {_MK_REMOVAL_B} AS rb,
               {_MK_CREDIT_A} AS ca, {_MK_CREDIT_B} AS cb,
               {_MK_P_CONV} AS pc
        FROM mid
    )
    SELECT '{MK_CHANNEL_A}' AS channel, n_a AS n_from,
           ra AS removal_e6, ca AS credit_e6, pc AS p_conv_e6
    FROM rep
    UNION ALL
    SELECT '{MK_CHANNEL_B}', n_b, rb, cb, pc FROM rep
    ORDER BY channel
"""

# ------------------------------------------------ sprt_conversion_monitor

#: Wald hypotheses over the daily conversion rate (purchases per event)
#: in e6 units, straddling the corpus's ~0.20 base rate so the monitor
#: exercises both drift directions; alpha = beta = 0.05 gives the
#: symmetric decision thresholds +/- ln(19) (pinned as an e6 integer so
#: the crossing comparison is integer-exact on both engines).
SPRT_P0_E6 = 180000
SPRT_P1_E6 = 220000
SPRT_THRESH_E6 = 2944439  # round(ln(0.95 / 0.05) * 1e6)

#: pinned-text per-observation log-LR weights: ln of two exact integer
#: ratios -- the zipf_tail two-scalar ln device (the ONLY libm calls).
_SPRT_W1 = (
    f"ln(CAST({SPRT_P1_E6} AS DOUBLE) / CAST({SPRT_P0_E6} AS DOUBLE))"
)
_SPRT_W2 = (
    f"ln(CAST({1000000 - SPRT_P1_E6} AS DOUBLE)"
    f" / CAST({1000000 - SPRT_P0_E6} AS DOUBLE))"
)
_SPRT_LLR = (
    f"CAST(floor((CAST(k_cum AS DOUBLE) * {_SPRT_W1}"
    f" + CAST(n_cum - k_cum AS DOUBLE) * {_SPRT_W2})"
    " * 1000000 + 0.5) AS BIGINT)"
)
_SPRT_DECISION = (
    f"CASE WHEN llr_e6 >= {SPRT_THRESH_E6} THEN 'accept_h1'"
    f" WHEN llr_e6 <= {-SPRT_THRESH_E6} THEN 'accept_h0'"
    " ELSE 'continue' END"
)


def sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over the daily
    conversion series (successes = purchase events, trials = all
    events): after each day, the cumulative log-likelihood ratio of
    H1: p = {SPRT_P1_E6}e-6 against H0: p = {SPRT_P0_E6}e-6, and the
    day's SPRT verdict at alpha = beta = 0.05 -- accept_h1 when
    LLR >= ln(19), accept_h0 when <= -ln(19), else continue. Output
    (day, n_cum, k_cum, llr_e6, decision), one row per observed day;
    a consumer STOPS at the first non-continue day (the report labels
    every day so the full trajectory is auditable).

    Determinism: n_cum/k_cum are exact BIGINT running sums; the LLR is
    the pinned-text double K*ln(p1/p0) + (N-K)*ln(q1/q0) where both ln
    arguments are ratios of integer CONSTANTS (the two-scalar ln
    device) -- a 1-ulp libm divergence scales to < 1e-2 e6-units even
    at K ~ 1e8, far under the 0.5 half-up slack; the decision compares
    the ROUNDED e6 integer against an integer threshold, so the label
    is exact given the LLR. Empty lakes return zero rows.

    Scale shape: one events scan map-side combines to the day grain;
    the single-partition running window reads the DAY-GRAIN series
    (calendar-bounded -- whitelisted in BOUNDED_GLOBAL_WINDOW_KEYS);
    |days| report rows. 100 TB cost = the scan.

    Reference parity: SURVEY.md §2.B; the sequential-monitoring twin
    of page_hinkley_drift (analytics13.py) on the same daily frame."""
    e = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        (F.col("event_type") == "purchase").cast("long").alias("k"),
    )
    daily = e.groupBy("day").agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("kk"),
    )
    # single-partition window is BOUNDED: input is the day-grain series
    w = Window.orderBy(F.col("day").asc())
    return (
        daily.withColumn("n_cum", F.sum("n").over(w).cast("long"))
        .withColumn("k_cum", F.sum("kk").over(w).cast("long"))
        .withColumn("llr_e6", F.expr(_SPRT_LLR))
        .withColumn("decision", F.expr(_SPRT_DECISION))
        .select("day", "n_cum", "k_cum", "llr_e6", "decision")
        .orderBy("day")
    )


QUERIES["sprt_conversion_monitor"] = sprt_conversion_monitor

ORACLES["sprt_conversion_monitor"] = f"""
    WITH daily AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS kk
        FROM events GROUP BY 1
    ), cum AS (
        SELECT day,
               CAST(sum(n) OVER w AS BIGINT) AS n_cum,
               CAST(sum(kk) OVER w AS BIGINT) AS k_cum
        FROM daily
        WINDOW w AS (ORDER BY day ASC)
    ), rep AS (
        SELECT day, n_cum, k_cum, {_SPRT_LLR} AS llr_e6 FROM cum
    )
    SELECT day, n_cum, k_cum, llr_e6, {_SPRT_DECISION} AS decision
    FROM rep
    ORDER BY day
"""

# ------------------------------------------------- holt_winters_additive


def holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive-seasonality Holt-Winters: holt_winters_seasonal's
    pipeline with the day-of-week index SUBTRACTED instead of divided
    -- idx(d) = mean value on DOW d minus the overall mean (day-grain
    cells, so weekday coverage weighs each cell), sa = v - idx,
    Brown's double smooth of the adjusted series (the shared
    closed-form integer kernel), and the one-step forecast RE-INFLATED
    by ADDING the next calendar day's index. Output (event_type, day,
    v_e4, idx_e4, sa_e4, sf_e4) -- all half-up fixed-point BIGINT.
    The additive twin matters when a DOW's value mass is zero or
    negative: the multiplicative index is undefined there (NULL
    columns), the additive one just shifts.

    Determinism: the index is ONE sign-safe half-up division of
    (s_d*c_all - s_all*c_d) by (c_d*c_all), carried in DECIMAL(38,0)
    (HUGEINT on the oracle -- s_d ~ 1e15 e4-units x c_all ~ 1e4 days
    wraps int64); adjust and re-inflate are BIGINT add/subtract; the
    smoothing is holt_winters_seasonal's pinned DECIMAL(38,0)
    power-weight fold. A next-DOW never observed yields NULL sf_e4,
    never a raise; c_d >= 1 for every observed row, so idx/sa are
    never NULL.

    Scale shape: identical to holt_winters_seasonal -- ONE events scan
    map-side combines to the (type, day) grain; cells/totals
    re-aggregate the day-grain frame (<= 7|types| rows, broadcast
    back); the {HW_W} lags share one (event_type)-partitioned window.
    100 TB cost = the scan.

    Reference parity: SURVEY.md §2.B; kernel shared with
    holt_winters_forecast (analytics12.py) and the multiplicative twin
    (analytics13.py)."""
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
    idx_num = (
        f"({dec.format('s_d')} * c_all - {dec.format('s_all')} * c_d)"
    )
    idx_den = f"({dec.format('c_d')} * c_all)"
    withidx = (
        daily.join(broadcast(cells), ["event_type", "dow"])
        .join(broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            "dow",
            "v_e4",
            F.expr(
                f"CAST({_halfup(idx_num, idx_den)} AS BIGINT)"
            ).alias("idx_e4"),
        )
        .withColumn("sa_e4", F.col("v_e4") - F.col("idx_e4"))
    )
    # the shared DECIMAL(38,0) power-weight fold (see
    # holt_winters_seasonal for the headroom argument)
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
        "idx_e4",
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
    nxt_num = (
        f"({dec.format('s_dn')} * c_all - {dec.format('s_all')} * c_dn)"
    )
    nxt_den = f"({dec.format('c_dn')} * c_all)"
    return (
        sm.join(broadcast(nxt), ["event_type", "dow_next"], "left")
        .join(broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            "v_e4",
            "idx_e4",
            "sa_e4",
            F.expr(
                "CASE WHEN c_dn IS NOT NULL THEN f_adj + CAST("
                + _halfup(nxt_num, nxt_den)
                + " AS BIGINT) END"
            ).alias("sf_e4"),
        )
        .orderBy("event_type", "day")
    )


QUERIES["holt_winters_additive"] = holt_winters_additive


def _hwa_oracle() -> str:
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
    idx_num = f"({hug.format('s_d')} * c_all - {hug.format('s_all')} * c_d)"
    idx_den = f"({hug.format('c_d')} * c_all)"
    nxt_num = (
        f"({hug.format('s_dn')} * c_all - {hug.format('s_all')} * c_dn)"
    )
    nxt_den = f"({hug.format('c_dn')} * c_all)"
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
                   CAST({_halfup_dk(idx_num, idx_den)} AS BIGINT)
                       AS idx_e4
            FROM daily d
            JOIN cells USING (event_type, dow)
            JOIN tot USING (event_type)
        ), adj2 AS (
            SELECT *, v_e4 - idx_e4 AS sa_e4 FROM adj
        ), sm AS (
            SELECT event_type, day, dow, v_e4, idx_e4, sa_e4,
                   CAST({lag_s1} AS HUGEINT) AS s1,
                   CAST({lag_s2} AS HUGEINT) AS s2
            FROM adj2
            WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)
        ), fc AS (
            SELECT *, CAST({_hw_round_e4_duck(
                f"3 * s1 * {HW_D2} - 2 * s2 * {HW_D1}", HW_D1 * HW_D2
            )} AS BIGINT) AS f_adj,
                   (dow + 1) % 7 AS dow_next
            FROM sm
        )
        SELECT f.event_type, f.day, f.v_e4, f.idx_e4, f.sa_e4,
               CASE WHEN c_dn IS NOT NULL THEN f.f_adj + CAST(
                   {_halfup_dk(nxt_num, nxt_den)} AS BIGINT)
               END AS sf_e4
        FROM fc f
        LEFT JOIN (SELECT event_type, dow AS dow_next, c_d AS c_dn,
                          s_d AS s_dn FROM cells) n
            USING (event_type, dow_next)
        JOIN tot USING (event_type)
        ORDER BY f.event_type, f.day
    """


ORACLES["holt_winters_additive"] = _hwa_oracle()

# --------------------------------------------------------- rule_conviction


def rule_conviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conviction and leverage over association_rules' pair census --
    the two classic strengths that separate implication from
    co-occurrence: conviction = (1 - supp(cons)) / (1 - conf) (how
    much MORE often the rule would have to fail if ant and cons were
    independent; NULL for exact rules, where conf = 1), and leverage =
    supp(pair) - supp(ant) supp(cons) (the absolute co-occurrence
    excess; negative for repelling pairs). Output (ant, cons, n_pair,
    n_ant, n_cons, conviction_e6, leverage_e6) for every directed rule
    with >= {AR_MIN_PAIR} co-baskets.

    Determinism: both strengths are exact integer rationals in half-up
    e6 units, carried in DECIMAL(38,0)/HUGEINT -- conviction
    cross-multiplies n_ant (N - n_cons) against N (n_ant - n_pair)
    (~1e10 x 1e10 x 1e6 = 1e26 << 1e38), leverage's numerator
    N n_pair - n_ant n_cons is sign-safe through the pmod half-up
    device; no float anywhere.

    Scale shape: association_rules' exact frames (the within-order
    pair explosion is quadratic in BASKET SIZE only, <= 21 pairs per
    TPC-H order; per-part counts map-side combine off the same
    distinct projection; AQE broadcasts the count frames) -- served
    from the MATERIALIZED _basket_census shared with
    association_rules/rule_ancestor_prune (r16: the sharing is now a
    persisted frame, not a CacheManager hope). 100 TB cost = the
    lineitem scan + the pair-vocabulary shuffle, paid once per
    session.

    Reference parity: SURVEY.md §2.B; extends association_rules
    (analytics13.py) per the r13 §7.19 pre-positioning."""
    from abr_etl_spark.plans.analytics13 import _basket_census

    l, pc_all = _basket_census(spark, sf_dir)
    pairs = pc_all.where(F.col("n_pair") >= AR_MIN_PAIR)
    per_part = l.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_part")
    )
    tot = l.select("l_orderkey").distinct().agg(
        F.count("*").cast("long").alias("n_baskets")
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    conviction = (
        "CASE WHEN n_ant > n_pair THEN CAST("
        + _halfup(
            dec.format("n_ant") + " * (n_baskets - n_cons) * 1000000",
            dec.format("n_baskets") + " * (n_ant - n_pair)",
        )
        + " AS BIGINT) END"
    )
    leverage = (
        "CAST("
        + _halfup(
            f"({dec.format('n_baskets')} * n_pair"
            f" - {dec.format('n_ant')} * n_cons) * 1000000",
            dec.format("n_baskets") + " * n_baskets",
        )
        + " AS BIGINT)"
    )
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
            F.expr(conviction).alias("conviction_e6"),
            F.expr(leverage).alias("leverage_e6"),
        )
        .orderBy("ant", "cons")
    )


QUERIES["rule_conviction"] = rule_conviction

_RC_HUG = "CAST({} AS HUGEINT)"
ORACLES["rule_conviction"] = f"""
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
           CASE WHEN pa.n_part > p.n_pair THEN CAST({_halfup_dk(
               _RC_HUG.format("pa.n_part")
               + " * (n_baskets - pc.n_part) * 1000000",
               _RC_HUG.format("n_baskets")
               + " * (pa.n_part - p.n_pair)")}
               AS BIGINT) END AS conviction_e6,
           CAST({_halfup_dk(
               "(" + _RC_HUG.format("n_baskets") + " * p.n_pair - "
               + _RC_HUG.format("pa.n_part") + " * pc.n_part) * 1000000",
               _RC_HUG.format("n_baskets") + " * n_baskets")}
               AS BIGINT) AS leverage_e6
    FROM pairs p
    JOIN per_part pa ON p.ant = pa.l_partkey
    JOIN per_part pc ON p.cons = pc.l_partkey
    CROSS JOIN tot
    ORDER BY p.ant, p.cons
"""

# ----------------------------------------------------- rule_ancestor_prune


def rule_ancestor_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redundant-rule filter over 2-item-antecedent rules: every rule
    {{a, b}} -> c (a < b, c distinct, >= {AR_MIN_PAIR} co-baskets) that
    BEATS BOTH 1-item ancestors' confidence -- conf({{a,b}} -> c) >
    conf(a -> c) AND > conf(b -> c). A longer rule that does not beat
    its ancestors adds complexity without lift (the classic
    improvement/ancestor-pruning criterion); what survives is the
    genuinely synergistic pair evidence. Output (ant_a, ant_b, cons,
    n_triple, n_pair, conf2_e6, anc_max_e6).

    Determinism: both predicate comparisons are EXACT integer
    cross-multiplications in DECIMAL(38,0)/HUGEINT (n_abc n_a >
    n_ac n_ab, never a rounded-confidence compare -- the reported e6
    values can tie where the exact predicate does not); the reported
    confidences are half-up e6 rationals.

    Scale shape: the triple explosion is CUBIC IN BASKET SIZE ONLY
    (<= 105 (pair, cons) rows per 7-item TPC-H order, map-side
    combined to the triple vocabulary); the unordered pair census and
    per-part counts reuse the same distinct (order, part) projection;
    ancestors join at the pair grain with AQE free to broadcast the
    smaller side. 100 TB cost = the lineitem scan + the
    triple-vocabulary shuffle.

    Reference parity: SURVEY.md §2.B; the pruning report named in the
    r13 §7.19 pre-positioning, over association_rules' census family
    (r16: l and the directed pair census come from the shared
    MATERIALIZED _basket_census -- the unordered pair_ab census is its
    ant < cons half, the ancestor census IS it -- so only the triple
    explosion is this key's own work)."""
    from abr_etl_spark.plans.analytics13 import _basket_census

    l, pc_all = _basket_census(spark, sf_dir)
    x = l.select("l_orderkey", F.col("l_partkey").alias("ant_a"))
    y = l.select("l_orderkey", F.col("l_partkey").alias("ant_b"))
    ab = x.join(y, "l_orderkey").where(F.col("ant_a") < F.col("ant_b"))
    # unordered pair census == the directed census' a < b half (each
    # unordered co-basket emits both directions with equal counts)
    pair_ab = pc_all.where(F.col("ant") < F.col("cons")).select(
        F.col("ant").alias("ant_a"),
        F.col("cons").alias("ant_b"),
        "n_pair",
    )
    # A-priori prefix filter (r17; opt guide 2.3 -- shuffle fewer
    # bytes): n_triple({a,b}, c) <= n_pair({a,b}) (every co-basket of
    # the triple co-contains the pair), so only antecedent pairs
    # already >= AR_MIN_PAIR can yield a surviving triple. Semi-joining
    # the per-order pair rows against the supported-pair vocabulary
    # BEFORE the cubic explosion drops the singleton-dominated bulk of
    # the Generate input (the census' n_pair = 1 mass) without changing
    # a single output row; AQE broadcasts the vocabulary when it fits.
    hot_ab = pair_ab.where(F.col("n_pair") >= AR_MIN_PAIR).select(
        "ant_a", "ant_b"
    )
    c = l.select("l_orderkey", F.col("l_partkey").alias("cons"))
    triples = (
        ab.join(hot_ab, ["ant_a", "ant_b"], "left_semi")
        .join(c, "l_orderkey")
        .where(
            (F.col("cons") != F.col("ant_a"))
            & (F.col("cons") != F.col("ant_b"))
        )
        .groupBy("ant_a", "ant_b", "cons")
        .agg(F.count("*").cast("long").alias("n_triple"))
        .where(F.col("n_triple") >= AR_MIN_PAIR)
    )
    # directed ancestor census: co-basket count for (x, c), x != c
    pc = pc_all.select(
        F.col("ant").alias("ant_a"), "cons",
        F.col("n_pair").alias("n_xc"),
    )
    per_part = l.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_part")
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    beats_a = (
        f"{dec.format('n_triple')} * n_a > {dec.format('n_ac')} * n_pair"
    )
    beats_b = (
        f"{dec.format('n_triple')} * n_b > {dec.format('n_bc')} * n_pair"
    )
    return (
        triples.join(pair_ab, ["ant_a", "ant_b"])
        .join(
            pc.select(
                "ant_a", "cons", F.col("n_xc").alias("n_ac")
            ),
            ["ant_a", "cons"],
        )
        .join(
            pc.select(
                F.col("ant_a").alias("ant_b"),
                "cons",
                F.col("n_xc").alias("n_bc"),
            ),
            ["ant_b", "cons"],
        )
        .join(
            per_part.select(
                F.col("l_partkey").alias("ant_a"),
                F.col("n_part").alias("n_a"),
            ),
            "ant_a",
        )
        .join(
            per_part.select(
                F.col("l_partkey").alias("ant_b"),
                F.col("n_part").alias("n_b"),
            ),
            "ant_b",
        )
        .where(F.expr(f"({beats_a}) AND ({beats_b})"))
        .select(
            "ant_a",
            "ant_b",
            "cons",
            "n_triple",
            "n_pair",
            F.expr(
                "CAST("
                + _halfup("n_triple * 1000000", "n_pair")
                + " AS BIGINT)"
            ).alias("conf2_e6"),
            F.expr(
                "CAST(greatest("
                + _halfup(dec.format("n_ac") + " * 1000000", "n_a")
                + ", "
                + _halfup(dec.format("n_bc") + " * 1000000", "n_b")
                + ") AS BIGINT)"
            ).alias("anc_max_e6"),
        )
        .orderBy("ant_a", "ant_b", "cons")
    )


QUERIES["rule_ancestor_prune"] = rule_ancestor_prune

ORACLES["rule_ancestor_prune"] = f"""
    WITH l AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), ab AS MATERIALIZED (
        SELECT a.l_orderkey, a.l_partkey AS ant_a, b.l_partkey AS ant_b
        FROM l a JOIN l b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), pair_ab AS (
        SELECT ant_a, ant_b, CAST(count(*) AS BIGINT) AS n_pair
        FROM ab GROUP BY 1, 2
    ), triples AS (
        SELECT ab.ant_a, ab.ant_b, c.l_partkey AS cons,
               CAST(count(*) AS BIGINT) AS n_triple
        FROM ab JOIN l c
          ON ab.l_orderkey = c.l_orderkey
         AND c.l_partkey <> ab.ant_a AND c.l_partkey <> ab.ant_b
        GROUP BY 1, 2, 3
        HAVING count(*) >= {AR_MIN_PAIR}
    ), pc AS (
        SELECT a.l_partkey AS xk, c.l_partkey AS cons,
               CAST(count(*) AS BIGINT) AS n_xc
        FROM l a JOIN l c
          ON a.l_orderkey = c.l_orderkey
         AND a.l_partkey <> c.l_partkey
        GROUP BY 1, 2
    ), per_part AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part
        FROM l GROUP BY 1
    )
    SELECT t.ant_a, t.ant_b, t.cons, t.n_triple, p.n_pair,
           CAST({_halfup_dk("t.n_triple * 1000000", "p.n_pair")}
               AS BIGINT) AS conf2_e6,
           CAST(greatest(
               {_halfup_dk(
                   _RC_HUG.format("pa.n_xc") + " * 1000000",
                   "na.n_part")},
               {_halfup_dk(
                   _RC_HUG.format("pb.n_xc") + " * 1000000",
                   "nb.n_part")}
           ) AS BIGINT) AS anc_max_e6
    FROM triples t
    JOIN pair_ab p ON t.ant_a = p.ant_a AND t.ant_b = p.ant_b
    JOIN pc pa ON pa.xk = t.ant_a AND pa.cons = t.cons
    JOIN pc pb ON pb.xk = t.ant_b AND pb.cons = t.cons
    JOIN per_part na ON na.l_partkey = t.ant_a
    JOIN per_part nb ON nb.l_partkey = t.ant_b
    WHERE {_RC_HUG.format("t.n_triple")} * na.n_part
          > {_RC_HUG.format("pa.n_xc")} * p.n_pair
      AND {_RC_HUG.format("t.n_triple")} * nb.n_part
          > {_RC_HUG.format("pb.n_xc")} * p.n_pair
    ORDER BY t.ant_a, t.ant_b, t.cons
"""

# --------------------------------------------- stratified_reservoir_alloc

#: global sample budget water-filled across (lang, source) strata.
SRA_K = 48


def stratified_reservoir_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified weighted reservoir: ONE global budget of {SRA_K}
    documents apportioned across (lang, source) strata by
    largest-remainder (Hamilton) allocation on each stratum's total
    tier weight, then drawn per stratum WITHOUT replacement by the
    Efraimidis-Spirakis race -- the auditable stratified subsample a
    corpus-mixing pipeline draws when one global reservoir would let a
    heavy stratum starve the tail. Output (lang, source, quota, rn,
    doc_id, w); a stratum smaller than its quota yields all its rows.

    Determinism: quotas are pure integer apportionment -- base =
    (K w_i) DIV W, remainders ranked (rem DESC, lang, source) fill the
    deficit (ties pinned by name; quotas sum to exactly {SRA_K} when
    the corpus is non-empty); the draw is weighted_reservoir_sample's
    integer 4th-power race (u^(1/w) compared exactly through
    DECIMAL(38,0)/HUGEINT -- no libm pow/ln on either engine; the
    batch top-k by that key is the SAME sample the A-ExpJ stream
    variant selects, the jump being an evaluation-count device, not a
    different order).

    Scale shape: the corpus is never globally sorted -- the strata
    census and allocation run on |lang x source| rows (the ONE
    single-partition window, strata-census-bounded -- whitelisted);
    race keys histogram into bucket cells per stratum (map-side
    combined), a stratum-partitioned prefix picks each cutoff cell at
    its OWN quota, and only ~quota + one cell's occupancy reach the
    top-k window. 100 TB cost = two key-column scans + a
    reservoir-sized shuffle (the weighted_reservoir_sample trade).

    Reference parity: SURVEY.md §2.C (training-data sampling); the
    stratified A-ExpJ candidate from the r13 §7.19 pre-positioning."""
    from abr_etl_spark.functions.cache import materialize_result

    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
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
    # ONE corpus pass builds the combined (stratum, bucket) census
    # carrying BOTH the row count (the cutoff prefix) and the weight
    # mass (the allocation input); materialized, because every
    # downstream frame -- strata masses, deficit, quotas, cutoffs --
    # is an aggregate of THIS <= |strata| x 4096-row cache, and
    # without the persist each consumer re-scanned the corpus (the
    # r14 audit measured 18 file scans and ~4x WRS's warm wall).
    cen = materialize_result(
        keyed.groupBy("lang", "source", "b").agg(
            F.count("*").alias("cnt"),
            F.sum("w").cast("long").alias("wm"),
        ),
        family="strat_alloc",
    )
    strata = cen.groupBy("lang", "source").agg(
        F.sum("wm").cast("long").alias("w_mass")
    )
    # The whole Hamilton allocation runs in ONE single-partition window
    # stage over the strata census (r17; the chain previously paid two
    # scalar-aggregate jobs + two broadcast exchanges -- tot and
    # base_sum -- each a separate tiny job, ~1.7 s of pure stage
    # latency at 32 cores for 100 rows). All three window specs share
    # the single-partition exchange; BOUNDED: input is the strata
    # census (|lang x source| rows, whitelisted in test_plans).
    w_all = Window.partitionBy()
    wq = Window.orderBy(
        F.col("rem").desc(), F.col("lang").asc(), F.col("source").asc()
    )
    w_sum = wq.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    alloc = (
        strata.withColumn(
            "wtot", F.sum("w_mass").over(w_all).cast("long")
        )
        .withColumn("base", F.expr(f"({SRA_K} * w_mass) DIV wtot"))
        .withColumn("rem", F.expr(f"pmod({SRA_K} * w_mass, wtot)"))
        .withColumn("base_sum", F.sum("base").over(w_sum).cast("long"))
        .withColumn("rnk", F.row_number().over(wq))
        .withColumn(
            "quota",
            (
                F.col("base")
                + F.when(
                    F.col("rnk") <= F.lit(SRA_K) - F.col("base_sum"), 1
                ).otherwise(0)
            ).cast("long"),
        )
        .select("lang", "source", "quota")
    )
    wc = Window.partitionBy("lang", "source").orderBy(F.col("b").desc())
    # quota is constant per stratum, so carrying max(quota) through the
    # cutoff aggregate hands survivors BOTH columns from one broadcast
    # (previously alloc was broadcast twice -- its chain executed once
    # per broadcast job).
    cutoff = (
        cen.withColumn("run", F.sum("cnt").over(wc))
        .join(broadcast(alloc), ["lang", "source"])
        .where(F.col("run") - F.col("cnt") < F.col("quota"))
        .groupBy("lang", "source")
        .agg(
            F.min("b").alias("cut_b"),
            F.max("quota").cast("long").alias("quota"),
        )
    )
    # SECOND corpus pass: only rows at or above their stratum's cutoff
    # cell (~quota + one cell's occupancy) reach the top-k window.
    survivors = keyed.join(
        broadcast(cutoff), ["lang", "source"]
    ).where(F.col("b") >= F.col("cut_b"))
    wk = Window.partitionBy("lang", "source").orderBy(
        F.col("key").desc(), F.col("doc_id").asc()
    )
    return (
        survivors.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= F.col("quota"))
        .select(
            "lang",
            "source",
            "quota",
            F.col("rn").cast("long").alias("rn"),
            "doc_id",
            F.col("w").cast("long").alias("w"),
        )
        .orderBy("lang", "source", "rn")
    )


QUERIES["stratified_reservoir_alloc"] = stratified_reservoir_alloc

ORACLES["stratified_reservoir_alloc"] = f"""
    WITH d AS (
        SELECT lang, source, doc_id,
               ((({WRS_A} * ((doc_id % {_P} + {_P}) % {_P}) + {WRS_B})
                 % {_P} + {_P}) % {_P}) + 1 AS h,
               CASE WHEN n_chars >= {WRS_TIER_HI} THEN 4
                    WHEN n_chars >= {WRS_TIER_LO} THEN 2 ELSE 1 END AS w
        FROM documents
    ), strata AS (
        SELECT lang, source, CAST(sum(w) AS BIGINT) AS w_mass
        FROM d GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(sum(w_mass) AS BIGINT) AS wtot FROM strata
    ), alloc0 AS (
        SELECT lang, source,
               ({SRA_K} * w_mass) // wtot AS base,
               ({SRA_K} * w_mass) % wtot AS rem
        FROM strata CROSS JOIN tot
    ), alloc AS (
        SELECT lang, source,
               CAST(base + CASE WHEN row_number() OVER (
                   ORDER BY rem DESC, lang ASC, source ASC)
                   <= {SRA_K} - (SELECT sum(base) FROM alloc0)
                   THEN 1 ELSE 0 END AS BIGINT) AS quota
        FROM alloc0
    ), ranked AS (
        SELECT lang, source, doc_id, w,
               row_number() OVER (PARTITION BY lang, source
                   ORDER BY {_wrs_key("h", "w", duck=True)} DESC,
                            doc_id ASC) AS rn
        FROM d
    )
    SELECT r.lang, r.source, a.quota, CAST(r.rn AS BIGINT) AS rn,
           r.doc_id, CAST(r.w AS BIGINT) AS w
    FROM ranked r JOIN alloc a
      ON r.lang = a.lang AND r.source = a.source
    WHERE r.rn <= a.quota
    ORDER BY r.lang, r.source, r.rn
"""

# ------------------------------------------------------------ survival_km


def survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over time-to-convert: among users
    who entered the funnel (first view), the probability of NOT yet
    having purchased by lag t days -- with users who never purchase
    correctly CENSORED at the lake's horizon instead of dropped
    (funnel_time_to_convert's lag stats see only converters; KM is how
    conversion-latency is reported when the window is finite). Output
    one row per event lag (lag_days, n_risk, n_event, n_censored_at,
    surv_e6), S(t) = prod_{u<=t} (1 - d_u/n_u).

    Determinism: d/c/n_risk are exact BIGINT censuses over the
    DAY-grain lag grid (first-touch timestamps, the funnel family's
    strict < ordering; censor lag = days to the global max event
    date); the product is exp of a RUNNING window sum of
    ln(1 - d/n) terms -- the running frame evaluates sequentially in
    lag order on both engines, each term is a pinned double over two
    exact BIGINTs, and the ~1e-14 worst-case libm drift over a
    calendar of terms is ~1e8 under the e6 half-up slack; a lag where
    d = n (everyone at risk converts) pins S = 0 exactly from there on
    via an integer flag, never through ln(0) (Spark NULLs it, DuckDB
    returns -inf -- the flag sidesteps the divergence).

    Scale shape: one events scan to the user grain, two lag-grain
    censuses (calendar-bounded), ONE single-partition window over the
    lag grid (whitelisted); |event lags| report rows. 100 TB cost =
    the scan.

    Reference parity: SURVEY.md §2.B; the censoring-aware twin of
    funnel_time_to_convert / conversion_lag_stats."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    tmax = e.agg(F.max(F.col("ts").cast("date")).alias("d_max"))
    lagged = (
        firsts.where(F.col("t_view").isNotNull())
        .crossJoin(broadcast(tmax))
        .select(
            F.when(
                F.col("t_view") < F.col("t_purchase"),
                F.datediff(
                    F.col("t_purchase").cast("date"),
                    F.col("t_view").cast("date"),
                ),
            ).alias("ev_lag"),
            F.when(
                ~F.coalesce(
                    F.col("t_view") < F.col("t_purchase"), F.lit(False)
                ),
                F.datediff(
                    F.col("d_max"), F.col("t_view").cast("date")
                ),
            ).alias("cz_lag"),
        )
    )
    ev = lagged.where(F.col("ev_lag").isNotNull()).groupBy(
        F.col("ev_lag").alias("lag_days")
    ).agg(F.count("*").cast("long").alias("d"))
    cz = lagged.where(F.col("cz_lag").isNotNull()).groupBy(
        F.col("cz_lag").alias("lag_days")
    ).agg(F.count("*").cast("long").alias("c"))
    grid = (
        ev.join(cz, "lag_days", "full_outer")
        .select(
            "lag_days",
            F.coalesce("d", F.lit(0)).cast("long").alias("d"),
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    n_tot = lagged.agg(F.count("*").cast("long").alias("n_entered"))
    # single-partition window is BOUNDED: input is the day-lag grid
    w = Window.orderBy(F.col("lag_days").asc())
    curve = (
        grid.crossJoin(broadcast(n_tot))
        .withColumn(
            "n_risk",
            (
                F.col("n_entered")
                - (F.sum(F.col("d") + F.col("c")).over(w) - F.col("d") - F.col("c"))
            ).cast("long"),
        )
        .withColumn(
            "zero_cum",
            F.sum(
                ((F.col("d") >= F.col("n_risk")) & (F.col("d") > 0)).cast(
                    "long"
                )
            ).over(w),
        )
        .withColumn(
            "logsum",
            F.sum(
                F.expr(
                    "CASE WHEN d > 0 AND d < n_risk THEN"
                    " ln(CAST(1 AS DOUBLE)"
                    " - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))"
                    " ELSE CAST(0 AS DOUBLE) END"
                )
            ).over(w),
        )
    )
    return (
        curve.where(F.col("d") > 0)
        .select(
            F.col("lag_days").cast("long").alias("lag_days"),
            "n_risk",
            F.col("d").alias("n_event"),
            F.col("c").alias("n_censored_at"),
            F.expr(
                "CASE WHEN zero_cum > 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(floor(exp(logsum) * 1000000 + 0.5)"
                " AS BIGINT) END"
            ).alias("surv_e6"),
        )
        .orderBy("lag_days")
    )


QUERIES["survival_km"] = survival_km

ORACLES["survival_km"] = """
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS t_purchase
        FROM events GROUP BY user_id
    ), tmax AS (
        SELECT max(CAST(ts AS DATE)) AS d_max FROM events
    ), lagged AS (
        SELECT CASE WHEN t_view < t_purchase THEN date_diff('day',
                   CAST(t_view AS DATE), CAST(t_purchase AS DATE)) END
                   AS ev_lag,
               CASE WHEN NOT coalesce(t_view < t_purchase, false) THEN
                   date_diff('day', CAST(t_view AS DATE), d_max) END
                   AS cz_lag
        FROM firsts CROSS JOIN tmax
        WHERE t_view IS NOT NULL
    ), ev AS (
        SELECT ev_lag AS lag_days, CAST(count(*) AS BIGINT) AS d
        FROM lagged WHERE ev_lag IS NOT NULL GROUP BY 1
    ), cz AS (
        SELECT cz_lag AS lag_days, CAST(count(*) AS BIGINT) AS c
        FROM lagged WHERE cz_lag IS NOT NULL GROUP BY 1
    ), grid AS (
        SELECT coalesce(ev.lag_days, cz.lag_days) AS lag_days,
               CAST(coalesce(d, 0) AS BIGINT) AS d,
               CAST(coalesce(c, 0) AS BIGINT) AS c
        FROM ev FULL OUTER JOIN cz ON ev.lag_days = cz.lag_days
    ), n_tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_entered FROM lagged
    ), risk AS (
        SELECT lag_days, d, c,
               CAST(n_entered - (sum(d + c) OVER w - d - c) AS BIGINT)
                   AS n_risk
        FROM grid CROSS JOIN n_tot
        WINDOW w AS (ORDER BY lag_days ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), curve AS (
        SELECT lag_days, d, c, n_risk,
               sum(CASE WHEN d > 0 AND d >= n_risk
                        THEN 1 ELSE 0 END) OVER w AS zero_cum,
               sum(CASE WHEN d > 0 AND d < n_risk
                        THEN ln(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE)
                                / CAST(n_risk AS DOUBLE))
                        ELSE CAST(0 AS DOUBLE) END) OVER w AS logsum
        FROM risk
        WINDOW w AS (ORDER BY lag_days ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(lag_days AS BIGINT) AS lag_days, n_risk,
           d AS n_event, c AS n_censored_at,
           CASE WHEN zero_cum > 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(exp(logsum) * 1000000 + 0.5) AS BIGINT)
           END AS surv_e6
    FROM curve
    WHERE d > 0
    ORDER BY lag_days
"""
