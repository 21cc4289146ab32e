"""Round-15 analytics: the r14 verdict's two engine-side asks.

- ``markov_attribution_k``: the k-TRANSIENT-CHANNEL generalization of
  markov_attribution (r14 verdict item 5). The 2-channel key's closed
  form is the k=2 instance of a Cramer solve over the k x k
  transition census; this key runs the SAME generated unrolled
  elimination (functions/markov.py) at k=4 over ALL four non-absorbing
  event types, so a funnel with more than two paid channels gets exact
  removal-effect credit with zero iteration on either engine.
- ``quantile_merge_by_source``: the missing member of the mergeable-
  sketch family (r14 verdict item 6; HLL/KMV/CMS merge rows live in
  llm_pipeline9/11). A FIXED-GRID histogram sketch of n_chars per
  source -- state is (scope, bucket, cnt) with bucket = n_chars DIV
  {Q_GRID} -- merged across scopes by plain per-bucket count addition
  (associative/commutative, so merge(sketch(A), sketch(B)) ==
  sketch(A union B) EXACTLY, unlike t-digest whose merge is order-
  dependent); p50/p90 are rank-interpolated from the merged registers
  in pure BIGINT arithmetic, so every row replays bit-identically
  cross-engine. The '__ALL__' row is computed ONLY from the per-source
  registers -- the 100 TB rollup story: per-partition histograms sum
  across days/sources/executors with O(|grid|) state each
  (merge == single-pass pytest-pinned, tests/test_markov_general.py).

Reference parity: SURVEY.md §2.B (downstream-of-delta analytics);
the attribution key composes session_paths_topk's sessionization
(analytics8.py), the sketch key extends the hll_merge_by_type
mergeability contract (llm_pipeline9.py).

Scale notes: markov_attribution_k is one events scan, three
user/session-partitioned windows, ONE global 25-counter conditional
aggregate (map-side combinable) and a 4-row literal explode -- no
joins. quantile_merge_by_source is one documents scan to a (scope,
bucket) census (<= |sources| x |grid| rows), then scope-partitioned
cumulative windows over that census -- the corpus is never sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from abr_etl_spark.functions import markov
from abr_etl_spark.functions.cache import materialize_result
from abr_etl_spark.plans.analytics8 import SESSION_GAP_S
from abr_etl_spark.sources.lake import load_table

QUERIES: dict = {}
ORACLES: dict = {}

#: result-cache families (functions/cache.py) each key's build touches
CACHE_FAMILIES = {
    "quantile_merge_by_source": ("quantile_merge",),
    "quantile_grid_sweep": ("quantile_grid",),
}

# ---------------------------------------------------- markov_attribution_k

#: ALL transient channel states, alphabetical (output order), and the
#: absorbing conversion state; k = 4 exercises the general solver on a
#: system the 2-channel closed form cannot express.
MKK_CHANNELS = ["click", "error", "signup", "view"]
MKK_CONV = "purchase"

#: generic positional counter names (the legacy a/b vocabulary only
#: exists for k = 2); nt[(i, j)] counts channel i -> channel j.
_MKK_NAMES = markov.MkNames(
    ne=[f"ne{i}" for i in range(len(MKK_CHANNELS))],
    ns=[f"n_s{i}" for i in range(len(MKK_CHANNELS))],
    nc=[f"n_c{i}" for i in range(len(MKK_CHANNELS))],
    nt={
        (i, j): f"n_t{i}{j}"
        for i in range(len(MKK_CHANNELS))
        for j in range(len(MKK_CHANNELS))
        if i != j
    },
)
_MKK_X = markov.mk_attr_exprs(_MKK_NAMES)

#: (frm, tos) -> counter-name pairs shared by both engines' census.
_MKK_COUNTERS: list[tuple[str, str, str]] = (
    [
        ("START", ch, f"n_s{i}")
        for i, ch in enumerate(MKK_CHANNELS)
    ]
    + [("START", MKK_CONV, "n_sc")]
    + [
        (MKK_CHANNELS[i], MKK_CHANNELS[j], f"n_t{i}{j}")
        for i in range(len(MKK_CHANNELS))
        for j in range(len(MKK_CHANNELS))
        if i != j
    ]
    + [
        (ch, MKK_CONV, f"n_c{i}")
        for i, ch in enumerate(MKK_CHANNELS)
    ]
    + [
        (ch, "NULL", f"n_x{i}")
        for i, ch in enumerate(MKK_CHANNELS)
    ]
)


def markov_attribution_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-channel Markov removal-effect attribution over ALL
    {MKK_CHANNELS} -> {MKK_CONV} funnels: the same gap-based session
    chains as markov_attribution (sessionize, truncate at first
    conversion, collapse consecutive duplicates), but the absorption
    system is the FULL 4x4 transition census solved by generated
    unrolled Cramer elimination (functions/markov.py) -- the general
    form whose k=2 instance IS the r14 closed form (pytest-pinned).
    Output one row per channel (channel, n_from, removal_e6,
    credit_e6, p_conv_e6).

    Determinism: the 25 transition counters are exact BIGINTs; every
    product runs in DOUBLE over pinned text shared VERBATIM with the
    oracle (counts < 2^53 far past 100 TB; the e6 half-up floor has
    ~1e-5 slack over worst double error). Unused channels substitute
    unit out-masses, keeping the solve total; a chain with a closed
    sub-cycle (possible only at k >= 3) zeroes the determinant and
    reports NULL removal/credit with the n_sc/n_s conversion fallback
    -- never raising (the M-matrix guard argument, functions/
    markov.py: det > 0 already implies every removal subsystem det
    is positive, so no extra guards exist at any k).

    Scale shape: one events scan, three user/session-partitioned
    windows, ONE global 25-counter conditional aggregate (map-side
    combinable), a 4-row literal explode. No joins. 100 TB cost = the
    scan.

    Reference parity: SURVEY.md §2.B; generalizes markov_attribution
    (analytics14.py) per the r14 verdict."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin(*MKK_CHANNELS, MKK_CONV)
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
    is_conv = (F.col("st") == MKK_CONV).cast("int")
    trunc = sess.withColumn("p_cum", F.sum(is_conv).over(ws)).where(
        F.col("p_cum") - is_conv == 0
    )
    coll = trunc.withColumn("prev_st", F.lag("st").over(ws)).where(
        F.col("prev_st").isNull() | (F.col("prev_st") != F.col("st"))
    )
    seq = coll.withColumn(
        "frm", F.coalesce(F.lag("st").over(ws), F.lit("START"))
    ).withColumn("nxt", F.lead("st").over(ws))
    trans = seq.select(
        F.explode(
            F.expr(
                "filter(array("
                "named_struct('frm', frm, 'tos', st),"
                "named_struct('frm', st, 'tos',"
                f" CASE WHEN nxt IS NULL AND st <> '{MKK_CONV}'"
                " THEN 'NULL' END)"
                "), x -> x.tos IS NOT NULL)"
            )
        ).alias("t")
    ).select(F.col("t.frm").alias("frm"), F.col("t.tos").alias("tos"))

    counts = trans.agg(
        *[
            F.coalesce(
                F.sum(
                    (
                        (F.col("frm") == frm) & (F.col("tos") == tos)
                    ).cast("long")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(name)
            for frm, tos, name in _MKK_COUNTERS
        ]
    )
    k = len(MKK_CHANNELS)
    out_mass = [
        " + ".join(
            [f"n_t{i}{j}" for j in range(k) if j != i]
            + [f"n_c{i}", f"n_x{i}"]
        )
        for i in range(k)
    ]
    mid = (
        counts.select(
            "*",
            *[F.expr(out_mass[i]).alias(f"n_o{i}") for i in range(k)],
            F.expr(
                " + ".join([f"n_s{i}" for i in range(k)] + ["n_sc"])
            ).alias("n_s"),
        )
        .select(
            "*",
            *[
                F.expr(
                    f"CASE WHEN n_o{i} > 0 THEN n_o{i} ELSE 1 END"
                ).alias(f"ne{i}")
                for i in range(k)
            ],
        )
        .select(
            "*",
            F.expr(_MKK_X["d"]).alias("__d"),
            *[
                F.expr(_MKK_X["num"][i]).alias(f"__num{i}")
                for i in range(k)
            ],
            *[
                F.expr(_MKK_X["v"][i]).alias(f"__v{i}")
                for i in range(k)
            ],
        )
        .select("*", F.expr(_MKK_X["u"]).alias("__u"))
    )
    rep = mid.select(
        *[F.col(f"n_o{i}") for i in range(k)],
        *[
            F.expr(_MKK_X["removal"][i]).alias(f"r{i}")
            for i in range(k)
        ],
        *[
            F.expr(_MKK_X["credit"][i]).alias(f"c{i}")
            for i in range(k)
        ],
        F.expr(_MKK_X["p_conv"]).alias("pc"),
    )
    structs = ", ".join(
        f"named_struct('channel', '{ch}', 'n_from', n_o{i},"
        f" 'removal_e6', r{i}, 'credit_e6', c{i}, 'p_conv_e6', pc)"
        for i, ch in enumerate(MKK_CHANNELS)
    )
    return (
        rep.select(F.explode(F.expr(f"array({structs})")).alias("r"))
        .select(
            F.col("r.channel").alias("channel"),
            F.col("r.n_from").alias("n_from"),
            F.col("r.removal_e6").alias("removal_e6"),
            F.col("r.credit_e6").alias("credit_e6"),
            F.col("r.p_conv_e6").alias("p_conv_e6"),
        )
        .orderBy("channel")
    )


QUERIES["markov_attribution_k"] = markov_attribution_k


def _mkk_oracle() -> str:
    k = len(MKK_CHANNELS)
    census = ",\n          ".join(
        "CAST(coalesce(sum(CASE WHEN frm = "
        f"'{frm}' AND tos = '{tos}' THEN 1 ELSE 0 END), 0) AS BIGINT)"
        f" AS {name}"
        for frm, tos, name in _MKK_COUNTERS
    )
    out_mass = ", ".join(
        " + ".join(
            [f"n_t{i}{j}" for j in range(k) if j != i]
            + [f"n_c{i}", f"n_x{i}"]
        )
        + f" AS n_o{i}"
        for i in range(k)
    )
    effs = ", ".join(
        f"CASE WHEN n_o{i} > 0 THEN n_o{i} ELSE 1 END AS ne{i}"
        for i in range(k)
    )
    nums = ", ".join(
        f"{_MKK_X['num'][i]} AS __num{i}" for i in range(k)
    )
    vs = ", ".join(f"{_MKK_X['v'][i]} AS __v{i}" for i in range(k))
    reps = ", ".join(
        f"{_MKK_X['removal'][i]} AS r{i}, {_MKK_X['credit'][i]} AS c{i}"
        for i in range(k)
    )
    rows = "\n    UNION ALL\n".join(
        f"    SELECT '{ch}' AS channel, n_o{i} AS n_from,"
        f" r{i} AS removal_e6, c{i} AS credit_e6, pc AS p_conv_e6"
        " FROM rep"
        for i, ch in enumerate(MKK_CHANNELS)
    )
    chan_list = ", ".join(f"'{c}'" for c in MKK_CHANNELS)
    return f"""
    WITH f AS (
        SELECT user_id, event_id, event_type AS st,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events
        WHERE event_type IN ({chan_list}, '{MKK_CONV}')
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
            SELECT *, sum(CASE WHEN st = '{MKK_CONV}' THEN 1 ELSE 0 END)
                       OVER ws
                      - CASE WHEN st = '{MKK_CONV}' THEN 1 ELSE 0 END
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
        WHERE nxt IS NULL AND st <> '{MKK_CONV}'
    ), counts AS (
        SELECT
          {census}
        FROM trans
    ), mid00 AS (
        SELECT *, {out_mass},
               {" + ".join([f"n_s{i}" for i in range(k)] + ["n_sc"])}
                   AS n_s
        FROM counts
    ), mid0 AS (
        SELECT *, {effs} FROM mid00
    ), mid1 AS (
        SELECT *, {_MKK_X["d"]} AS __d, {nums}, {vs} FROM mid0
    ), mid AS (
        SELECT *, {_MKK_X["u"]} AS __u FROM mid1
    ), rep AS (
        SELECT *, {reps}, {_MKK_X["p_conv"]} AS pc FROM mid
    )
{rows}
    ORDER BY channel
"""


ORACLES["markov_attribution_k"] = _mkk_oracle()

# ------------------------------------------------ quantile_merge_by_source

#: fixed grid width in n_chars units -- the sketch's only parameter.
#: Registers are (scope, bucket = n_chars DIV 8, cnt); at the source
#: corpus that's <= ~70 buckets per scope, and the scale derivation's
#: token prefixes keep n_chars bounded within one decade, so register
#: state stays metadata-scale at ANY corpus size.
Q_GRID = 8
#: rank targets in e4 fraction units (p50, p90).
Q_PCTS_E4 = (5000, 9000)


def _q_rank_exprs(p_e4: int, tag: str) -> tuple[str, str]:
    """Pinned-text (k, f_e4) for the 0-based interpolated rank
    t_e4 = (n - 1) * p_e4: k = t DIV 1e4, f = t % 1e4 -- the standard
    linear-interpolation quantile definition, in exact BIGINTs."""
    return (
        f"((n_rows - 1) * {p_e4}) DIV 10000 AS k{tag}",
        f"((n_rows - 1) * {p_e4}) % 10000 AS f{tag}",
    )


def quantile_merge_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch MERGEABILITY for quantiles -- the member the
    HLL/KMV/CMS/Bloom merge family lacked (r14 verdict item 6): a
    fixed-grid histogram of n_chars per source (bucket = n_chars DIV
    {Q_GRID}, state (scope, bucket, cnt)), with the '__ALL__' row
    computed ONLY by summing the per-source registers -- count
    addition is associative/commutative, so merge(sketch(A),
    sketch(B)) == sketch(A union B) EXACTLY (t-digest can't promise
    that; a fixed grid can). Output (scope, n_rows, p50_e4, p90_e4)
    per source plus '__ALL__'.

    p50/p90 are rank-interpolated over the registers: with t_e4 =
    (n-1) * p (0-based interpolated rank in e4 units), k = t DIV 1e4,
    f = t % 1e4, and v(r) = {Q_GRID} * bucket_at(r) (each member
    priced at its bucket's lower edge -- the sketch's <= {Q_GRID}-unit
    error contract), the report is v(k) * 1e4 + f * (v(k+1) - v(k)) --
    pure BIGINT arithmetic, bit-identical cross-engine and replayable
    from the registers alone.

    Scale shape: ONE documents scan to the (scope, bucket) census
    (map-side combinable, <= |sources| x |grid| rows), the merge is a
    bucket-grain aggregate OF THE REGISTERS (the data is never touched
    twice), and the rank lookup is a scope-partitioned cumulative
    window over the census -- the corpus is never sorted. This is the
    100 TB rollup: per-partition histograms sum across days, sources,
    or 1000 executors with O(|grid|) state each.

    Determinism: merge == single-pass is pytest-pinned
    (tests/test_markov_general.py); all arithmetic is BIGINT.

    Reference parity: SURVEY.md §2.B/C sketch family; extends
    hll_merge_by_type's contract (llm_pipeline9.py:971)."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("source").alias("scope"),
        F.expr(f"n_chars DIV {Q_GRID}").alias("bucket"),
    )
    regs = materialize_result(
        d.groupBy("scope", "bucket").agg(F.count("*").alias("cnt")),
        family="quantile_merge",
    )
    merged = regs.groupBy("bucket").agg(
        F.sum("cnt").alias("cnt")
    ).select(F.lit("__ALL__").alias("scope"), "bucket", "cnt")
    allregs = regs.unionByName(merged)
    wcum = (
        Window.partitionBy("scope")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # materialize the cumulated census too (<= 2 x |sources| x |grid|
    # rows): totals and the rank lookup both read it, so the final
    # plan holds two tiny cache references instead of two copies of
    # the census tree.
    cum = materialize_result(
        allregs.withColumn("cum", F.sum("cnt").over(wcum)),
        family="quantile_merge",
    )
    totals = cum.groupBy("scope").agg(
        F.max("cum").cast("long").alias("n_rows")
    )
    rank_cols = [
        F.expr(e)
        for p_e4, tag in zip(Q_PCTS_E4, ("50", "90"))
        for e in _q_rank_exprs(p_e4, tag)
    ]
    targets = totals.select("scope", "n_rows", *rank_cols)
    j = cum.join(broadcast(targets), "scope")
    picked = j.groupBy("scope").agg(
        F.max("n_rows").alias("n_rows"),
        *[
            F.min(
                F.expr(
                    f"CASE WHEN cum >= {kexpr} + 1 THEN bucket END"
                )
            ).alias(alias)
            for kexpr, alias in [
                ("k50", "b50"),
                ("LEAST(k50 + 1, n_rows - 1)", "b50n"),
                ("k90", "b90"),
                ("LEAST(k90 + 1, n_rows - 1)", "b90n"),
            ]
        ],
        F.max("k50").alias("k50"),
        F.max("f50").alias("f50"),
        F.max("k90").alias("k90"),
        F.max("f90").alias("f90"),
    )
    return picked.select(
        "scope",
        "n_rows",
        F.expr(
            f"{Q_GRID} * (b50 * 10000 + f50 * (b50n - b50))"
        ).alias("p50_e4"),
        F.expr(
            f"{Q_GRID} * (b90 * 10000 + f90 * (b90n - b90))"
        ).alias("p90_e4"),
    ).orderBy("scope")


QUERIES["quantile_merge_by_source"] = quantile_merge_by_source

ORACLES["quantile_merge_by_source"] = f"""
    WITH regs AS MATERIALIZED (
        SELECT source AS scope, n_chars // {Q_GRID} AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2
    ), allregs AS (
        SELECT * FROM regs
        UNION ALL
        SELECT '__ALL__' AS scope, bucket,
               CAST(sum(cnt) AS BIGINT) AS cnt
        FROM regs GROUP BY bucket
    ), cum AS (
        SELECT *, sum(cnt) OVER (PARTITION BY scope ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM allregs
    ), totals AS (
        SELECT scope, CAST(sum(cnt) AS BIGINT) AS n_rows
        FROM allregs GROUP BY scope
    ), targets AS (
        SELECT scope, n_rows,
               ((n_rows - 1) * 5000) // 10000 AS k50,
               ((n_rows - 1) * 5000) % 10000 AS f50,
               ((n_rows - 1) * 9000) // 10000 AS k90,
               ((n_rows - 1) * 9000) % 10000 AS f90
        FROM totals
    ), picked AS (
        SELECT c.scope, max(t.n_rows) AS n_rows,
               min(CASE WHEN c.cum >= t.k50 + 1 THEN c.bucket END)
                   AS b50,
               min(CASE WHEN c.cum >=
                   least(t.k50 + 1, t.n_rows - 1) + 1
                   THEN c.bucket END) AS b50n,
               min(CASE WHEN c.cum >= t.k90 + 1 THEN c.bucket END)
                   AS b90,
               min(CASE WHEN c.cum >=
                   least(t.k90 + 1, t.n_rows - 1) + 1
                   THEN c.bucket END) AS b90n,
               max(t.k50) AS k50, max(t.f50) AS f50,
               max(t.k90) AS k90, max(t.f90) AS f90
        FROM cum c JOIN targets t ON t.scope = c.scope
        GROUP BY c.scope
    )
    SELECT scope, n_rows,
           CAST({Q_GRID} * (b50 * 10000 + f50 * (b50n - b50))
                AS BIGINT) AS p50_e4,
           CAST({Q_GRID} * (b90 * 10000 + f90 * (b90n - b90))
                AS BIGINT) AS p90_e4
    FROM picked
    ORDER BY scope
"""

# --------------------------------------------------- quantile_grid_sweep

#: the grid-width axis (state vs precision): bucket = n_chars DIV g.
Q_SWEEP_GRIDS = (2, 8, 32, 128)


def quantile_grid_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuning table for the fixed-grid quantile sketch (the
    lsh_band_sweep contract for this family): for each grid width g in
    {Q_SWEEP_GRIDS}, the register-state cost (n_buckets) and the
    rank-interpolated whole-corpus p50/p90 the sketch would report --
    THE table an operator reads before committing a grid, since the
    sketch's value error is bounded by g (members priced at their
    bucket's lower edge) while its state is |range| / g registers.
    Output (grid, n_buckets, p50_e4, p90_e4), one row per grid.

    Determinism: pure BIGINT arithmetic end to end (the
    quantile_merge_by_source kernel with grid as a column).

    Scale shape: ONE documents scan exploded |grids| x (map-side
    combinable census, <= |grids| x |range/g| rows), then
    grid-partitioned cumulative windows over that census -- the
    corpus is never sorted, and the sweep costs one scan regardless
    of how many grids it prices.

    Reference parity: SURVEY.md §2.B sketch family; the sweep twin of
    quantile_merge_by_source."""
    grids = ", ".join(str(g) for g in Q_SWEEP_GRIDS)
    d = load_table(spark, sf_dir, "documents").select("n_chars")
    b = d.select(
        F.expr(
            f"explode(transform(array({grids}), g -> "
            "named_struct('grid', g, 'bucket', n_chars DIV g))) AS gb"
        )
    ).select(F.col("gb.grid").alias("grid"), F.col("gb.bucket").alias("bucket"))
    census = materialize_result(
        b.groupBy("grid", "bucket").agg(F.count("*").alias("cnt")),
        family="quantile_grid",
    )
    wcum = (
        Window.partitionBy("grid")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = materialize_result(
        census.withColumn("cum", F.sum("cnt").over(wcum)),
        family="quantile_grid",
    )
    totals = cum.groupBy("grid").agg(
        F.max("cum").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_buckets"),
    )
    rank_cols = [
        F.expr(e)
        for p_e4, tag in zip(Q_PCTS_E4, ("50", "90"))
        for e in _q_rank_exprs(p_e4, tag)
    ]
    targets = totals.select("grid", "n_rows", "n_buckets", *rank_cols)
    j = cum.join(broadcast(targets), "grid")
    picked = j.groupBy("grid").agg(
        F.max("n_buckets").alias("n_buckets"),
        *[
            F.min(
                F.expr(
                    f"CASE WHEN cum >= {kexpr} + 1 THEN bucket END"
                )
            ).alias(alias)
            for kexpr, alias in [
                ("k50", "b50"),
                ("LEAST(k50 + 1, n_rows - 1)", "b50n"),
                ("k90", "b90"),
                ("LEAST(k90 + 1, n_rows - 1)", "b90n"),
            ]
        ],
        F.max("f50").alias("f50"),
        F.max("f90").alias("f90"),
    )
    return picked.select(
        F.col("grid").cast("int").alias("grid"),
        "n_buckets",
        F.expr(
            "grid * (b50 * 10000 + f50 * (b50n - b50))"
        ).cast("long").alias("p50_e4"),
        F.expr(
            "grid * (b90 * 10000 + f90 * (b90n - b90))"
        ).cast("long").alias("p90_e4"),
    ).orderBy("grid")


QUERIES["quantile_grid_sweep"] = quantile_grid_sweep

ORACLES["quantile_grid_sweep"] = f"""
    WITH b AS (
        SELECT g.grid, n_chars // g.grid AS bucket
        FROM documents,
             (VALUES {", ".join(f"({g})" for g in Q_SWEEP_GRIDS)})
                 g(grid)
    ), census AS MATERIALIZED (
        SELECT grid, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY 1, 2
    ), cum AS (
        SELECT *, sum(cnt) OVER (PARTITION BY grid ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM census
    ), totals AS (
        SELECT grid, CAST(max(cum) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_buckets
        FROM cum GROUP BY grid
    ), targets AS (
        SELECT grid, n_rows, n_buckets,
               ((n_rows - 1) * 5000) // 10000 AS k50,
               ((n_rows - 1) * 5000) % 10000 AS f50,
               ((n_rows - 1) * 9000) // 10000 AS k90,
               ((n_rows - 1) * 9000) % 10000 AS f90
        FROM totals
    ), picked AS (
        SELECT c.grid, max(t.n_buckets) AS n_buckets,
               min(CASE WHEN c.cum >= t.k50 + 1 THEN c.bucket END)
                   AS b50,
               min(CASE WHEN c.cum >=
                   least(t.k50 + 1, t.n_rows - 1) + 1
                   THEN c.bucket END) AS b50n,
               min(CASE WHEN c.cum >= t.k90 + 1 THEN c.bucket END)
                   AS b90,
               min(CASE WHEN c.cum >=
                   least(t.k90 + 1, t.n_rows - 1) + 1
                   THEN c.bucket END) AS b90n,
               max(t.f50) AS f50, max(t.f90) AS f90
        FROM cum c JOIN targets t ON t.grid = c.grid
        GROUP BY c.grid
    )
    SELECT CAST(grid AS INTEGER) AS grid, n_buckets,
           CAST(grid * (b50 * 10000 + f50 * (b50n - b50))
                AS BIGINT) AS p50_e4,
           CAST(grid * (b90 * 10000 + f90 * (b90n - b90))
                AS BIGINT) AS p90_e4
    FROM picked
    ORDER BY grid
"""
