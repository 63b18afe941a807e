"""Round-13 wave 2 — nonparametric effect sizes, distribution-free
tests, and a lexical-diversity curation metric (SURVEY.md §2 ext
family): Cliff's delta, the two-sample Hodges-Lehmann shift, the paired
sign test, the Wald-Wolfowitz runs test, chi-square goodness-of-fit,
Mood's median test, Wilson score intervals, and MATTR.

Why these: the r13 wave-1 family answered "HOW BIG is the effect?" in
the PARAMETRIC lane (Cohen's d panel, gamma, Theil's U) — this wave
adds the distribution-free counterparts a skewed-revenue readout
actually reaches for (Cliff's delta and the Hodges-Lehmann shift are
the standard nonparametric effect sizes next to q_ml_mann_whitney's
verdict), the two classical quick tests the board still lacked (sign,
runs), the GOF sibling of q_ml_chi2_ab's independence test, the median
test completing the center-comparison ladder (means: anova; ranks:
kruskal-wallis; medians: Mood), the proportion-CI readout every A/B
dashboard renders, and MATTR — the windowed type-token ratio used to
score lexical diversity in LLM corpus curation.

House determinism rules throughout: integer carriers for every
accumulated statistic (cents, band counts, DECIMAL(38,0) pair mass),
contingency/band folds so pair statistics are O(cells^2) never O(n^2),
the banded two-phase exact grand median (band marginal -> one bounded
within-band refinement) instead of a global fact-scale sort, doubles
only in final bounded folds with IDENTICAL expression trees in both
engines, nullif-guarded divisions so degenerate fixtures agree on NULL
(ADVICE r12 precedent), and pinned critical-value literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.registry import query
from khose_spark.sqlutil import sql_cents
from khose_spark.tables import t

# Pinned critical values / benchmarks (house precedent: fixed literals).
_Z95 = "1.96"  # two-sided 5% normal
_CHI2_4_5PCT = "9.488"  # chi-square(4) upper 5% — 5 priority groups
# Cliff's delta magnitude benchmarks (Romano et al. 2006 thresholds,
# the standard companion scale to Cohen's 0.2/0.5/0.8):
_CLIFF_SMALL, _CLIFF_MEDIUM, _CLIFF_LARGE = "0.147", "0.33", "0.474"

_MATTR_W = 25  # MATTR window length (tokens); full windows only


def _click_view_dollars(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(a, v, tots): whole-dollar band counts (b, n) of click events
    (aliased a) and view events (aliased v), and the one-row group
    sizes (n1, n2) — all off one checkpointed <=982-row grid."""
    e = t(spark, sf_dir, "events")
    cell = (
        e.filter(F.col("event_type").isin("click", "view"))
        .select(
            F.when(F.col("event_type") == "click", 1)
            .otherwise(2)
            .alias("grp"),
            F.expr(
                f"{sql_cents('value')}"
                " DIV 100"
            ).alias("b"),
        )
        .groupBy("grp", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # the <=982-row grid feeds the pair cross AND the totals —
        # one fact pass (the gamma grid lifecycle)
        .transform(checkpoint)
    )
    a = cell.filter(F.col("grp") == 1).select("b", "n").alias("a")
    v = cell.filter(F.col("grp") == 2).select("b", "n").alias("v")
    tots = cell.agg(
        F.sum(F.when(F.col("grp") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 2, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    return a, v, tots


# SQL twin of :func:`_click_view_dollars`: the ``cell`` grid of
# whole-dollar band counts per group (1 = click, 2 = view), left open,
# and the ``tots`` CTE of the group sizes.
_SQL_CLICK_VIEW_CELL = f"""
    WITH cell AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS grp,
             {sql_cents('value')}
               // 100 AS b,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1, 2"""
_SQL_CLICK_VIEW_TOTS = """
    ), tots AS (
      SELECT
        CAST(sum(CASE WHEN grp = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN grp = 2 THEN n ELSE 0 END) AS BIGINT) AS n2
      FROM cell"""


@query(
    "q_ml_cliffs_delta",
    oracle=f"""
{_SQL_CLICK_VIEW_CELL}
    ), pairs AS (
      SELECT
        CAST(sum(CASE WHEN a.b > v.b
                 THEN CAST(a.n AS DECIMAL(38,0)) * v.n ELSE 0 END)
             AS DECIMAL(38,0)) AS gt,
        CAST(sum(CASE WHEN a.b < v.b
                 THEN CAST(a.n AS DECIMAL(38,0)) * v.n ELSE 0 END)
             AS DECIMAL(38,0)) AS lt,
        CAST(sum(CASE WHEN a.b = v.b
                 THEN CAST(a.n AS DECIMAL(38,0)) * v.n ELSE 0 END)
             AS DECIMAL(38,0)) AS tie
      FROM (SELECT b, n FROM cell WHERE grp = 1) a
      CROSS JOIN (SELECT b, n FROM cell WHERE grp = 2) v
{_SQL_CLICK_VIEW_TOTS}
    )
    SELECT n1 AS n_click, n2 AS n_view,
           CAST(gt AS BIGINT) AS gt_pairs,
           CAST(lt AS BIGINT) AS lt_pairs,
           CAST(tie AS BIGINT) AS tie_pairs,
           round(CAST(gt - lt AS DOUBLE)
                 / nullif(CAST(n1 AS DOUBLE) * n2, 0), 6)
             AS cliffs_delta_r6,
           CASE WHEN abs(CAST(gt - lt AS DOUBLE)
                         / nullif(CAST(n1 AS DOUBLE) * n2, 0))
                     >= {_CLIFF_LARGE} THEN 'large'
                WHEN abs(CAST(gt - lt AS DOUBLE)
                         / nullif(CAST(n1 AS DOUBLE) * n2, 0))
                     >= {_CLIFF_MEDIUM} THEN 'medium'
                WHEN abs(CAST(gt - lt AS DOUBLE)
                         / nullif(CAST(n1 AS DOUBLE) * n2, 0))
                     >= {_CLIFF_SMALL} THEN 'small'
                ELSE 'negligible' END AS magnitude
    FROM pairs CROSS JOIN tots
    """,
)
def q_ml_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between click and view event values — the
    nonparametric effect size next to q_ml_mann_whitney's verdict:
    delta = P(X>Y) - P(X<Y), read directly off dominance pair mass,
    with the pinned 0.147/0.33/0.474 magnitude benchmarks (the
    rank-world analogue of q_ml_effect_sizes' Cohen scale).

    Scale design (the q_ml_gamma_concordance discipline): values are
    banded to whole dollars (cents DIV 100 — the q_ml_mann_whitney
    banding contract), so the corpus folds to a <=491-band-per-group
    grid and the dominance mass is a <=241k-cell broadcast cross,
    never O(n^2). Pair mass Sum(n_a*n_v) ~ n^2/4 carries DECIMAL(38,0)
    from registration (the gamma pair-mass law — crosses int64 at ~3e9
    rows/side); the reported pair columns cast back to int64, exact
    through ~4.3e9 rows/side (documented bound). delta is ONE double
    division, round-6; the magnitude CASE compares the UNROUNDED delta
    with identical trees in both engines.

    Output: one row — group sizes, gt/lt/tie pair mass, delta,
    magnitude."""
    a, v, tots = _click_view_dollars(spark, sf_dir)
    mass = F.col("a.n").cast("decimal(38,0)") * F.col("v.n")
    pairs = a.crossJoin(F.broadcast(v)).agg(
        F.sum(F.when(F.col("a.b") > F.col("v.b"), mass).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("gt"),
        F.sum(F.when(F.col("a.b") < F.col("v.b"), mass).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("lt"),
        F.sum(F.when(F.col("a.b") == F.col("v.b"), mass).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("tie"),
    )
    # nullif(n1*n2, 0): an empty group makes the denominator an exact
    # 0.0 double — ANSI Spark CRASHES on double division by zero while
    # DuckDB returns NULL (measured r13); both must agree on NULL.
    delta = (F.col("gt") - F.col("lt")).cast("double") / F.expr(
        "nullif(CAST(n1 AS DOUBLE) * n2, 0)"
    )
    return pairs.crossJoin(F.broadcast(tots)).select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_view"),
        F.col("gt").cast("long").alias("gt_pairs"),
        F.col("lt").cast("long").alias("lt_pairs"),
        F.col("tie").cast("long").alias("tie_pairs"),
        F.round(delta, 6).alias("cliffs_delta_r6"),
        F.when(F.abs(delta) >= float(_CLIFF_LARGE), "large")
        .when(F.abs(delta) >= float(_CLIFF_MEDIUM), "medium")
        .when(F.abs(delta) >= float(_CLIFF_SMALL), "small")
        .otherwise("negligible")
        .alias("magnitude"),
    )


@query(
    "q_ml_hodges_lehmann",
    oracle=f"""
{_SQL_CLICK_VIEW_CELL}
    ), diffs AS (
      SELECT a.b - v.b AS db,
             CAST(sum(CAST(a.n AS DECIMAL(38,0)) * v.n)
                  AS DECIMAL(38,0)) AS mass
      FROM (SELECT b, n FROM cell WHERE grp = 1) a
      CROSS JOIN (SELECT b, n FROM cell WHERE grp = 2) v
      GROUP BY 1
    ), cum AS (
      SELECT db, mass,
             sum(mass) OVER (ORDER BY db
                             ROWS UNBOUNDED PRECEDING) AS c,
             sum(mass) OVER () AS tot,
             sum(CAST(db AS DECIMAL(38,0)) * mass) OVER () AS wsum
      FROM diffs
    ), med AS (
      SELECT min(db) AS hl, max(tot) AS tot, max(wsum) AS wsum
      FROM cum WHERE 2 * c >= tot
{_SQL_CLICK_VIEW_TOTS}
    )
    SELECT n1 AS n_click, n2 AS n_view,
           CAST(tot AS BIGINT) AS n_pairs,
           CAST(hl AS BIGINT) AS hl_shift_dollars,
           round(CAST(wsum AS DOUBLE) / CAST(tot AS DOUBLE), 6)
             AS mean_shift_dollars_r6
    FROM med CROSS JOIN tots
    """,
)
def q_ml_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Hodges-Lehmann shift estimator between click and view
    values: the median of all n1*n2 pairwise differences X_i - Y_j —
    the robust location-shift readout that pairs with Cliff's delta
    (delta says HOW CONSISTENTLY one sample dominates; HL says BY HOW
    MUCH, immune to outliers where the mean shift is not).

    Scale design: the declared whole-dollar banding (the mann_whitney /
    cliffs_delta contract) makes the difference distribution a
    <=981-value grid with DECIMAL(38,0) pair mass per value — the full
    n1*n2 pair multiset folds exactly to (diff, mass) rows, so the
    weighted median over it IS the exact HL estimator of the banded
    values at any corpus size, O(bands^2) never O(n^2). The house
    lower weighted median: smallest diff with 2*cum >= total (doubled
    compare, DECIMAL-exact, no halving division). The mean shift rides
    the same grid as Sum(db*mass)/total, round-6, for contrast.

    Output: one row — group sizes, total pair mass, the HL shift in
    whole dollars, and the mean shift."""
    a, v, tots = _click_view_dollars(spark, sf_dir)
    diffs = (
        a.crossJoin(F.broadcast(v))
        .groupBy((F.col("a.b") - F.col("v.b")).alias("db"))
        .agg(
            F.sum(F.col("a.n").cast("decimal(38,0)") * F.col("v.n"))
            .cast("decimal(38,0)")
            .alias("mass")
        )
    )
    w_cum = Window.orderBy("db").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("db").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = diffs.select(
        "db",
        F.sum("mass").over(w_cum).alias("c"),
        F.sum("mass").over(w_all).alias("tot"),
        F.sum(F.col("db").cast("decimal(38,0)") * F.col("mass"))
        .over(w_all)
        .alias("wsum"),
    )
    med = cum.filter(2 * F.col("c") >= F.col("tot")).agg(
        F.min("db").alias("hl"),
        F.max("tot").alias("tot"),
        F.max("wsum").alias("wsum"),
    )
    return med.crossJoin(F.broadcast(tots)).select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_view"),
        F.col("tot").cast("long").alias("n_pairs"),
        F.col("hl").cast("long").alias("hl_shift_dollars"),
        F.round(
            F.col("wsum").cast("double") / F.col("tot").cast("double"), 6
        ).alias("mean_shift_dollars_r6"),
    )


@query(
    "q_ml_sign_test",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(coalesce(sum(CASE WHEN event_type = 'click'
                  THEN {sql_cents('value')} END), 0) AS BIGINT) AS cc,
             CAST(coalesce(sum(CASE WHEN event_type = 'view'
                  THEN {sql_cents('value')} END), 0) AS BIGINT) AS vc
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1
    ), f AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(CASE WHEN cc > vc THEN 1 ELSE 0 END)
                  AS BIGINT) AS np,
             CAST(sum(CASE WHEN cc < vc THEN 1 ELSE 0 END)
                  AS BIGINT) AS nn,
             CAST(sum(CASE WHEN cc = vc THEN 1 ELSE 0 END)
                  AS BIGINT) AS nt
      FROM daily
    )
    SELECT n_days, np AS n_pos, nn AS n_neg, nt AS n_tie,
           round((abs(CAST(np - nn AS DOUBLE)) - 1)
                 / sqrt(CAST(nullif(np + nn, 0) AS DOUBLE)), 4)
             AS z_abs_r4,
           CAST(CASE WHEN (abs(CAST(np - nn AS DOUBLE)) - 1)
                          / sqrt(CAST(nullif(np + nn, 0) AS DOUBLE))
                          > {_Z95} THEN 1 ELSE 0 END AS BIGINT)
             AS reject_5pct
    FROM f
    """,
)
def q_ml_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test on daily click vs view revenue: does click
    revenue exceed view revenue on MORE days than chance explains? The
    weakest-assumption paired test (no symmetry, no scale — just signs;
    q_ml_wilcoxon_signed is its rank-weighted sibling on the same
    pairing), with the normal approximation under continuity
    correction: z = (|n_pos - n_neg| - 1) / sqrt(n_pos + n_neg),
    against the pinned two-sided 5% literal. Ties (equal daily cents)
    are counted and excluded from z — the classical treatment.

    Exactness: daily cents and the three sign counts are exact int64
    (one conditional day rollup, one fold); z is a <=4-term double
    expression with IDENTICAL trees in both engines, nullif-guarded so
    a degenerate all-tie fixture reads NULL in both (the ADVICE r12
    cochran precedent); round-4 once. The continuity-corrected z is
    -1/sqrt(m) when n_pos = n_neg — documented, not clamped.

    Plan: one fact pass (map-side combined day rollup, ~31 rows), one
    1-row fold. Identical cost at any corpus scale."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "click",
                        F.expr(
                            sql_cents("value")
                        ),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("cc"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "view",
                        F.expr(
                            sql_cents("value")
                        ),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("vc"),
        )
    )
    f = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("cc") > F.col("vc"), 1).otherwise(0))
        .cast("long")
        .alias("np"),
        F.sum(F.when(F.col("cc") < F.col("vc"), 1).otherwise(0))
        .cast("long")
        .alias("nn"),
        F.sum(F.when(F.col("cc") == F.col("vc"), 1).otherwise(0))
        .cast("long")
        .alias("nt"),
    )
    z = (
        F.abs((F.col("np") - F.col("nn")).cast("double")) - 1
    ) / F.sqrt(F.expr("CAST(nullif(np + nn, 0) AS DOUBLE)"))
    return f.select(
        "n_days",
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.col("nt").alias("n_tie"),
        F.round(z, 4).alias("z_abs_r4"),
        F.when(z > float(_Z95), 1).otherwise(0).cast("long").alias(
            "reject_5pct"
        ),
    )


@query(
    "q_ml_runs_test",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum({sql_cents('value')}) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), numbered AS (
      SELECT d, cents,
             row_number() OVER (ORDER BY cents, d) AS rn,
             count(*) OVER () AS nd
      FROM daily
    ), med AS (
      SELECT cents AS m FROM numbered WHERE rn = (nd + 1) // 2
    ), signs AS (
      SELECT d, CASE WHEN cents > m THEN 1 ELSE 0 END AS s
      FROM daily CROSS JOIN med WHERE cents <> m
    ), seq AS (
      SELECT s, lag(s) OVER (ORDER BY d) AS prev FROM signs
    ), f AS (
      SELECT CAST(sum(s) AS BIGINT) AS n1,
             CAST(sum(1 - s) AS BIGINT) AS n2,
             CAST(1 + sum(CASE WHEN prev IS NOT NULL AND s <> prev
                          THEN 1 ELSE 0 END) AS BIGINT) AS r
      FROM seq
    )
    SELECT n1 AS n_above, n2 AS n_below, r AS runs,
           round((CAST(r AS DOUBLE)
                  - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(nullif(2.0 * n1 * n2
                               * (2.0 * n1 * n2 - n1 - n2)
                               / (CAST(n1 + n2 AS DOUBLE)
                                  * (n1 + n2) * (n1 + n2 - 1)), 0)),
                 4) AS z_r4,
           CAST(CASE WHEN abs((CAST(r AS DOUBLE)
                  - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(nullif(2.0 * n1 * n2
                               * (2.0 * n1 * n2 - n1 - n2)
                               / (CAST(n1 + n2 AS DOUBLE)
                                  * (n1 + n2) * (n1 + n2 - 1)), 0)))
                     > {_Z95} THEN 1 ELSE 0 END AS BIGINT)
             AS reject_5pct
    FROM f
    """,
)
def q_ml_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily purchase revenue vs its own
    median: is the above/below-median sign sequence random, or does it
    cluster (momentum) / alternate (oscillation)? The randomness check
    a forecasting readout (q_ts_holt_forecast, q_ts_theta_forecast)
    should run FIRST — too few runs means serial dependence that
    invalidates iid residual assumptions (q_ts_ljung_box is its
    autocorrelation-strength sibling).

    Exactness: the exact lower median of the ~31-day series comes from
    row_number over (cents, d) — the house deterministic order
    statistic (q_ml_levene_bf's median idiom); days equal to the
    median are excluded (the classical treatment, >=1 day always —
    the median itself). Runs count = 1 + sign changes via lag over the
    date order. n1/n2/R are exact int64 on a <=62-row relation; z is
    one identical double tree (mu = 2n1n2/n + 1, the exact variance
    formula), nullif-guarded for the degenerate one-sided case,
    round-4 once.

    Plan: one fact pass (day rollup), then windows and folds over the
    ~31-row spine. Identical cost at any corpus scale."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                F.expr(
                    sql_cents("value")
                )
            )
            .cast("long")
            .alias("cents")
        )
        # the ~31-row day spine feeds the median scan AND the sign
        # sequence — one fact pass
        .transform(checkpoint)
    )
    w_rank = Window.orderBy("cents", "d")
    numbered = daily.select(
        "cents",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1))
        .over(
            Window.orderBy("cents", "d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("nd"),
    )
    med = numbered.filter(
        F.col("rn") == F.expr("(nd + 1) DIV 2")
    ).select(F.col("cents").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("m"))
        .select(
            "d",
            F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("s"),
        )
    )
    seq = signs.select(
        "s", F.lag("s").over(Window.orderBy("d")).alias("prev")
    )
    f = seq.agg(
        F.sum("s").cast("long").alias("n1"),
        F.sum(1 - F.col("s")).cast("long").alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("s") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("r"),
    )
    mu = 2.0 * F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2")) + 1
    var = F.expr(
        "nullif(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
        " / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1)), 0)"
    )
    z = (F.col("r").cast("double") - mu) / F.sqrt(var)
    return f.select(
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("runs"),
        F.round(z, 4).alias("z_r4"),
        F.when(F.abs(z) > float(_Z95), 1)
        .otherwise(0)
        .cast("long")
        .alias("reject_5pct"),
    )


@query(
    "q_ml_chisq_gof",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(count(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(obs) AS BIGINT) AS n FROM g
    ), dev AS (
      SELECT grp, obs, CAST(5 * obs - n AS BIGINT) AS dev5, n
      FROM g CROSS JOIN tot
    ), fold AS (
      SELECT CAST(sum(CAST(dev5 AS DECIMAL(38,0)) * dev5)
                  AS DECIMAL(38,0)) AS sumsq,
             max(n) AS n
      FROM dev
    )
    SELECT d.grp, d.obs, d.dev5,
           round(CAST(d.dev5 AS DOUBLE) * d.dev5 / (5.0 * d.n), 6)
             AS contrib_r6,
           round(CAST(f.sumsq AS DOUBLE) / (5.0 * f.n), 4) AS x2_r4,
           CAST(CASE WHEN CAST(f.sumsq AS DOUBLE) / (5.0 * f.n)
                          > {_CHI2_4_5PCT} THEN 1 ELSE 0 END AS BIGINT)
             AS reject_5pct
    FROM dev d CROSS JOIN fold f
    ORDER BY d.grp
    """,
)
def q_ml_chisq_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of the order-priority distribution
    against uniform — the one-sample sibling of q_ml_chi2_ab's
    independence test: X^2 = Sum (O - n/5)^2 / (n/5) over the five
    priorities, df = 4, against the pinned 9.488 literal. The
    distribution-drift check a partitioning/skew audit
    (q_scan_key_skew) wants as a verdict, not just a histogram.

    Exactness: the deviation carrier is the EXACT integer
    dev5 = 5*obs - n (the n/5 rational never materializes — the house
    denominator-clearing idiom), per-cell contributions are
    dev5^2/(5n) with dev5^2 folded in DECIMAL(38,0) (|dev5| <= 4n, so
    the square crosses int64 at ~7.6e8 orders — widened at
    registration); per-row contrib and the X^2 fold are identical
    double trees, round-6/round-4 once.

    Plan: one 5-row fact aggregation, then 1-row folds and broadcast
    crosses. One fact pass at any scale."""
    o = t(spark, sf_dir, "orders")
    g = (
        o.groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
        # the 5-row grid feeds the total, the deviations AND the fold
        .transform(checkpoint)
    )
    tot = g.agg(F.sum("obs").cast("long").alias("n"))
    dev = g.crossJoin(F.broadcast(tot)).select(
        "grp",
        "obs",
        (5 * F.col("obs") - F.col("n")).cast("long").alias("dev5"),
        "n",
    )
    fold = dev.agg(
        F.sum(F.col("dev5").cast("decimal(38,0)") * F.col("dev5"))
        .cast("decimal(38,0)")
        .alias("sumsq"),
        F.max("n").alias("n"),
    )
    x2 = F.col("sumsq").cast("double") / (5.0 * F.col("n"))
    return (
        dev.select("grp", "obs", "dev5", "n")
        .crossJoin(F.broadcast(fold.select("sumsq", F.col("n").alias("nf"))))
        .select(
            "grp",
            "obs",
            "dev5",
            F.round(
                F.col("dev5").cast("double") * F.col("dev5")
                / (5.0 * F.col("n")),
                6,
            ).alias("contrib_r6"),
            F.round(
                F.col("sumsq").cast("double") / (5.0 * F.col("nf")), 4
            ).alias("x2_r4"),
            F.when(
                F.col("sumsq").cast("double") / (5.0 * F.col("nf"))
                > float(_CHI2_4_5PCT),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("reject_5pct"),
        )
        .orderBy("grp")
    )


@query(
    "q_ml_mood_median",
    oracle=f"""
    WITH x AS (
      SELECT o_orderpriority AS grp,
             {sql_cents('o_totalprice')} AS cents,
             o_orderkey
      FROM orders
    ), marg AS MATERIALIZED (
      SELECT cents // 10000 AS b, CAST(count(*) AS BIGINT) AS cnt
      FROM x GROUP BY 1
    ), cum AS (
      SELECT b, cnt,
             sum(cnt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS c,
             sum(cnt) OVER () AS n
      FROM marg
    ), mb AS (
      SELECT min(b) AS medband FROM cum WHERE 2 * c >= n
    ), prior AS (
      SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS below,
             (SELECT CAST(max(n) AS BIGINT) FROM cum) AS n
      FROM cum CROSS JOIN mb WHERE b < medband
    ), within AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_orderkey) AS rn
      FROM x CROSS JOIN mb WHERE cents // 10000 = medband
    ), med AS (
      SELECT cents AS m FROM within CROSS JOIN prior
      WHERE rn = (n + 1) // 2 - below
    ), counts AS (
      SELECT grp,
             CAST(sum(CASE WHEN cents > m THEN 1 ELSE 0 END)
                  AS BIGINT) AS ab,
             CAST(sum(CASE WHEN cents < m THEN 1 ELSE 0 END)
                  AS BIGINT) AS bl,
             CAST(sum(CASE WHEN cents = m THEN 1 ELSE 0 END)
                  AS BIGINT) AS eq
      FROM x CROSS JOIN med GROUP BY grp
    ), ct AS (
      SELECT CAST(sum(ab) AS BIGINT) AS ta,
             CAST(sum(bl) AS BIGINT) AS tb,
             CAST(sum(ab + bl) AS BIGINT) AS n2
      FROM counts
    ), cells AS (
      SELECT c.grp, c.ab, c.bl, c.eq,
             CAST(c.ab + c.bl AS DOUBLE) * t.ta / nullif(t.n2, 0)
               AS ea,
             CAST(c.ab + c.bl AS DOUBLE) * t.tb / nullif(t.n2, 0)
               AS eb
      FROM counts c CROSS JOIN ct t
    ), fold AS (
      SELECT sum((c.ab - c.ea) * (c.ab - c.ea) / nullif(c.ea, 0)
                 + (c.bl - c.eb) * (c.bl - c.eb) / nullif(c.eb, 0))
               AS x2
      FROM cells c
    )
    SELECT c.grp, c.ab AS n_above, c.bl AS n_below, c.eq AS n_equal,
           round(c.ea, 4) AS expected_above_r4,
           round(f.x2, 4) AS x2_r4,
           CAST(CASE WHEN f.x2 > {_CHI2_4_5PCT} THEN 1 ELSE 0 END
                AS BIGINT) AS reject_5pct
    FROM cells c CROSS JOIN fold f
    ORDER BY c.grp
    """,
)
def q_ml_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five order priorities: do the
    groups share a median? Counts above/below the GRAND median fold to
    a 2x5 contingency chi-square (df = 4, pinned 9.488) — the
    center-comparison ladder's third rung (means: q_ml_anova_f; ranks:
    q_ml_kruskal_wallis; medians: here), the one robust to both
    outliers AND shape differences.

    Scale design — the banded two-phase exact grand median: a global
    fact-scale sort would be the 100 TB anti-pattern, so phase 1 folds
    the corpus to the <=5001-band $100 marginal (the kruskal banding
    grid), locates the median band via the doubled-cumulative compare
    (2*cum >= n — no halving division), and phase 2 ranks ONLY the
    median band's rows (~n/5001 — a few thousand at 100x) with the
    deterministic (cents, o_orderkey) order to extract the exact lower
    median value. Rows equal to the median are excluded from the
    contingency (the classical treatment) and REPORTED as n_equal.

    Exactness: all counts exact int64; expected cells and the X^2 fold
    are identical double trees (nullif-guarded for a degenerate
    single-sided split), round-4 once.

    Plan: three fact passes (band marginal; median-band filter; the
    above/below rollup) — each one map-side-combined scan, the
    in-between relations all domain-bounded. The median-band window
    ranks ~n/5001 rows in one task BY CONSTRUCTION of the banding."""
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            sql_cents("o_totalprice")
        ).alias("cents"),
        "o_orderkey",
    )
    marg = (
        x.groupBy(F.expr("cents DIV 10000").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # the <=5001-band marginal feeds the cumulative locate AND the
        # prior-mass fold
        .transform(checkpoint)
    )
    w_cum = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = marg.select(
        "b",
        "cnt",
        F.sum("cnt").over(w_cum).alias("c"),
        F.sum("cnt").over(w_all).alias("n"),
    ).transform(checkpoint)
    mb = cum.filter(2 * F.col("c") >= F.col("n")).agg(
        F.min("b").alias("medband")
    )
    prior = (
        cum.crossJoin(F.broadcast(mb))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("b") < F.col("medband"), F.col("cnt"))),
                F.lit(0),
            )
            .cast("long")
            .alias("below"),
            F.max("n").cast("long").alias("n"),
        )
    )
    within = (
        x.crossJoin(F.broadcast(mb))
        .filter(F.expr("cents DIV 10000") == F.col("medband"))
        .select(
            "cents",
            F.row_number()
            .over(Window.orderBy("cents", "o_orderkey"))
            .alias("rn"),
        )
    )
    med = (
        within.crossJoin(F.broadcast(prior))
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2 - below"))
        .select(F.col("cents").alias("m"))
    )
    counts = (
        x.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.sum(F.when(F.col("cents") > F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("ab"),
            F.sum(F.when(F.col("cents") < F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("bl"),
            F.sum(F.when(F.col("cents") == F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("eq"),
        )
        # the 5-row contingency feeds the column totals, the expected
        # cells AND the X^2 fold
        .transform(checkpoint)
    )
    ct = counts.agg(
        F.sum("ab").cast("long").alias("ta"),
        F.sum("bl").cast("long").alias("tb"),
        F.sum(F.col("ab") + F.col("bl")).cast("long").alias("n2"),
    )
    cells = counts.crossJoin(F.broadcast(ct)).select(
        "grp",
        "ab",
        "bl",
        "eq",
        (
            (F.col("ab") + F.col("bl")).cast("double")
            * F.col("ta")
            / F.expr("nullif(n2, 0)")
        ).alias("ea"),
        (
            (F.col("ab") + F.col("bl")).cast("double")
            * F.col("tb")
            / F.expr("nullif(n2, 0)")
        ).alias("eb"),
    )
    fold = cells.agg(
        F.sum(
            (F.col("ab") - F.col("ea"))
            * (F.col("ab") - F.col("ea"))
            / F.expr("nullif(ea, 0)")
            + (F.col("bl") - F.col("eb"))
            * (F.col("bl") - F.col("eb"))
            / F.expr("nullif(eb, 0)")
        ).alias("x2")
    )
    return (
        cells.crossJoin(F.broadcast(fold))
        .select(
            "grp",
            F.col("ab").alias("n_above"),
            F.col("bl").alias("n_below"),
            F.col("eq").alias("n_equal"),
            F.round("ea", 4).alias("expected_above_r4"),
            F.round("x2", 4).alias("x2_r4"),
            F.when(F.col("x2") > float(_CHI2_4_5PCT), 1)
            .otherwise(0)
            .cast("long")
            .alias("reject_5pct"),
        )
        .orderBy("grp")
    )


@query(
    "q_ml_prop_ci_wilson",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    )
    SELECT grp, n, x,
           round(CAST(x AS DOUBLE) / n, 6) AS p_hat_r6,
           round(((CAST(x AS DOUBLE) / n + {_Z95} * {_Z95} / (2.0 * n))
                  - ({_Z95} / (1.0 + {_Z95} * {_Z95} / n))
                    * sqrt((CAST(x AS DOUBLE) / n)
                           * (1 - CAST(x AS DOUBLE) / n) / n
                           + {_Z95} * {_Z95} / (4.0 * n * n))
                    * (1.0 + {_Z95} * {_Z95} / n))
                 / (1.0 + {_Z95} * {_Z95} / n), 6) AS wilson_lo_r6,
           round(((CAST(x AS DOUBLE) / n + {_Z95} * {_Z95} / (2.0 * n))
                  + ({_Z95} / (1.0 + {_Z95} * {_Z95} / n))
                    * sqrt((CAST(x AS DOUBLE) / n)
                           * (1 - CAST(x AS DOUBLE) / n) / n
                           + {_Z95} * {_Z95} / (4.0 * n * n))
                    * (1.0 + {_Z95} * {_Z95} / n))
                 / (1.0 + {_Z95} * {_Z95} / n), 6) AS wilson_hi_r6
    FROM g ORDER BY grp
    """,
)
def q_ml_prop_ci_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence intervals for the fulfilled-order
    share ('F' status) per priority — the proportion CI every A/B and
    SLA dashboard renders next to the point estimate. Wilson over Wald
    deliberately: it never leaves [0,1], stays honest at extreme p,
    and is the interval q_ml_bayes_ab's posterior summary approximates
    at scale.

    Exactness: n and x are exact int64 from one conditional fact
    aggregation; the Wilson algebra — center (p + z^2/2n)/(1 + z^2/n),
    half-width (z/(1+z^2/n))*sqrt(p(1-p)/n + z^2/4n^2) — is ONE
    identical double expression tree per bound in both engines with
    the pinned z = 1.96 literal, round-6 once at the boundary.

    Plan: one map-side-combined 5-row aggregation, then scalar
    projection. One fact pass at any scale."""
    o = t(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    z = float(_Z95)
    p = F.col("x").cast("double") / F.col("n")
    zz_n = z * z / F.col("n")
    half = (z / (1.0 + zz_n)) * F.sqrt(
        p * (1 - p) / F.col("n")
        + z * z / (4.0 * F.col("n") * F.col("n"))
    )
    center_num = p + z * z / (2.0 * F.col("n"))
    return g.select(
        "grp",
        "n",
        "x",
        F.round(p, 6).alias("p_hat_r6"),
        F.round(
            (center_num - half * (1.0 + zz_n)) / (1.0 + zz_n), 6
        ).alias("wilson_lo_r6"),
        F.round(
            (center_num + half * (1.0 + zz_n)) / (1.0 + zz_n), 6
        ).alias("wilson_hi_r6"),
    ).orderBy("grp")


@query(
    "q_llm_mattr",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ), tok AS (
      SELECT doc_id, lang,
             (pt.pos - 1) // {_MATTR_W} AS win, pt.term AS term
      FROM (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, len(w) + 1),
                      i -> {{'pos': i, 'term': w[i]}})) AS pt
        FROM words) e
    ), wins AS (
      SELECT doc_id, lang, win,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(count(DISTINCT term) AS BIGINT) AS uniq
      FROM tok GROUP BY 1, 2, 3
    ), per_doc AS (
      SELECT doc_id, lang,
             CAST(count(*) AS BIGINT) AS nw,
             CAST(sum(uniq) AS BIGINT) AS su,
             CAST((2 * 1000 * sum(uniq) + {_MATTR_W} * count(*))
                  // (2 * {_MATTR_W} * count(*)) AS BIGINT) AS permille
      FROM wins WHERE cnt = {_MATTR_W} GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST((2 * sum(permille) + count(*))
                // (2 * count(*)) AS BIGINT) AS avg_mattr_permille,
           CAST(min(permille) AS BIGINT) AS min_mattr_permille,
           CAST(max(permille) AS BIGINT) AS max_mattr_permille
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def q_llm_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR — moving-average type-token ratio over fixed 25-token
    windows, the standard length-robust lexical-diversity score for
    corpus curation (plain TTR shrinks with document length, so it
    cannot rank docs; MATTR windows it away). Low MATTR flags
    repetitive/templated text the quality funnel (q_llm_gopher_rules,
    q_llm_repetition) should drop; the per-lang floor/ceiling columns
    are the curation thresholds a dataset card reports.

    Semantics: whitespace tokens (the q_llm_token_count convention) in
    document order; FULL windows only (docs shorter than 25 tokens
    carry no window and drop — declared); per-window TTR =
    distinct/25; per-doc MATTR = mean over windows, carried as the
    exact half-up permille (2*1000*su + W*nw) // (2*W*nw) — positive
    integers, so floor-vs-truncate never diverges; the per-lang mean
    of per-doc permilles uses the same doubled half-up idiom. Spark's
    0-based posexplode aligns with the oracle's 1-based list indexing
    via (pos - 1) // W on the oracle side.

    Plan: map-side split+posexplode (linear in tokens, no text
    shuffle), one (doc, win) aggregation with partial count-distinct,
    one doc rollup, one ~5-row lang rollup. All shuffles carry token
    hashes/counts, never documents."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.posexplode(F.split("text", " ")).alias("pos0", "term"),
    ).select(
        "doc_id",
        "lang",
        F.expr(f"pos0 DIV {_MATTR_W}").alias("win"),
        "term",
    )
    wins = tok.groupBy("doc_id", "lang", "win").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.countDistinct("term").cast("long").alias("uniq"),
    )
    per_doc = (
        wins.filter(F.col("cnt") == _MATTR_W)
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nw"),
            F.sum("uniq").cast("long").alias("su"),
        )
        .select(
            "lang",
            F.expr(
                f"CAST((2 * 1000 * su + {_MATTR_W} * nw)"
                f" DIV (2 * {_MATTR_W} * nw) AS BIGINT)"
            ).alias("permille"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr(
                "CAST((2 * sum(permille) + count(1))"
                " DIV (2 * count(1)) AS BIGINT)"
            ).alias("avg_mattr_permille"),
            F.min("permille").cast("long").alias("min_mattr_permille"),
            F.max("permille").cast("long").alias("max_mattr_permille"),
        )
        .orderBy("lang")
    )


# ---- wave 3: remaining classical-test completions ----

_CHI2_4_5PCT_B = "9.488"  # chi-square(4) upper 5% — Bartlett k=5
_Z_1SIDED_5PCT = "1.6449"  # one-sided normal 5% — JT ordered alternative


@query(
    "q_ml_bartlett_test",
    oracle=f"""
    WITH x AS (
      SELECT o_orderpriority AS grp,
             {sql_cents('o_totalprice')} AS cents
      FROM orders
    ), g AS (
      SELECT grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents)
                  AS DECIMAL(38,0)) AS q
      FROM x GROUP BY grp
    ), v AS (
      SELECT grp, n,
             CAST(n * q - CAST(s AS DECIMAL(38,0)) * s AS DOUBLE)
               / nullif(CAST(n AS DOUBLE) * (n - 1), 0) AS vi
      FROM g
    ), fold AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             sum((n - 1) * ln(nullif(vi, 0))) AS sum_lnv,
             sum((n - 1) * vi) AS ss_total,
             sum(1.0 / nullif(n - 1, 0)) AS sum_inv
      FROM v
    ), alg AS (
      SELECT k, nn,
             ((nn - k) * ln(nullif(ss_total, 0) / nullif(nn - k, 0))
                - sum_lnv)
               / (1.0 + (sum_inv - 1.0 / nullif(nn - k, 0))
                  / (3.0 * (k - 1))) AS t,
             1.0 + (sum_inv - 1.0 / nullif(nn - k, 0))
               / (3.0 * (k - 1)) AS c
      FROM fold
    )
    SELECT k, nn AS n, round(t, 4) AS bartlett_t_r4,
           round(c, 6) AS c_r6,
           CAST(CASE WHEN t > {_CHI2_4_5PCT_B} THEN 1 ELSE 0 END
                AS BIGINT) AS reject_5pct
    FROM alg
    """,
)
def q_ml_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of equal variances across the five order
    priorities — the PARAMETRIC sibling of q_ml_levene_bf on the same
    domain: maximally powerful under normality, fragile off it, which
    is exactly why a readout runs BOTH (Bartlett rejecting while
    Brown-Forsythe doesn't flags non-normality rather than variance
    drift). T = [(N-k) ln(s_p^2) - Sum (n_i-1) ln(s_i^2)] / C with the
    standard Box correction C, df = 4, pinned 9.488.

    Exactness: per-group (n, Sum cents, Sum cents^2-as-DECIMAL(38,0))
    from one aggregation; each group's centered carrier
    n_i*q_i - s_i^2 is EXACT DECIMAL(38,0) (the welch_t idiom widened
    — the product reaches ~2e28 at 100x, far past int64 but 10
    decades inside DECIMAL(38)); variances, logs, and the T/C algebra
    are identical double trees in both engines, round-4/round-6 once.

    Plan: one map-side-combined 5-row aggregation + 1-row folds. One
    fact pass at any scale."""
    o = t(spark, sf_dir, "orders")
    g = (
        o.select(
            F.col("o_orderpriority").alias("grp"),
            F.expr(
                sql_cents("o_totalprice")
            ).alias("cents"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
            .cast("decimal(38,0)")
            .alias("q"),
        )
    )
    v = g.select(
        "grp",
        "n",
        (
            (
                F.col("n") * F.col("q")
                - F.col("s").cast("decimal(38,0)") * F.col("s")
            ).cast("double")
            / F.expr("nullif(CAST(n AS DOUBLE) * (n - 1), 0)")
        ).alias("vi"),
    )
    fold = v.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        # ln(nullif(vi,0)): a constant-valued group has EXACTLY
        # vi = 0 (the centered carrier is exact DECIMAL, never float-
        # negative) and DuckDB's ln(0) hard-errors while Spark returns
        # NULL — nullif makes both engines agree on NULL (the ADVICE
        # r12 degenerate-denominator discipline).
        F.sum(
            (F.col("n") - 1) * F.log(F.expr("nullif(vi, 0)"))
        ).alias("sum_lnv"),
        F.sum((F.col("n") - 1) * F.col("vi")).alias("ss_total"),
        F.sum(1.0 / F.expr("nullif(n - 1, 0)")).alias("sum_inv"),
    )
    c = 1.0 + (
        F.col("sum_inv") - 1.0 / F.expr("nullif(nn - k, 0)")
    ) / (3.0 * (F.col("k") - 1))
    tstat = (
        (F.col("nn") - F.col("k"))
        * F.log(
            F.expr("nullif(ss_total, 0)") / F.expr("nullif(nn - k, 0)")
        )
        - F.col("sum_lnv")
    ) / c
    return fold.select(
        "k",
        F.col("nn").alias("n"),
        F.round(tstat, 4).alias("bartlett_t_r4"),
        F.round(c, 6).alias("c_r6"),
        F.when(tstat > float(_CHI2_4_5PCT_B), 1)
        .otherwise(0)
        .cast("long")
        .alias("reject_5pct"),
    )


@query(
    "q_ml_jonckheere",
    oracle=f"""
    WITH x AS (
      SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g,
             {sql_cents('o_totalprice')} // 10000 AS b
      FROM orders
    ), grid AS MATERIALIZED (
      SELECT b, g, CAST(count(*) AS BIGINT) AS c
      FROM x GROUP BY 1, 2
    ), dense AS (
      SELECT bands.b, grps.g, CAST(coalesce(grid.c, 0) AS BIGINT) AS c0
      FROM (SELECT DISTINCT b FROM grid) bands
      CROSS JOIN (SELECT DISTINCT g FROM grid) grps
      LEFT JOIN grid ON grid.b = bands.b AND grid.g = grps.g
    ), mat AS MATERIALIZED (
      SELECT b, g, c0,
             CAST(coalesce(sum(c0) OVER (PARTITION BY g ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS BIGINT) AS below
      FROM dense
    ), jt AS (
      SELECT CAST(sum(CAST(j.c0 AS DECIMAL(38,0))
                      * (2 * i.below + i.c0)) AS DECIMAL(38,0)) AS jt2
      FROM mat i JOIN mat j ON j.b = i.b AND i.g < j.g
    ), sizes AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(ng * ng) AS DECIMAL(38,0)) AS sn2,
             sum(CAST(ng AS DOUBLE) * ng * (2.0 * ng + 3)) AS sn23
      FROM (SELECT g, CAST(sum(c) AS BIGINT) AS ng, CAST(sum(c) AS BIGINT) AS c
            FROM grid GROUP BY g)
    )
    SELECT s.n,
           CAST(j.jt2 AS BIGINT) AS jt2,
           round((CAST(s.n AS DOUBLE) * s.n - CAST(s.sn2 AS DOUBLE))
                 / 4.0, 4) AS mean_jt_r4,
           round((CAST(j.jt2 AS DOUBLE) / 2
                  - (CAST(s.n AS DOUBLE) * s.n
                     - CAST(s.sn2 AS DOUBLE)) / 4.0)
                 / sqrt(nullif((CAST(s.n AS DOUBLE) * s.n
                                * (2.0 * s.n + 3) - s.sn23) / 72.0, 0)),
                 4) AS z_r4,
           CAST(CASE WHEN (CAST(j.jt2 AS DOUBLE) / 2
                  - (CAST(s.n AS DOUBLE) * s.n
                     - CAST(s.sn2 AS DOUBLE)) / 4.0)
                 / sqrt(nullif((CAST(s.n AS DOUBLE) * s.n
                                * (2.0 * s.n + 3) - s.sn23) / 72.0, 0))
                     > {_Z_1SIDED_5PCT} THEN 1 ELSE 0 END AS BIGINT)
             AS reject_1sided_5pct
    FROM jt j CROSS JOIN sizes s
    """,
)
def q_ml_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test across the five
    order priorities (ordinal 1-5): do order totals trend MONOTONICALLY
    with priority? The k-sample ORDERED completion of the trend family
    — q_ml_kruskal_wallis tests ANY difference (unordered),
    q_ml_page_trend tests per-subject orderings; JT pools the 10
    ordered pairwise Mann-Whitney U's: JT = Sum_{{i<j}} U_ij, tested
    one-sided against the pinned 1.6449 literal with the standard
    large-sample no-tie moments (the page_trend formula contract).

    Scale design: the DOUBLED integer carrier
    2*U_ij = Sum_b c_j(b)*(2*below_i(b) + c_i(b)) folds over the
    zero-filled $100-band x group matrix (<=5001 x 5 rows — the
    kruskal banding grid densified so cumulative-below counts align
    across groups), joined band-to-band with g_i < g_j — O(bands x
    k^2), never O(n^2). 2JT and Sum n_g^2 carry DECIMAL(38,0) (pair
    mass ~ n^2/2 — the gamma law class); z is one identical double
    tree (mu = (N^2 - Sum n_g^2)/4, sigma^2 = [N^2(2N+3) -
    Sum n_g^2(2n_g+3)]/72), nullif-guarded, round-4 once.

    Plan: one (band, grp) fact agg (the only fact-scale shuffle), a
    bounded densify cross + per-group cumulative window, one
    band-equi self-join of the <=25005-row matrix, 1-row folds."""
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.expr(
            "CAST(substring(o_orderpriority, 1, 1) AS BIGINT)"
        ).alias("g"),
        F.expr(
            f"{sql_cents('o_totalprice')}"
            " DIV 10000"
        ).alias("b"),
    )
    grid = (
        x.groupBy("b", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # the <=25005-cell grid feeds the densify, the matrix AND the
        # group sizes — one fact pass
        .transform(checkpoint)
    )
    bands = grid.select("b").distinct()
    grps = grid.select("g").distinct()
    dense = (
        bands.crossJoin(F.broadcast(grps))
        .join(grid, ["b", "g"], "left")
        .select(
            "b", "g", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c0")
        )
    )
    w_below = Window.partitionBy("g").orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    mat = dense.select(
        "b",
        "g",
        "c0",
        F.coalesce(F.sum("c0").over(w_below), F.lit(0))
        .cast("long")
        .alias("below"),
    ).transform(checkpoint)
    i = mat.alias("i")
    j = mat.alias("j")
    jt = i.join(
        F.broadcast(j),
        (F.col("j.b") == F.col("i.b")) & (F.col("i.g") < F.col("j.g")),
    ).agg(
        F.sum(
            F.col("j.c0").cast("decimal(38,0)")
            * (2 * F.col("i.below") + F.col("i.c0"))
        )
        .cast("decimal(38,0)")
        .alias("jt2")
    )
    per_g = grid.groupBy("g").agg(F.sum("c").cast("long").alias("ng"))
    sizes = per_g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum(F.col("ng").cast("decimal(38,0)") * F.col("ng"))
        .cast("decimal(38,0)")
        .alias("sn2"),
        F.sum(
            F.col("ng").cast("double") * F.col("ng") * (2.0 * F.col("ng") + 3)
        ).alias("sn23"),
    )
    mu = (
        F.col("n").cast("double") * F.col("n") - F.col("sn2").cast("double")
    ) / 4.0
    var = F.expr(
        "nullif((CAST(n AS DOUBLE) * n * (2.0 * n + 3) - sn23) / 72.0, 0)"
    )
    z = (F.col("jt2").cast("double") / 2 - mu) / F.sqrt(var)
    return jt.crossJoin(F.broadcast(sizes)).select(
        "n",
        F.col("jt2").cast("long").alias("jt2"),
        F.round(mu, 4).alias("mean_jt_r4"),
        F.round(z, 4).alias("z_r4"),
        F.when(z > float(_Z_1SIDED_5PCT), 1)
        .otherwise(0)
        .cast("long")
        .alias("reject_1sided_5pct"),
    )


# ---- coda wave: likelihood-ratio test + lexical diversity ----

_CHI2_8_5PCT = "15.507"  # chi-square(8) upper 5% — 5x3 grid df=(5-1)(3-1)


@query(
    "q_ml_g_test",
    oracle=f"""
    WITH cell AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ), rx AS (
      SELECT x, CAST(sum(o) AS BIGINT) AS r FROM cell GROUP BY x
    ), cy AS (
      SELECT y, CAST(sum(o) AS BIGINT) AS c FROM cell GROUP BY y
    ), tot AS (
      SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(DISTINCT x) AS BIGINT) AS nx,
             CAST(count(DISTINCT y) AS BIGINT) AS ny
      FROM cell
    ), g AS (
      SELECT sum(CASE WHEN cell.o > 0
                 THEN CAST(cell.o AS DOUBLE)
                      * ln(CAST(cell.o AS DOUBLE)
                           / (CAST(rx.r AS DOUBLE) * cy.c
                              / nullif(t.n, 0)))
                 ELSE 0 END) AS s
      FROM cell
      JOIN rx ON rx.x = cell.x
      JOIN cy ON cy.y = cell.y
      CROSS JOIN tot t
    )
    SELECT t.n,
           CAST((t.nx - 1) * (t.ny - 1) AS BIGINT) AS df,
           round(2 * g.s, 4) AS g_r4,
           CAST(CASE WHEN 2 * g.s > {_CHI2_8_5PCT}
                THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
    FROM g CROSS JOIN tot t
    """,
)
def q_ml_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (likelihood-ratio chi-square) of independence between
    order priority and status — the information-theoretic sibling of
    q_ml_chi2_ab's Pearson form (G = 2·I(X;Y)·N in nats, so it IS the
    mutual information q_ml_theil_u normalizes, recast as a test
    statistic): G = 2 Σ O·ln(O/E), df = (5-1)(3-1) = 8, against the
    pinned 15.507 literal. Pearson and G diverge exactly when some
    cell is sparse — run both.

    Exactness: the ≤15-cell grid, both margins and the total are exact
    int64 from one aggregation; E = r·c/n and the O·ln(O/E) terms are
    identical double trees in both engines, with empty cells
    contributing EXACTLY 0 via the O > 0 CASE (the x·ln x → 0
    convention made explicit, not left to NULL propagation) and the
    total nullif-guarded (the measured ANSI degenerate law); round-4
    once.

    Plan: one map-side-combined 15-row agg (the only fact-scale
    shuffle), broadcast margin joins on the tiny grid, 1-row folds."""
    o = t(spark, sf_dir, "orders")
    cell = (
        o.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        # the <=15-cell grid feeds both margins, the total AND the fold
        .transform(checkpoint)
    )
    rx = cell.groupBy("x").agg(F.sum("o").cast("long").alias("r"))
    cy = cell.groupBy("y").agg(F.sum("o").cast("long").alias("c"))
    tot = cell.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("x").cast("long").alias("nx"),
        F.countDistinct("y").cast("long").alias("ny"),
    )
    term = F.when(
        F.col("o") > 0,
        F.col("o").cast("double")
        * F.log(
            F.col("o").cast("double")
            / (
                F.col("r").cast("double")
                * F.col("c")
                / F.expr("nullif(n, 0)")
            )
        ),
    ).otherwise(F.lit(0))
    g = (
        cell.join(F.broadcast(rx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(term).alias("s"))
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "n",
        ((F.col("nx") - 1) * (F.col("ny") - 1)).cast("long").alias("df"),
        F.round(2 * F.col("s"), 4).alias("g_r4"),
        F.when(2 * F.col("s") > float(_CHI2_8_5PCT), 1)
        .otherwise(0)
        .cast("long")
        .alias("reject_5pct"),
    )


@query(
    "q_llm_simpson_diversity",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), tf AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(CAST(sum(CAST(c AS DECIMAL(38,0)) * (c - 1))
                      AS DOUBLE)
                 / nullif(CAST(sum(c) AS DOUBLE)
                          * (sum(c) - 1), 0), 6) AS repeat_prob_r6,
           round(1 - CAST(sum(CAST(c AS DECIMAL(38,0)) * (c - 1))
                          AS DOUBLE)
                 / nullif(CAST(sum(c) AS DOUBLE)
                          * (sum(c) - 1), 0), 6)
             AS simpson_diversity_r6,
           round(1 / nullif(CAST(sum(CAST(c AS DECIMAL(38,0))
                                      * (c - 1)) AS DOUBLE)
                 / nullif(CAST(sum(c) AS DOUBLE)
                          * (sum(c) - 1), 0), 0), 4)
             AS eff_vocab_r4
    FROM tf GROUP BY lang ORDER BY lang
    """,
)
def q_llm_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson lexical diversity per language — the unbiased
    repeat-probability index completing the diversity block (zipf fits
    the rank law, heaps the growth law, MATTR the windowed TTR;
    Simpson's D = Σ n_i(n_i−1) / (N(N−1)) is the probability two
    random tokens coincide, and 1/D is the effective vocabulary size a
    sampling-based curation budget actually wants). Low diversity =
    templated/repetitive text, same signal family as q_llm_repetition
    but corpus-level.

    Exactness: type frequencies exact int64 from one (lang, token)
    aggregation; the collision mass Σ n_i(n_i−1) folds in
    DECIMAL(38,0) (a degenerate single-token corpus makes it N² — the
    gamma pair-mass class, widened at registration); D / 1−D / 1/D
    are identical double trees with nullif guards on BOTH the N(N−1)
    denominator and D itself (single-type and empty-lang degenerates
    read NULL in both engines); round-6/round-4 once.

    Plan: map-side split+explode (no text shuffle — tokens hash to the
    (lang, w) agg), one ~5-row lang rollup. One corpus pass."""
    d = t(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    coll = F.sum(
        F.col("c").cast("decimal(38,0)") * (F.col("c") - 1)
    ).cast("decimal(38,0)")
    lang = tf.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        coll.alias("coll"),
    )
    dprob = F.col("coll").cast("double") / F.expr(
        "nullif(CAST(n_tokens AS DOUBLE) * (n_tokens - 1), 0)"
    )
    return lang.select(
        "lang",
        "n_tokens",
        "n_types",
        F.round(dprob, 6).alias("repeat_prob_r6"),
        F.round(1 - dprob, 6).alias("simpson_diversity_r6"),
        F.round(1 / F.expr(
            "nullif(CAST(coll AS DOUBLE)"
            " / nullif(CAST(n_tokens AS DOUBLE) * (n_tokens - 1), 0),"
            " 0)"
        ), 4).alias("eff_vocab_r4"),
    ).orderBy("lang")
