"""Round-12 series-representation operators (SURVEY.md §2 ts family):
exact dyadic EWMA, the SAD matrix profile (discord discovery), and
PAA + SAX symbolization — the time-series REPRESENTATION block that
the smoothing/forecasting keys (Holt, Holt-Winters, Croston, LTTB, M4)
don't cover: a recursive filter made closed-form, a similarity
self-profile, and a symbolic compression.

All three run over the daily purchase-revenue series (the shared
zero-float carrier: whole cents from the DECIMAL(18,2) cast law) and
are exact-integer end to end — even the EWMA, whose λ=1/2 recursion is
carried as a dyadic integer (see q_ts_ewma_exact; the float-pow
q_ts_ewma in timeseries.py remains the general-λ member).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.registry import query
from khose_spark.sqlutil import sql_cents
from khose_spark.tables import t

_DAILY_CENTS_SQL = f"""
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum({sql_cents('value')}) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
"""

# The daily series numbered by observed day (day_no from 1): the
# ``daily`` and ``numbered`` CTEs, the last left open.
_NUMBERED_DAILY_SQL = f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), numbered AS (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS day_no
      FROM daily"""


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared daily purchase-revenue relation (exact whole cents)."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return (
        ev.select(
            F.to_date("ts").alias("d"),
            F.expr(
                sql_cents("value")
            ).alias("c"),
        )
        .groupBy("d")
        .agg(F.sum("c").cast("long").alias("cents"))
    )


# The dyadic-carrier keys shift a BIGINT 1 left by (day_no - 1) and the
# house half-up doubling multiplies the denominator by 2 again, so the
# int64 lane is exact only while the observed-day count stays <= 62
# (2 * 2^61 < 2^63). The fixture spans ~31 days at every decade (the
# scale ladder replicates VOLUME, not the calendar), but past the bound
# Spark's shiftleft would WRAP silently while DuckDB's HUGEINT path
# diverges (ADVICE r12) — so the bound is asserted in-plan: assert_true
# raises loudly on the first >62-day series instead of hash-mismatching.
_MAX_DYADIC_DAYS = 62


def _dyadic_bound_ok(key: str):
    """NULL when day_no is in the exact int64 dyadic range; raises
    otherwise. Use as ``F.when(_dyadic_bound_ok(k), value)`` so the
    guard rides the projection without changing the output schema."""
    return F.assert_true(
        F.col("day_no") <= F.lit(_MAX_DYADIC_DAYS),
        F.lit(
            f"{key}: dyadic int64 carrier bound exceeded "
            f"(series > {_MAX_DYADIC_DAYS} observed days — widen the "
            "carrier to DECIMAL(38,0) shifts or re-window the series)"
        ),
    ).isNull()


@query(
    "q_ts_ewma_exact",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), numbered AS (
      SELECT d, cents,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS day_no
      FROM daily
    ), carrier AS (
      SELECT d, day_no, cents,
             sum(CAST(cents AS DECIMAL(38,0))
                 * (CAST(1 AS BIGINT)
                    << CAST(greatest(day_no - 2, 0) AS INT)))
               OVER (ORDER BY day_no ROWS UNBOUNDED PRECEDING)
               AS e_carrier
      FROM numbered
    )
    SELECT CAST(d AS VARCHAR) AS day, day_no, cents,
           CAST((2 * 1000 * CAST(e_carrier AS HUGEINT)
                 + (CAST(1 AS BIGINT) << CAST(day_no - 1 AS INT)))
                // (2 * (CAST(1 AS BIGINT) << CAST(day_no - 1 AS INT)))
                AS BIGINT) AS ewma_milli
    FROM carrier ORDER BY day_no
    """,
)
def q_ts_ewma_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA of daily revenue with λ=1/2, computed EXACTLY — the
    integer-carrier twin of the float q_ts_ewma (timeseries.py) — no float
    recursion and no recursive CTE: e_t = (x_t + e_{t-1})/2 with
    e_1 = x_1 unrolls to the closed form
    E_t := 2^(t-1)·e_t = x_1 + Σ_{i=2..t} 2^(i-2)·x_i — a dyadic
    integer CARRIER that is just a weighted running sum. The smoothed
    value returns as exact half-up milli-cents via the house doubled
    division against the 2^(t-1) denominator. The λ=1/2 dyadic trick is
    what lets a recursive filter join the hash-checked board exactly
    (Holt/Croston pay a recursive-CTE oracle for arbitrary λ; this is
    the closed-form member).

    Carrier magnitude: day T≈31 ⇒ weight 2^29; daily cents ~5e8 at
    sf0.1 ⇒ terms ~2.7e17 and E_T ~5.4e17 — inside int64 at the graded
    scales, but ×3000 at the events decade crosses 9.2e18, so the fold
    runs in DECIMAL(38,0) from registration (the linreg precedent; 20
    decades of headroom).

    Plan: one pushed (day) rollup (the only fact-scale work) + one
    ordered running-sum window over the ~31-row day spine. At 100 TB
    the day relation stays days-bounded; nothing else moves."""
    daily = _daily_cents(spark, sf_dir)
    w_no = Window.orderBy("d")
    numbered = daily.select(
        "d",
        "cents",
        F.row_number().over(w_no).cast("long").alias("day_no"),
    )
    w_run = Window.orderBy("day_no").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    weight = F.expr(
        "shiftleft(CAST(1 AS BIGINT),"
        " CAST(greatest(day_no - 2, 0) AS INT))"
    )
    carrier = numbered.select(
        "d",
        "day_no",
        "cents",
        F.sum(F.col("cents").cast("decimal(38,0)") * weight)
        .over(w_run)
        .alias("e_carrier"),
    )
    return carrier.select(
        F.col("d").cast("string").alias("day"),
        "day_no",
        "cents",
        F.when(
            _dyadic_bound_ok("q_ts_ewma_exact"),
            F.expr(
                "CAST((2 * 1000 * e_carrier"
                " + shiftleft(CAST(1 AS BIGINT), CAST(day_no - 1 AS INT)))"
                " DIV (2 * shiftleft(CAST(1 AS BIGINT),"
                " CAST(day_no - 1 AS INT))) AS BIGINT)"
            ),
        ).alias("ewma_milli"),
    ).orderBy("day_no")


_MP_W = 5  # matrix-profile subsequence length (days)
_MP_EXCL = 3  # trivial-match exclusion zone: |a - b| >= 3 (> w/2)


@query(
    "q_ts_sad_profile",
    oracle=f"""
{_NUMBERED_DAILY_SQL}
    ), win AS (
      SELECT day_no AS a,
             cents AS v0,
             lead(cents, 1) OVER (ORDER BY day_no) AS v1,
             lead(cents, 2) OVER (ORDER BY day_no) AS v2,
             lead(cents, 3) OVER (ORDER BY day_no) AS v3,
             lead(cents, 4) OVER (ORDER BY day_no) AS v4
      FROM numbered
      QUALIFY lead(cents, {_MP_W - 1}) OVER (ORDER BY day_no)
              IS NOT NULL
    ), sad AS (
      SELECT x.a, y.a AS b,
             abs(x.v0 - y.v0) + abs(x.v1 - y.v1) + abs(x.v2 - y.v2)
             + abs(x.v3 - y.v3) + abs(x.v4 - y.v4) AS sad
      FROM win x JOIN win y
        ON abs(x.a - y.a) >= {_MP_EXCL}
    ), ranked AS (
      SELECT a, b, sad,
             row_number() OVER (PARTITION BY a ORDER BY sad, b) AS rn
      FROM sad
    )
    SELECT a AS start_day_no, b AS nn_start_day_no,
           CAST(sad AS BIGINT) AS sad_min
    FROM ranked WHERE rn = 1 ORDER BY start_day_no
    """,
)
def q_ts_sad_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile of the daily-revenue series under the SAD (sum of
    absolute differences) distance: for every {_MP_W}-day subsequence,
    the distance to its nearest non-trivial neighbor (exclusion zone
    |a−b| ≥ {_MP_EXCL} > w/2, the standard trivial-match rule). The
    profile's argmax is the series DISCORD (most anomalous week-shape)
    and its argmin the dominant motif — the similarity-self-join member
    of the ts family (DTW compares two series; this profiles one
    against itself). SAD instead of z-normalized Euclidean keeps every
    distance an exact int64 (the house no-float rule); nearest-neighbor
    ties break on the smaller start index, a total order.

    Plan: one pushed (day) rollup, lead-window subsequence extraction
    over the ~31-row spine, a days-bounded (~27×27) self-join, one rank
    window. All post-rollup relations are days-bounded — at 100 TB only
    the day rollup touches the fact table; the profile itself is
    constant work."""
    daily = _daily_cents(spark, sf_dir)
    w_no = Window.orderBy("d")
    numbered = daily.select(
        "cents",
        F.row_number().over(w_no).cast("long").alias("day_no"),
    )
    w_lead = Window.orderBy("day_no")
    win = (
        numbered.select(
            F.col("day_no").alias("a"),
            F.col("cents").alias("v0"),
            F.lead("cents", 1).over(w_lead).alias("v1"),
            F.lead("cents", 2).over(w_lead).alias("v2"),
            F.lead("cents", 3).over(w_lead).alias("v3"),
            F.lead("cents", 4).over(w_lead).alias("v4"),
        )
        .filter(F.col("v4").isNotNull())
    )
    x, y = win.alias("x"), win.alias("y")
    sad = x.join(
        y,
        F.abs(F.col("x.a") - F.col("y.a")) >= _MP_EXCL,
    ).select(
        F.col("x.a").alias("a"),
        F.col("y.a").alias("b"),
        (
            F.abs(F.col("x.v0") - F.col("y.v0"))
            + F.abs(F.col("x.v1") - F.col("y.v1"))
            + F.abs(F.col("x.v2") - F.col("y.v2"))
            + F.abs(F.col("x.v3") - F.col("y.v3"))
            + F.abs(F.col("x.v4") - F.col("y.v4"))
        ).alias("sad"),
    )
    w_rank = Window.partitionBy("a").orderBy("sad", "b")
    return (
        sad.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            F.col("a").alias("start_day_no"),
            F.col("b").alias("nn_start_day_no"),
            F.col("sad").cast("long").alias("sad_min"),
        )
        .orderBy("start_day_no")
    )


_PAA_SEG_DAYS = 5  # days per PAA segment
_PAA_SEGS = 6  # segments (first 30 observed days)


@query(
    "q_ts_paa_sax",
    oracle=f"""
{_NUMBERED_DAILY_SQL}
    ), seg AS (
      SELECT 1 + (day_no - 1) // {_PAA_SEG_DAYS} AS segment_no,
             CAST(min(day_no) AS BIGINT) AS start_day_no,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM numbered
      WHERE day_no <= {_PAA_SEGS * _PAA_SEG_DAYS}
      GROUP BY 1
    ), bp AS (
      SELECT max(CASE WHEN rnk = 2 THEN sum_cents END) AS q1,
             max(CASE WHEN rnk = 3 THEN sum_cents END) AS q2,
             max(CASE WHEN rnk = 5 THEN sum_cents END) AS q3
      FROM (SELECT sum_cents,
                   row_number() OVER (ORDER BY sum_cents, segment_no)
                     AS rnk
            FROM seg)
    )
    SELECT segment_no, start_day_no, sum_cents,
           CAST((2 * 1000 * sum_cents + {_PAA_SEG_DAYS})
                // (2 * {_PAA_SEG_DAYS}) AS BIGINT) AS mean_milli,
           CASE WHEN sum_cents < q1 THEN 'a'
                WHEN sum_cents < q2 THEN 'b'
                WHEN sum_cents < q3 THEN 'c'
                ELSE 'd' END AS symbol
    FROM seg CROSS JOIN bp ORDER BY segment_no
    """,
)
def q_ts_paa_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA + SAX symbolization of the first 30 observed revenue days:
    Piecewise Aggregate Approximation collapses the series into
    {_PAA_SEGS} five-day segments (segment mean as exact half-up
    milli-cents — the constant denominator makes the PAA itself
    integer-exact), and each segment gets a SAX symbol a-d by its sum
    against the EXACT rank-based quartiles of the six segment sums
    (2nd, 3rd, 5th order statistics — actual data values, so the
    breakpoints and the comparisons are all int64; classic SAX
    z-normalizes against Gaussian breakpoints, which would put floats
    in the symbol decision). The a-d word is the series' symbolic
    index key — the representation SAX-based indexers bucket on.

    Plan: one pushed (day) rollup + two windows over the ≤30-row spine
    + a 1-row breakpoint fold crossed into 6 segment rows. Constant
    work past the rollup at any scale."""
    daily = _daily_cents(spark, sf_dir)
    w_no = Window.orderBy("d")
    numbered = daily.select(
        "cents",
        F.row_number().over(w_no).cast("long").alias("day_no"),
    )
    seg = (
        numbered.filter(
            F.col("day_no") <= _PAA_SEGS * _PAA_SEG_DAYS
        )
        .groupBy(
            (1 + F.expr(f"(day_no - 1) DIV {_PAA_SEG_DAYS}")).alias(
                "segment_no"
            )
        )
        .agg(
            F.min("day_no").cast("long").alias("start_day_no"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )
    w_rnk = Window.orderBy("sum_cents", "segment_no")
    bp = (
        seg.select(
            "sum_cents", F.row_number().over(w_rnk).alias("rnk")
        )
        .agg(
            F.max(F.when(F.col("rnk") == 2, F.col("sum_cents"))).alias(
                "q1"
            ),
            F.max(F.when(F.col("rnk") == 3, F.col("sum_cents"))).alias(
                "q2"
            ),
            F.max(F.when(F.col("rnk") == 5, F.col("sum_cents"))).alias(
                "q3"
            ),
        )
    )
    return (
        seg.crossJoin(F.broadcast(bp))
        .select(
            "segment_no",
            "start_day_no",
            "sum_cents",
            F.expr(
                f"CAST((2 * 1000 * sum_cents + {_PAA_SEG_DAYS})"
                f" DIV (2 * {_PAA_SEG_DAYS}) AS BIGINT)"
            ).alias("mean_milli"),
            F.when(F.col("sum_cents") < F.col("q1"), "a")
            .when(F.col("sum_cents") < F.col("q2"), "b")
            .when(F.col("sum_cents") < F.col("q3"), "c")
            .otherwise("d")
            .alias("symbol"),
        )
        .orderBy("segment_no")
    )


@query(
    "q_ts_theta_forecast",
    oracle=f"""
{_NUMBERED_DAILY_SQL}
    ), ols AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(day_no) AS BIGINT) AS st,
             CAST(sum(cents) AS BIGINT) AS sx,
             CAST(sum(day_no * day_no) AS BIGINT) AS stt,
             CAST(sum(day_no * cents) AS BIGINT) AS stx
      FROM numbered
    ), coef AS (
      SELECT n,
             n * stt - st * st AS dd,
             CAST(sx AS HUGEINT) * stt - CAST(st AS HUGEINT) * stx
               AS ad,
             n * stx - st * sx AS bd
      FROM ols
    ), u AS (
      SELECT x.day_no, c.n, c.dd, c.ad, c.bd,
             2 * c.dd * CAST(x.cents AS HUGEINT)
               - (c.ad + c.bd * x.day_no) AS ut
      FROM numbered x CROSS JOIN coef c
    ), carrier AS (
      SELECT day_no, n, dd, ad, bd,
             sum(ut * (CAST(1 AS BIGINT)
                       << CAST(greatest(day_no - 2, 0) AS INT)))
               OVER (ORDER BY day_no ROWS UNBOUNDED PRECEDING) AS et
      FROM u
    ), last AS (
      SELECT n, dd, ad, bd, et,
             CAST(1 AS HUGEINT) << CAST(n - 1 AS INT) AS p2
      FROM carrier WHERE day_no = n
    )
    SELECT n AS n_days,
           round(CAST(bd AS DOUBLE) / dd, 6) AS slope_r6,
           CAST((2 * 1000 * (ad + bd * (n + 1)) + dd) // (2 * dd)
                AS BIGINT) AS trend_next_milli,
           CAST((2 * 1000 * et + dd * p2) // (2 * dd * p2) AS BIGINT)
             AS ses_next_milli,
           CAST((2 * 1000 * ((ad + bd * (n + 1)) * p2 + et)
                 + 2 * dd * p2) // (2 * 2 * dd * p2) AS BIGINT)
             AS theta_forecast_milli
    FROM last
    """,
)
def q_ts_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method one-step revenue forecast (the M3-competition
    winner: average the linear-trend extrapolation — the theta=0 line —
    with an SES forecast of the theta=2 line), computed EXACTLY: the
    classical form is float-recursive twice over (OLS then SES), but
    scaling by the OLS determinant D = n·Σt² − (Σt)² makes the theta=2
    series an integer (u_t = 2·D·x_t − (aD + bD·t), where aD/bD are the
    integer Cramer numerators), and the λ=1/2 SES folds over u with the
    q_ts_ewma_exact dyadic carrier E_T = Σ 2^(i-2)·u_i. The three
    forecasts return as exact half-up milli-cents against their integer
    denominators (D, D·2^(T-1), 2D·2^(T-1)); only the reported slope is
    a double (identical tree, round-6).

    Carrier magnitudes: u_t ≈ 2D·x_t ≈ 2.7e17 at the 3000× events
    decade (D ≈ 9e4 is T-bounded, x scales with volume), E_T adds the
    2^29 weight ⇒ ~1.4e26 — DECIMAL(38,0)/HUGEINT holds 12 more
    decades. Negative u_t are fine: both engines' integer division
    truncates toward zero identically (the tdiv law), and the combined
    numerators stay positive at revenue scale.

    Plan: one pushed day rollup + 1-row OLS fold broadcast-crossed
    back + the running dyadic window over the ~31-row spine + the
    day_no = n cut. Constant work past the rollup at any scale."""
    daily = _daily_cents(spark, sf_dir)
    w_no = Window.orderBy("d")
    numbered = daily.select(
        "cents",
        F.row_number().over(w_no).cast("long").alias("day_no"),
    )
    ols = numbered.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("day_no").cast("long").alias("st"),
        F.sum("cents").cast("long").alias("sx"),
        F.sum(F.col("day_no") * F.col("day_no")).cast("long").alias("stt"),
        F.sum(F.col("day_no") * F.col("cents")).cast("long").alias("stx"),
    )
    coef = ols.select(
        "n",
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).alias("dd"),
        (
            F.col("sx").cast("decimal(38,0)") * F.col("stt")
            - F.col("st").cast("decimal(38,0)") * F.col("stx")
        ).cast("decimal(38,0)").alias("ad"),
        (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")).alias("bd"),
    )
    u = numbered.crossJoin(F.broadcast(coef)).select(
        "day_no",
        "n",
        "dd",
        "ad",
        "bd",
        (
            2 * F.col("dd") * F.col("cents").cast("decimal(38,0)")
            - (F.col("ad") + F.col("bd") * F.col("day_no"))
        ).cast("decimal(38,0)").alias("ut"),
    )
    w_run = Window.orderBy("day_no").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    weight = F.expr(
        "shiftleft(CAST(1 AS BIGINT),"
        " CAST(greatest(day_no - 2, 0) AS INT))"
    )
    carrier = u.select(
        "day_no",
        "n",
        "dd",
        "ad",
        "bd",
        F.sum(F.col("ut") * weight).over(w_run).alias("et"),
    )
    last = carrier.filter(F.col("day_no") == F.col("n")).select(
        "n",
        "dd",
        "ad",
        "bd",
        "et",
        F.when(
            _dyadic_bound_ok("q_ts_theta_forecast"),
            F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT), CAST(n - 1 AS INT))"
                " AS DECIMAL(38,0))"
            ),
        ).alias("p2"),
    )
    return last.select(
        F.col("n").alias("n_days"),
        F.round(F.col("bd").cast("double") / F.col("dd"), 6).alias(
            "slope_r6"
        ),
        F.expr(
            "CAST((2 * 1000 * (ad + bd * (n + 1)) + dd)"
            " DIV (2 * dd) AS BIGINT)"
        ).alias("trend_next_milli"),
        F.expr(
            "CAST((2 * 1000 * et + dd * p2) DIV (2 * dd * p2)"
            " AS BIGINT)"
        ).alias("ses_next_milli"),
        F.expr(
            "CAST((2 * 1000 * ((ad + bd * (n + 1)) * p2 + et)"
            " + 2 * dd * p2) DIV (2 * 2 * dd * p2) AS BIGINT)"
        ).alias("theta_forecast_milli"),
    )


@query(
    "q_ts_mase_eval",
    oracle=f"""
{_NUMBERED_DAILY_SQL}
    ), lagged AS (
      SELECT day_no, cents,
             lag(cents, 1) OVER (ORDER BY day_no) AS l1,
             lag(cents, 7) OVER (ORDER BY day_no) AS l7
      FROM numbered
    ), folds AS (
      SELECT CAST(count(l1) AS BIGINT) AS n1,
             CAST(sum(abs(cents - l1)) AS BIGINT) AS e1,
             CAST(count(l7) AS BIGINT) AS n7,
             CAST(sum(abs(cents - l7)) AS BIGINT) AS e7
      FROM lagged
    )
    SELECT method, n_terms, mae_milli, mase_permille FROM (
      SELECT 'naive1' AS method, n1 AS n_terms,
             CAST((2 * 1000 * e1 + n1) // (2 * n1) AS BIGINT)
               AS mae_milli,
             CAST((2 * 1000 * (CAST(e1 AS HUGEINT) * n7)
                   + CAST(n1 AS HUGEINT) * e7)
                  // nullif(2 * CAST(n1 AS HUGEINT) * e7, 0) AS BIGINT)
               AS mase_permille
      FROM folds
      UNION ALL
      SELECT 'snaive7', n7,
             CAST((2 * 1000 * e7 + n7) // (2 * n7) AS BIGINT),
             CAST(1000 AS BIGINT)
      FROM folds
    ) ORDER BY method
    """,
)
def q_ts_mase_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE forecast evaluation over the daily-revenue series — the
    metric that closes the forecasting block (Holt / Holt-Winters /
    Croston / Theta PRODUCE forecasts; MASE is how production picks
    between them): each method's MAE scaled by the in-sample
    seasonal-naive (m=7) MAE, so the score is unit-free and
    cross-series comparable (Hyndman-Koehler). Methods evaluated
    in-sample here: naive-1 (x_{{t-1}}) vs the seasonal-naive
    benchmark itself (whose MASE is exactly 1000 permille by
    definition — pinned as a literal, which doubles as a harness
    self-check).

    Exactness: absolute errors are integer cents; the differing term
    counts (n−1 vs n−7) cross-multiply into one integer ratio —
    mase = 1000·Σ|e₁|·n₇ / (n₁·Σ|d₇|) folded half-up in HUGEINT/
    DECIMAL(38) (e·n ≈ 1e10·31 at sf0.1, linear per decade, but the
    doubled-permille product deserves the wide lane); MAE as exact
    half-up milli-cents.

    Plan: one pushed day rollup + two lag windows over the ~31-row
    spine + a 1-row fold exploded to method rows. Constant work past
    the rollup."""
    daily = _daily_cents(spark, sf_dir)
    w_no = Window.orderBy("d")
    numbered = daily.select(
        "cents",
        F.row_number().over(w_no).cast("long").alias("day_no"),
    )
    w_lag = Window.orderBy("day_no")
    lagged = numbered.select(
        "cents",
        F.lag("cents", 1).over(w_lag).alias("l1"),
        F.lag("cents", 7).over(w_lag).alias("l7"),
    )
    folds = lagged.agg(
        F.count("l1").cast("long").alias("n1"),
        F.sum(F.abs(F.col("cents") - F.col("l1")))
        .cast("long")
        .alias("e1"),
        F.count("l7").cast("long").alias("n7"),
        F.sum(F.abs(F.col("cents") - F.col("l7")))
        .cast("long")
        .alias("e7"),
    )
    return folds.selectExpr(
        """inline(array(
          named_struct(
            'method', 'naive1', 'n_terms', n1,
            'mae_milli',
            CAST((2 * 1000 * e1 + n1) DIV (2 * n1) AS BIGINT),
            'mase_permille',
            CAST((2 * 1000 * (CAST(e1 AS DECIMAL(38,0)) * n7)
                  + CAST(n1 AS DECIMAL(38,0)) * e7)
                 DIV nullif(2 * CAST(n1 AS DECIMAL(38,0)) * e7, 0)
                 AS BIGINT)),
          named_struct(
            'method', 'snaive7', 'n_terms', n7,
            'mae_milli',
            CAST((2 * 1000 * e7 + n7) DIV (2 * n7) AS BIGINT),
            'mase_permille', CAST(1000 AS BIGINT))
        ))"""
    ).orderBy("method")


_ADF_CRIT_5PCT = "-2.86"  # Dickey-Fuller 5% (constant, large n) —
# pinned asymptotic literal (the house 3.841/9.488 precedent)


@query(
    "q_ts_adf_lag0",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), lagged AS (
      SELECT cents, lag(cents) OVER (ORDER BY d) AS z
      FROM daily
    ), pairs AS (
      SELECT CAST(cents - z AS BIGINT) AS y, CAST(z AS BIGINT) AS z
      FROM lagged WHERE z IS NOT NULL
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(z) AS BIGINT) AS sz,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(z AS DECIMAL(38,0)) * z) AS DECIMAL(38,0))
               AS szz,
             CAST(sum(CAST(z AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
               AS szy,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
               AS syy
      FROM pairs
    ), alg AS (
      SELECT n, sz, sy, szy, syy,
             (n * CAST(szy AS DOUBLE) - CAST(sz AS DOUBLE) * sy)
               / nullif(n * CAST(szz AS DOUBLE)
                        - CAST(sz AS DOUBLE) * sz, 0) AS beta,
             n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz AS den
      FROM s
    ), alg2 AS (
      SELECT n, beta,
             (CAST(sy AS DOUBLE) - beta * sz) / nullif(n, 0) AS alpha,
             (CAST(syy AS DOUBLE)
              - ((CAST(sy AS DOUBLE) - beta * sz) / nullif(n, 0)) * sy
              - beta * CAST(szy AS DOUBLE)) AS sse,
             den
      FROM alg
    )
    SELECT n AS n_obs,
           round(beta, 6) AS beta_r6,
           round(alpha, 4) AS alpha_r4,
           round(beta / sqrt(nullif(greatest((sse / nullif(n - 2, 0))
                                             * n / nullif(den, 0),
                                             0e0), 0)), 4)
             AS adf_t_r4,
           CAST(CASE WHEN beta
                          / sqrt(nullif(greatest((sse
                                                  / nullif(n - 2, 0))
                                             * n / nullif(den, 0),
                                             0e0), 0))
                     < {_ADF_CRIT_5PCT} THEN 1 ELSE 0 END AS BIGINT)
             AS reject_unit_root_5pct
    FROM alg2
    """,
)
def q_ts_adf_lag0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test (lag-0, with constant) on the daily
    purchase-revenue series: regress the day-over-day difference on the
    lagged level — beta near 0 means a random walk (unit root), beta
    significantly negative means mean reversion. The STATIONARITY
    pre-check the forecasting keys assume and q_ts_engle_granger's
    cointegration step applies to residuals; the DF t-statistic is
    compared against the pinned -2.86 asymptotic 5% literal (Dickey-
    Fuller distribution, NOT the normal — the house pinned-literal
    precedent).

    Exactness: daily cents exact int64; the five OLS sufficient
    statistics fold with the quadratics (Sum z^2, Sum zy, Sum y^2) in
    DECIMAL(38,0) at registration — z ~ 5e8 cents at sf0.1 makes
    Sum z^2 ~ 7.3e18, ALREADY past int64's comfort at the base scale
    (the engle_granger widening precedent); beta/alpha/SSE/se are one
    identical double tree in both engines (SSE via the normal-equation
    identity Syy - alpha*Sy - beta*Szy), nullif-guarded for the
    degenerate constant-series case, round-4/round-6 once.

    Plan: one fact pass (day rollup), a lag window + 1-row OLS fold
    over the ~31-row spine. Identical cost at any corpus scale."""
    daily = _daily_cents(spark, sf_dir)
    lagged = daily.select(
        "cents", F.lag("cents").over(Window.orderBy("d")).alias("z")
    )
    pairs = lagged.filter(F.col("z").isNotNull()).select(
        (F.col("cents") - F.col("z")).cast("long").alias("y"),
        F.col("z").cast("long").alias("z"),
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("sz"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z"))
        .cast("decimal(38,0)")
        .alias("szz"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("szy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    den = F.col("n") * F.col("szz").cast("double") - F.col("sz").cast(
        "double"
    ) * F.col("sz")
    beta = (
        F.col("n") * F.col("szy").cast("double")
        - F.col("sz").cast("double") * F.col("sy")
    ) / F.expr(
        "nullif(n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz, 0)"
    )
    alg = s.select(
        "n", "sz", "sy", "szy", "syy",
        beta.alias("beta"),
        den.alias("den"),
    )
    # nullif guards throughout the OLS algebra: ANSI Spark CRASHES on
    # double division by zero (measured r13) while DuckDB returns NULL
    # — an empty/one-day/two-day degenerate series must read NULL in
    # both engines, not crash one of them.
    alpha = (
        F.col("sy").cast("double") - F.col("beta") * F.col("sz")
    ) / F.expr("nullif(n, 0)")
    alg2 = alg.select(
        "n",
        "beta",
        alpha.alias("alpha"),
        (
            F.col("syy").cast("double")
            - alpha * F.col("sy")
            - F.col("beta") * F.col("szy").cast("double")
        ).alias("sse"),
        "den",
    )
    # greatest(..., 0e0) before nullif: a perfectly-linear degenerate
    # series makes the exact SSE 0 but float evaluation can land at
    # -1e-9 — Spark's sqrt(negative) returns NaN while DuckDB ERRORS
    # (measured), so both engines must agree on NULL instead (the
    # ADVICE r12 cochran nullif discipline, extended to sqrt domain).
    se = F.sqrt(
        F.expr(
            "nullif(greatest((sse / nullif(n - 2, 0)) * n"
            " / nullif(den, 0), 0e0), 0)"
        )
    )
    adf_t = F.col("beta") / se
    return alg2.select(
        F.col("n").alias("n_obs"),
        F.round("beta", 6).alias("beta_r6"),
        F.round("alpha", 4).alias("alpha_r4"),
        F.round(adf_t, 4).alias("adf_t_r4"),
        F.when(adf_t < float(_ADF_CRIT_5PCT), 1)
        .otherwise(0)
        .cast("long")
        .alias("reject_unit_root_5pct"),
    )


_KPSS_CRIT_5PCT = "0.463"  # KPSS 5% (level stationarity) — pinned
# asymptotic literal (the -2.86 DF precedent)


@query(
    "q_ts_kpss_lag0",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sx
      FROM daily
    ), u AS (
      SELECT d, CAST(st.n * daily.cents - st.sx AS BIGINT) AS u
      FROM daily CROSS JOIN st
    ), v AS (
      SELECT u,
             CAST(sum(u) OVER (ORDER BY d
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS v
      FROM u
    ), f AS (
      SELECT CAST(sum(CAST(u AS DECIMAL(38,0)) * u) AS DECIMAL(38,0))
               AS su2,
             CAST(sum(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0))
               AS sv2
      FROM v
    )
    SELECT st.n AS n_obs,
           round(CAST(f.sv2 AS DOUBLE)
                 / nullif(st.n * CAST(f.su2 AS DOUBLE), 0), 6)
             AS kpss_r6,
           CAST(CASE WHEN CAST(f.sv2 AS DOUBLE)
                          / nullif(st.n * CAST(f.su2 AS DOUBLE), 0)
                     > {_KPSS_CRIT_5PCT} THEN 1 ELSE 0 END AS BIGINT)
             AS reject_stationarity_5pct
    FROM f CROSS JOIN st
    """,
)
def q_ts_kpss_lag0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS stationarity test (lag-0) on the daily purchase-revenue
    series — the COMPLEMENT of q_ts_adf_lag0 with the opposite null
    (KPSS: null = stationary; DF: null = unit root), which is why a
    readout runs BOTH: agreement is evidence, disagreement means
    near-integration. Tested against the pinned 0.463 level-
    stationarity 5% literal (KPSS distribution, not the normal).

    Exactness — the statistic reduces to ONE division of two exact
    integer carriers: with u_t = n·x_t − Σx (the shared ljung_box/dft
    u-carrier law, exact int64) and v_t = Σ_{{i<=t}} u_i (its prefix
    sum, exact int64), KPSS = Σ S_t² / (n²·σ̂²) = Σv² / (n·Σu²) — the
    n-powers cancel, no float intermediates exist at all. Σu² and Σv²
    fold in DECIMAL(38,0) (v_t is n·cumsum-scaled: ~9.6e15 at
    events-10000×, its square far past int64 — widened at
    registration); the single double division is nullif-guarded (a
    constant series has Σu² = 0 exactly — both engines read NULL, the
    measured ANSI/DuckDB degenerate law), round-6 once.

    Plan: one fact pass (day rollup), a 1-row stats cross, one prefix
    window + 1-row fold over the ~31-row spine. Identical cost at any
    corpus scale."""
    daily = _daily_cents(spark, sf_dir)
    st = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sx"),
    )
    u = daily.crossJoin(F.broadcast(st)).select(
        "d",
        "n",
        (F.col("n") * F.col("cents") - F.col("sx"))
        .cast("long")
        .alias("u"),
    )
    w_cum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    v = u.select(
        "u", F.sum("u").over(w_cum).cast("long").alias("v")
    )
    f = v.agg(
        F.sum(F.col("u").cast("decimal(38,0)") * F.col("u"))
        .cast("decimal(38,0)")
        .alias("su2"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("sv2"),
    )
    kpss = F.col("sv2").cast("double") / F.expr(
        "nullif(n * CAST(su2 AS DOUBLE), 0)"
    )
    return f.crossJoin(F.broadcast(st)).select(
        F.col("n").alias("n_obs"),
        F.round(kpss, 6).alias("kpss_r6"),
        F.when(kpss > float(_KPSS_CRIT_5PCT), 1)
        .otherwise(0)
        .cast("long")
        .alias("reject_stationarity_5pct"),
    )


@query(
    "q_ts_variance_ratio",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}
    ), lagged AS (
      SELECT cents,
             lag(cents, 1) OVER (ORDER BY d) AS z1,
             lag(cents, 2) OVER (ORDER BY d) AS z2
      FROM daily
    ), d1 AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(cents - z1) AS BIGINT) AS s,
             CAST(sum(CAST(cents - z1 AS DECIMAL(38,0))
                      * (cents - z1)) AS DECIMAL(38,0)) AS q
      FROM lagged WHERE z1 IS NOT NULL
    ), d2 AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(cents - z2) AS BIGINT) AS s,
             CAST(sum(CAST(cents - z2 AS DECIMAL(38,0))
                      * (cents - z2)) AS DECIMAL(38,0)) AS q
      FROM lagged WHERE z2 IS NOT NULL
    ), vr AS (
      SELECT d1.m AS m1,
             ((CAST(d2.q AS DOUBLE)
               - CAST(d2.s AS DOUBLE) * d2.s / nullif(d2.m, 0))
              / nullif(d2.m, 0) / 2)
             / nullif((CAST(d1.q AS DOUBLE)
               - CAST(d1.s AS DOUBLE) * d1.s / nullif(d1.m, 0))
              / nullif(d1.m, 0), 0) AS vr
      FROM d1 CROSS JOIN d2
    )
    SELECT m1 AS n_diffs,
           round(vr, 6) AS vr_r6,
           round((vr - 1) * sqrt(CAST(m1 AS DOUBLE)), 4) AS z_r4,
           CAST(CASE WHEN abs((vr - 1) * sqrt(CAST(m1 AS DOUBLE)))
                     > 1.96 THEN 1 ELSE 0 END AS BIGINT)
             AS reject_random_walk_5pct
    FROM vr
    """,
)
def q_ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test (q=2, homoskedastic form) on
    daily purchase revenue — the third member of the random-walk
    trio: q_ts_adf_lag0 tests a unit root, q_ts_kpss_lag0 tests
    stationarity, and VR(2) = Var(2-day change)/(2·Var(1-day change))
    asks directly whether variance scales linearly with horizon (the
    random-walk signature): VR < 1 means mean reversion, VR > 1
    momentum. z = (VR−1)·√T against the pinned 1.96 literal (the
    q=2 asymptotic variance 2(2q−1)(q−1)/(3qT) reduces to exactly
    1/T — the one q where the constant vanishes, which is why q=2 is
    the pinned contract).

    Exactness: 1-day and 2-day cents differences are exact int64 off
    two lag windows; each horizon's (m, Σd, Σd²) folds with the
    quadratic in DECIMAL(38,0) (the adf suffstats law class);
    the mean-adjusted variances and the ratio are one identical
    double tree, nullif-guarded at every possibly-zero denominator
    (the measured ANSI degenerate law), round-6/round-4 once.

    Plan: one fact pass (day rollup), one double-lag window + two
    1-row folds over the ~31-row spine. Identical cost at any
    corpus scale."""
    daily = _daily_cents(spark, sf_dir)
    lagged = daily.select(
        "cents",
        F.lag("cents", 1).over(Window.orderBy("d")).alias("z1"),
        F.lag("cents", 2).over(Window.orderBy("d")).alias("z2"),
    ).transform(checkpoint)

    def _fold(col: str):
        diff = F.col("cents") - F.col(col)
        return lagged.filter(F.col(col).isNotNull()).agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum(diff).cast("long").alias("s"),
            F.sum(diff.cast("decimal(38,0)") * diff)
            .cast("decimal(38,0)")
            .alias("q"),
        )

    d1 = _fold("z1").select(
        F.col("m").alias("m1"), F.col("s").alias("s1"), F.col("q").alias("q1")
    )
    d2 = _fold("z2").select(
        F.col("m").alias("m2"), F.col("s").alias("s2"), F.col("q").alias("q2")
    )
    both = d1.crossJoin(F.broadcast(d2))
    vr = (
        (
            F.col("q2").cast("double")
            - F.col("s2").cast("double") * F.col("s2")
            / F.expr("nullif(m2, 0)")
        )
        / F.expr("nullif(m2, 0)")
        / 2
    ) / F.expr(
        "nullif((CAST(q1 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * s1 / nullif(m1, 0))"
        " / nullif(m1, 0), 0)"
    )
    z = (vr - 1) * F.sqrt(F.col("m1").cast("double"))
    return both.select(
        F.col("m1").alias("n_diffs"),
        F.round(vr, 6).alias("vr_r6"),
        F.round(z, 4).alias("z_r4"),
        F.when(F.abs(z) > 1.96, 1)
        .otherwise(0)
        .cast("long")
        .alias("reject_random_walk_5pct"),
    )
