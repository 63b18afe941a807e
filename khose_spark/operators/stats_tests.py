"""Round-12 classical-test completions (SURVEY.md §2 ext family):
Brown-Forsythe/Levene variance homogeneity, Cochran's Q for paired
binary treatments, and Page's L ordered-trend test.

These close the remaining gaps in the experiment-readout ladder:
ANOVA (q_ml_anova_f) compares MEANS and silently assumes equal
variances — Brown-Forsythe is the check that assumption deserves;
McNemar (q_ml_mcnemar) handles TWO paired binary treatments — Cochran's
Q is its k-treatment generalization; Mann-Kendall (q_ts_mann_kendall)
detects a trend in ONE series — Page's L detects a consistent trend
across MANY subjects' ordered measurements.

House determinism rules throughout: integer carriers for every
accumulated statistic (cents, doubled midranks, DECIMAL(38,0) for
quadratics), exact lower-median/rank order statistics, doubles only in
the final bounded folds with IDENTICAL expression trees both engines,
fixed asymptotic critical values as pinned literals (the 3.841 / 5.991
chi-square precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.registry import query
from khose_spark.sqlutil import sql_cents
from khose_spark.tables import t

# Asymptotic 5% critical values (pinned literals, house precedent):
_F_4_INF_5PCT = "2.3719"  # F(4, inf) upper 5% — priority groups k=5
_CHI2_2_5PCT = "5.991"  # chi-square(2) upper 5% — Cochran k=3
_Z_5PCT_ONESIDED = "1.6449"  # one-sided normal 5% — Page trend


@query(
    "q_ml_levene_bf",
    oracle=f"""
    WITH x AS (
      SELECT o_orderpriority AS grp,
             {sql_cents('o_totalprice')}
               AS cents,
             o_orderkey
      FROM orders
    ), ranked AS (
      SELECT grp, cents,
             row_number() OVER (PARTITION BY grp
                                ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY grp) AS n_g
      FROM x
    ), med AS (
      SELECT grp, cents AS med_cents
      FROM ranked WHERE rn = (n_g + 1) // 2
    ), dev AS (
      SELECT x.grp, abs(x.cents - m.med_cents) AS z
      FROM x JOIN med m ON m.grp = x.grp
    ), g AS (
      SELECT grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(z) AS BIGINT) AS s,
             CAST(sum(CAST(z AS DECIMAL(38,0)) * z) AS DECIMAL(38,0))
               AS q
      FROM dev GROUP BY grp
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(s) AS BIGINT) AS ss,
             CAST(count(*) AS BIGINT) AS k,
             sum(CAST(s AS DOUBLE) * s / n) AS ssb_raw,
             sum(CAST(q AS DOUBLE)
                 - CAST(s AS DOUBLE) * s / n) AS ssw
      FROM g
    ), f AS (
      SELECT nn, k,
             ((ssb_raw - CAST(ss AS DOUBLE) * ss / nn) / (k - 1))
               / (ssw / (nn - k)) AS fstat
      FROM tot
    )
    SELECT g.grp AS priority,
           g.n,
           (SELECT med_cents FROM med WHERE med.grp = g.grp)
             AS median_cents,
           CAST((2 * 1000 * g.s + g.n) // (2 * g.n) AS BIGINT)
             AS mean_absdev_milli,
           round(f.fstat, 4) AS f_r4,
           CAST(CASE WHEN f.fstat > {_F_4_INF_5PCT} THEN 1 ELSE 0 END
                AS BIGINT) AS reject_equal_var_5pct
    FROM g CROSS JOIN f ORDER BY priority
    """,
)
def q_ml_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-based Levene) test of variance
    homogeneity across the five order priorities — the check ANOVA's
    equal-variance assumption deserves before q_ml_anova_f's verdict is
    trusted. Robust variant by design: deviations are |x − group
    MEDIAN| (exact lower median — the (n+1)//2-th order statistic, an
    actual data value, so deviations stay exact int64), and the
    statistic is the one-way ANOVA F over those deviations.

    Exactness: per-group Σz exact int64, Σz² DECIMAL(38,0) (z ≈ 5e7
    cents ⇒ z² ≈ 2.5e15; the SUM crosses int64 at ~4e3 rows/group — the
    q_ml_linreg_2f widening precedent applied at registration instead
    of waiting for the decade probe); F folds ≤5 identical double
    terms; decision vs the pinned F(4, inf) 5% literal.

    Plan: one priority-keyed window for the median rank (the exact-
    percentile idiom), one broadcast median join back to the fact scan,
    one 5-row moment agg + 1-row F fold crossed back. Two fact passes
    (rank, then deviations) — the inherent cost of an exact-median
    statistic; at 100 TB both are map-side-combined priority shuffles."""
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            sql_cents("o_totalprice")
        ).alias("cents"),
        "o_orderkey",
    )
    w_rank = Window.partitionBy("grp").orderBy("cents", "o_orderkey")
    w_cnt = Window.partitionBy("grp")
    med = (
        x.select(
            "grp",
            "cents",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_cnt).alias("n_g"),
        )
        .filter(F.col("rn") == F.expr("(n_g + 1) DIV 2"))
        .select("grp", F.col("cents").alias("med_cents"))
    )
    dev = x.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("cents") - F.col("med_cents")).alias("z")
    )
    g = dev.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("s"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("ss"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("n")).alias(
            "ssb_raw"
        ),
        F.sum(
            F.col("q").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("ssw"),
    )
    fstat = (
        (
            F.col("ssb_raw")
            - F.col("ss").cast("double") * F.col("ss") / F.col("nn")
        )
        / (F.col("k") - 1)
    ) / (F.col("ssw") / (F.col("nn") - F.col("k")))
    f1 = tot.select(fstat.alias("fstat"))
    return (
        g.join(F.broadcast(med), "grp")
        .crossJoin(F.broadcast(f1))
        .select(
            F.col("grp").alias("priority"),
            "n",
            F.col("med_cents").alias("median_cents"),
            F.expr(
                "CAST((2 * 1000 * s + n) DIV (2 * n) AS BIGINT)"
            ).alias("mean_absdev_milli"),
            F.round("fstat", 4).alias("f_r4"),
            F.when(F.col("fstat") > float(_F_4_INF_5PCT), 1)
            .otherwise(0)
            .cast("long")
            .alias("reject_equal_var_5pct"),
        )
        .orderBy("priority")
    )


@query(
    "q_ml_cochran_q",
    oracle=f"""
    WITH cnt AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_click,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_view,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                  END) AS BIGINT) AS n_purchase
      FROM events
      WHERE event_type IN ('click', 'view', 'purchase')
      GROUP BY user_id
    ), tots AS (
      SELECT CAST(count(*) AS BIGINT) AS nu,
             CAST(sum(n_click) AS BIGINT) AS t_click,
             CAST(sum(n_view) AS BIGINT) AS t_view,
             CAST(sum(n_purchase) AS BIGINT) AS t_purchase
      FROM cnt
    ), flags AS (
      SELECT c.user_id,
             CASE WHEN c.n_click * t.nu > t.t_click THEN 1 ELSE 0 END
               AS x_click,
             CASE WHEN c.n_view * t.nu > t.t_view THEN 1 ELSE 0 END
               AS x_view,
             CASE WHEN c.n_purchase * t.nu > t.t_purchase
                  THEN 1 ELSE 0 END AS x_purchase
      FROM cnt c CROSS JOIN tots t
    ), sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(x_click) AS BIGINT) AS c_click,
             CAST(sum(x_view) AS BIGINT) AS c_view,
             CAST(sum(x_purchase) AS BIGINT) AS c_purchase,
             CAST(sum(x_click + x_view + x_purchase) AS BIGINT) AS nr,
             CAST(sum((x_click + x_view + x_purchase)
                      * (x_click + x_view + x_purchase)) AS BIGINT)
               AS r2
      FROM flags
    ), q AS (
      SELECT n_users, c_click, c_view, c_purchase,
             CAST(2 * (3 * (c_click * c_click + c_view * c_view
                            + c_purchase * c_purchase) - nr * nr)
                  AS DOUBLE)
               / nullif(3 * nr - r2, 0) AS qstat
      FROM sums
    )
    SELECT n_users, c_click, c_view, c_purchase,
           round(qstat, 4) AS q_r4,
           CAST(CASE WHEN qstat > {_CHI2_2_5PCT} THEN 1 ELSE 0 END
                AS BIGINT) AS reject_equal_rates_5pct
    FROM q
    """,
)
def q_ml_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across three paired binary engagement treatments —
    the k-treatment generalization of McNemar's paired test
    (q_ml_mcnemar is the k=2 member): are the three per-user success
    rates equal? The binary is "this user's type-j event count exceeds
    the corpus mean for type j", decided by the integer
    cross-multiplication n_ij·N > Σ_i n_ij (no division, exact at any
    scale, and invariant under fixture replication — the decade probes
    multiply both sides equally, so the flag pattern and Q survive the
    3000× events ladder instead of saturating to all-ones).

    Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²) with k=3, column totals
    C_j, row totals R_i ≤ 3, N = ΣR_i — every term an exact int64
    count (R_i² ≤ 9, ΣC² ≤ 3·(n·max C)² stays int64 through the 3000×
    decade: C ≈ 5e8 there ⇒ C² ≈ 2.5e17, ×3 < 9.2e18 with one decade
    spare — the registration-time margin note). ONE double division,
    round-4, decision vs the pinned chi-square(2) 5% literal.

    Plan: one user-keyed conditional agg (map-side combined) + a 1-row
    fold. At 100 TB: a single fact shuffle on user_id."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    cnt = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("n_click"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("n_view"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchase"),
    )
    tots = cnt.agg(
        F.count(F.lit(1)).cast("long").alias("nu"),
        F.sum("n_click").cast("long").alias("t_click"),
        F.sum("n_view").cast("long").alias("t_view"),
        F.sum("n_purchase").cast("long").alias("t_purchase"),
    )
    flags = cnt.crossJoin(F.broadcast(tots)).select(
        "user_id",
        F.when(F.col("n_click") * F.col("nu") > F.col("t_click"), 1)
        .otherwise(0)
        .alias("x_click"),
        F.when(F.col("n_view") * F.col("nu") > F.col("t_view"), 1)
        .otherwise(0)
        .alias("x_view"),
        F.when(
            F.col("n_purchase") * F.col("nu") > F.col("t_purchase"), 1
        )
        .otherwise(0)
        .alias("x_purchase"),
    )
    r = F.col("x_click") + F.col("x_view") + F.col("x_purchase")
    sums = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x_click").cast("long").alias("c_click"),
        F.sum("x_view").cast("long").alias("c_view"),
        F.sum("x_purchase").cast("long").alias("c_purchase"),
        F.sum(r).cast("long").alias("nr"),
        F.sum(r * r).cast("long").alias("r2"),
    )
    qstat = (
        2
        * (
            3
            * (
                F.col("c_click") * F.col("c_click")
                + F.col("c_view") * F.col("c_view")
                + F.col("c_purchase") * F.col("c_purchase")
            )
            - F.col("nr") * F.col("nr")
        )
    ).cast("double") / F.nullif(
        # Degenerate-fixture guard (ADVICE r12): k·N − ΣR_i² is zero
        # when every user's three flags are identical (all 0 or all 3);
        # nullif in BOTH engines makes Q (and the decision) NULL there
        # instead of DuckDB erroring while Spark returned NULL.
        (3 * F.col("nr") - F.col("r2")).cast("long"),
        F.lit(0).cast("long"),
    )
    return sums.select(
        "n_users",
        "c_click",
        "c_view",
        "c_purchase",
        F.round(qstat, 4).alias("q_r4"),
        F.when(qstat > float(_CHI2_2_5PCT), 1)
        .otherwise(0)
        .cast("long")
        .alias("reject_equal_rates_5pct"),
    )


_PAGE_WEEKS = 4  # ordered conditions: Jan weeks 1-4 (days 1-28)


@query(
    "q_ml_page_trend",
    oracle=f"""
    WITH spend AS (
      SELECT user_id,
             1 + (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS wk,
             {sql_cents('value')}
               AS cents
      FROM events
      WHERE event_type = 'purchase'
        AND CAST(ts AS DATE) >= DATE '2024-01-01'
        AND CAST(ts AS DATE) < DATE '2024-01-29'
    ), grid AS (
      SELECT u.user_id, w.wk, coalesce(s.c, 0) AS c
      FROM (SELECT DISTINCT user_id FROM spend) u
      CROSS JOIN (SELECT unnest(range(1, {_PAGE_WEEKS + 1})) AS wk) w
      LEFT JOIN (SELECT user_id, wk, CAST(sum(cents) AS BIGINT) AS c
                 FROM spend GROUP BY 1, 2) s
        ON s.user_id = u.user_id AND s.wk = w.wk
    ), ranked AS (
      SELECT user_id, wk,
             2 * rank() OVER (PARTITION BY user_id ORDER BY c)
               + count(*) OVER (PARTITION BY user_id, c) - 1
               AS midrank2
      FROM grid
    ), l AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(sum(wk * midrank2) AS BIGINT) AS l2
      FROM ranked
    )
    SELECT n_users, l2,
           round((l2 - 50.0 * n_users)
                 / (2.0 * sqrt(25.0 * n_users / 3.0)), 4) AS z_r4,
           CAST(CASE WHEN (l2 - 50.0 * n_users)
                          / (2.0 * sqrt(25.0 * n_users / 3.0))
                          > {_Z_5PCT_ONESIDED}
                THEN 1 ELSE 0 END AS BIGINT) AS increasing_trend_5pct
    FROM l
    """,
)
def q_ml_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L ordered-trend test: do purchasing users' weekly spends
    INCREASE across January's four weeks? Each purchasing user ranks
    their own four weekly totals (zero-filled — a week without purchases
    is a 0), L = Σ_weeks week·ranksum, and the large-N normal
    approximation decides. Mann-Kendall (q_ts_mann_kendall) answers
    this for one aggregate series; Page's L pools the per-subject
    orderings, which is the right test when subjects have wildly
    different spend scales (ranks are scale-free).

    Tie handling: midranks, carried DOUBLED so they stay integer —
    2·midrank = 2·rank() + |ties| − 1 (rank() is min-rank; the zero
    weeks tie constantly, so this matters). L2 = Σ wk·midrank2 = 2L is
    exact int64 (≤ 4·8·users). μ and σ use the standard no-tie
    formulas (k=4: μ2 = 50N, σ² = 25N/3) — the documented large-N
    approximation, same posture as the Mann-Kendall normal tail; z is
    one identical double tree, round-4, vs the pinned one-sided 5%
    literal.

    Plan: one pushed (user, week) rollup, a users×4 zero-fill grid
    (broadcast 4-row week dim), one user-keyed rank window, a 1-row
    fold. At 100 TB: two user-keyed exchanges, nothing wider."""
    ev = t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & (F.to_date("ts") >= F.lit("2024-01-01"))
        & (F.to_date("ts") < F.lit("2024-01-29"))
    )
    spend = ev.select(
        "user_id",
        F.expr(
            "CAST(1 + datediff(CAST(ts AS DATE), DATE '2024-01-01')"
            " DIV 7 AS BIGINT)"
        ).alias("wk"),
        F.expr(
            sql_cents("value")
        ).alias("cents"),
    )
    per_wk = spend.groupBy("user_id", "wk").agg(
        F.sum("cents").cast("long").alias("c")
    )
    users = spend.select("user_id").distinct()
    weeks = spark.range(1, _PAGE_WEEKS + 1).select(
        F.col("id").cast("long").alias("wk")
    )
    grid = (
        users.crossJoin(F.broadcast(weeks))
        .join(per_wk, ["user_id", "wk"], "left")
        .select(
            "user_id", "wk", F.coalesce("c", F.lit(0).cast("long")).alias("c")
        )
    )
    w_rank = Window.partitionBy("user_id").orderBy("c")
    w_tie = Window.partitionBy("user_id", "c")
    ranked = grid.select(
        "user_id",
        "wk",
        (
            2 * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie)
            - 1
        ).alias("midrank2"),
    )
    lfold = ranked.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.col("wk") * F.col("midrank2")).cast("long").alias("l2"),
    )
    z = (F.col("l2") - 50.0 * F.col("n_users")) / (
        2.0 * F.sqrt(25.0 * F.col("n_users") / 3.0)
    )
    return lfold.select(
        "n_users",
        "l2",
        F.round(z, 4).alias("z_r4"),
        F.when(z > float(_Z_5PCT_ONESIDED), 1)
        .otherwise(0)
        .cast("long")
        .alias("increasing_trend_5pct"),
    )
