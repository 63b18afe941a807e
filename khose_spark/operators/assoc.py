"""Round-13 association / effect-size readouts (SURVEY.md §2 ext
family): Goodman-Kruskal gamma, Theil's uncertainty coefficient,
the Cohen-d effect-size panel, and Dunn's post-hoc test.

These complete the experiment-readout ladder the r12 wave started:
the significance tests (q_ml_anova_f, q_ml_kruskal_wallis,
q_ml_levene_bf, ...) answer "IS there an effect?"; this family answers
the two follow-ups a real readout needs — "HOW BIG is it?" (effect
sizes, ordinal association) and "WHICH groups differ?" (Dunn after
Kruskal-Wallis).

House determinism rules throughout: integer carriers for every
accumulated statistic (cents, doubled midranks, DECIMAL(38,0)
concordance mass), contingency-table forms so pair counting is
O(cells^2) not O(n^2), doubles only in final bounded folds with
IDENTICAL expression trees in both engines, pinned critical-value
literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.registry import query
from khose_spark.sqlutil import sql_cents
from khose_spark.tables import t

# Pinned critical values (house precedent: fixed literals, no stats lib)
_Z_BONF10_5PCT = "2.807"  # two-sided 5% Bonferroni over the 10
# priority pairs: z at alpha/2/10 = 0.0025
_D_SMALL, _D_MEDIUM, _D_LARGE = "0.2", "0.5", "0.8"  # Cohen's benchmarks


@query(
    "q_ml_gamma_concordance",
    oracle=f"""
    WITH cell AS (
      SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS x,
             {sql_cents('o_totalprice')}
               // 5000000 AS y,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ), pairs AS (
      SELECT
        CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
                 THEN CAST(a.n AS DECIMAL(38,0)) * b.n ELSE 0 END)
             AS DECIMAL(38,0)) AS conc,
        CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
                 THEN CAST(a.n AS DECIMAL(38,0)) * b.n ELSE 0 END)
             AS DECIMAL(38,0)) AS disc
      FROM cell a CROSS JOIN cell b
    )
    SELECT (SELECT CAST(sum(n) AS BIGINT) FROM cell) AS n,
           (SELECT CAST(count(*) AS BIGINT) FROM cell) AS n_cells,
           CAST(conc AS BIGINT) AS conc,
           CAST(disc AS BIGINT) AS disc,
           round(CAST(conc - disc AS DOUBLE)
                 / CAST(conc + disc AS DOUBLE), 6) AS gamma_r6
    FROM pairs
    """,
)
def q_ml_gamma_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma between order priority (ordinal 1-5) and
    the $50k price bucket (ordinal 0-9) — the ordinal-association
    measure Kendall's tau-b (q_ml_kendall_tau) approximates when ties
    dominate: gamma ignores ties entirely, so it reads the MONOTONE
    signal alone.

    Scale design: pair counting is NOT O(n^2) — both variables are
    bounded ordinals, so the corpus folds to a <=50-cell contingency
    table (one map-side-combined groupBy) and concordant/discordant
    mass is the table crossed with itself (<=2500 cell pairs, broadcast
    cross of two tiny relations). Concordance mass is Sum(n_a * n_b)
    ~ n^2/2: the per-pair PRODUCT crosses int64 at ~3e9 rows/cell, so
    the fold carries DECIMAL(38,0) from registration (the
    q_ml_linreg_2f widening precedent); the REPORTED mass columns cast
    back to int64, exact through ~4.3e9 orders rows — beyond every
    decade the orders ladder reaches (documented bound; the internal
    DECIMAL carrier never overflows). gamma itself is ONE double
    division, round-6.

    Output: one row — n, n_cells, concordant/discordant DECIMAL mass,
    gamma_r6."""
    o = t(spark, sf_dir, "orders")
    # Eager checkpoint: the <=50-cell grid feeds the pair cross AND the
    # totals — one fact pass, not three (the kruskal_wallis grid
    # lifecycle).
    cell = (
        o.select(
            F.expr(
                "CAST(substring(o_orderpriority, 1, 1) AS BIGINT)"
            ).alias("x"),
            F.expr(
                f"{sql_cents('o_totalprice')}"
                " DIV 5000000"
            ).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(checkpoint)
    )
    a = cell.alias("a")
    b = cell.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(b))
        .agg(
            F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x"))
                    & (F.col("b.y") > F.col("a.y")),
                    F.col("a.n").cast("decimal(38,0)") * F.col("b.n"),
                ).otherwise(F.lit(0))
            )
            .cast("decimal(38,0)")
            .alias("conc"),
            F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x"))
                    & (F.col("b.y") < F.col("a.y")),
                    F.col("a.n").cast("decimal(38,0)") * F.col("b.n"),
                ).otherwise(F.lit(0))
            )
            .cast("decimal(38,0)")
            .alias("disc"),
        )
    )
    tots = cell.agg(
        F.sum("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    return tots.crossJoin(F.broadcast(pairs)).select(
        "n",
        "n_cells",
        F.col("conc").cast("long").alias("conc"),
        F.col("disc").cast("long").alias("disc"),
        F.round(
            (F.col("conc") - F.col("disc")).cast("double")
            / (F.col("conc") + F.col("disc")).cast("double"),
            6,
        ).alias("gamma_r6"),
    )


@query(
    "q_ml_theil_u",
    oracle="""
    WITH cell AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn FROM cell
    ), hx AS (
      SELECT -sum((CAST(s AS DOUBLE) / nn)
                  * ln(CAST(s AS DOUBLE) / nn)) AS h
      FROM (SELECT x, CAST(sum(n) AS BIGINT) AS s FROM cell GROUP BY x)
      CROSS JOIN tot
    ), hy AS (
      SELECT -sum((CAST(s AS DOUBLE) / nn)
                  * ln(CAST(s AS DOUBLE) / nn)) AS h
      FROM (SELECT y, CAST(sum(n) AS BIGINT) AS s FROM cell GROUP BY y)
      CROSS JOIN tot
    ), hxy AS (
      SELECT -sum((CAST(n AS DOUBLE) / nn)
                  * ln(CAST(n AS DOUBLE) / nn)) AS h
      FROM cell CROSS JOIN tot
    )
    SELECT (SELECT nn FROM tot) AS n,
           round(hx.h, 4) AS h_priority_r4,
           round(hy.h, 4) AS h_status_r4,
           round(hxy.h, 4) AS h_joint_r4,
           round((hx.h + hy.h - hxy.h) / hx.h, 6) AS u_priority_given_status_r6,
           round((hx.h + hy.h - hxy.h) / hy.h, 6) AS u_status_given_priority_r6
    FROM hx CROSS JOIN hy CROSS JOIN hxy
    """,
)
def q_ml_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U between order priority and
    order status — the ASYMMETRIC categorical-association measure
    Cramer's V (q_ml_cramers_v) cannot express: U(X|Y) = I(X;Y)/H(X)
    answers "what fraction of X's entropy does knowing Y remove?",
    which is direction-dependent (U(X|Y) != U(Y|X) in general).

    Exactness: the corpus folds to a <=15-cell contingency (one
    groupBy); marginals and the total are exact int64; the three
    entropies are <=15-term double folds over IDENTICAL
    (n/N)*ln(n/N) expression trees in both engines (the
    q_llm_char_entropy ln precedent), round-4; the two U ratios are
    single double divisions over those, round-6.

    Plan: one map-side-combined 15-row agg; everything downstream is
    broadcast crosses of 1-row relations. One fact pass at any scale."""
    o = t(spark, sf_dir, "orders")
    # Eager checkpoint: the <=15-cell grid feeds the total, both
    # marginals and the joint entropy — one fact pass, not five (the
    # kruskal_wallis grid lifecycle).
    cell = (
        o.select(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(checkpoint)
    )
    tot = cell.agg(F.sum("n").cast("long").alias("nn"))

    def _entropy(df: DataFrame, s_col: str) -> DataFrame:
        p = F.col(s_col).cast("double") / F.col("nn")
        return df.crossJoin(F.broadcast(tot)).agg(
            (-F.sum(p * F.log(p))).alias("h")
        )

    hx = _entropy(
        cell.groupBy("x").agg(F.sum("n").cast("long").alias("s")), "s"
    )
    hy = _entropy(
        cell.groupBy("y").agg(F.sum("n").cast("long").alias("s")), "s"
    )
    hxy = _entropy(cell, "n")
    return (
        tot.crossJoin(F.broadcast(hx.select(F.col("h").alias("hx"))))
        .crossJoin(F.broadcast(hy.select(F.col("h").alias("hy"))))
        .crossJoin(F.broadcast(hxy.select(F.col("h").alias("hxy"))))
        .select(
            F.col("nn").alias("n"),
            F.round("hx", 4).alias("h_priority_r4"),
            F.round("hy", 4).alias("h_status_r4"),
            F.round("hxy", 4).alias("h_joint_r4"),
            F.round(
                (F.col("hx") + F.col("hy") - F.col("hxy")) / F.col("hx"), 6
            ).alias("u_priority_given_status_r6"),
            F.round(
                (F.col("hx") + F.col("hy") - F.col("hxy")) / F.col("hy"), 6
            ).alias("u_status_given_priority_r6"),
        )
    )


@query(
    "q_ml_effect_sizes",
    oracle=f"""
    WITH x AS (
      SELECT event_type AS grp,
             {sql_cents('value')} AS cents
      FROM events WHERE event_type IN ('click', 'view')
    ), g AS (
      SELECT grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents)
                  AS DECIMAL(38,0)) AS q
      FROM x GROUP BY grp
    ), w AS (
      SELECT
        max(CASE WHEN grp = 'click' THEN n END) AS n1,
        max(CASE WHEN grp = 'view' THEN n END) AS n2,
        max(CASE WHEN grp = 'click' THEN s END) AS s1,
        max(CASE WHEN grp = 'view' THEN s END) AS s2,
        max(CASE WHEN grp = 'click' THEN q END) AS q1,
        max(CASE WHEN grp = 'view' THEN q END) AS q2
      FROM g
    ), alg AS (
      SELECT n1, n2,
             CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS md,
             (CAST(q1 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
             (CAST(q2 AS DOUBLE)
              - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) AS v2
      FROM w
    ), d AS (
      SELECT n1, n2, md, v1, v2,
             md / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                       / (n1 + n2 - 2)) AS cohens_d
      FROM alg
    )
    SELECT n1 AS n_click, n2 AS n_view,
           CAST((2 * 1000 * (SELECT s1 FROM w) + n1)
                // (2 * n1) AS BIGINT) AS mean_click_millicents,
           CAST((2 * 1000 * (SELECT s2 FROM w) + n2)
                // (2 * n2) AS BIGINT) AS mean_view_millicents,
           round(md, 6) AS mean_diff_cents_r6,
           round(cohens_d, 6) AS cohens_d_r6,
           round(cohens_d * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6)
             AS hedges_g_r6,
           round(md / sqrt(v2), 6) AS glass_delta_r6,
           CASE WHEN abs(cohens_d) >= {_D_LARGE} THEN 'large'
                WHEN abs(cohens_d) >= {_D_MEDIUM} THEN 'medium'
                WHEN abs(cohens_d) >= {_D_SMALL} THEN 'small'
                ELSE 'negligible' END AS magnitude
    FROM d
    """,
)
def q_ml_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The effect-size panel for the click-vs-view spend comparison —
    the "HOW BIG?" readout q_ml_welch_t's significance verdict needs
    next to it: Cohen's d (pooled-SD standardized mean difference),
    Hedges' g (its small-sample bias correction), Glass's delta
    (control-SD standardized, for unequal variances), and the pinned
    0.2/0.5/0.8 magnitude benchmark.

    Exactness: cents int64; per-group Sum(z) int64 and Sum(z^2)
    DECIMAL(38,0) at registration (cents^2 ~ 2.4e9 crosses int64 at
    ~4e9 rows/group — the levene_bf precedent); each group's mean is
    reported as an EXACT half-up integer in millicents (the levene
    idiom (2*1000*s + n) // (2*n) — positive by construction, so
    floor-vs-truncate division never diverges between engines); d, g
    and delta fold <=6 identical double terms, round-6.

    Plan: one conditional 2-row agg (map-side combined), then 1-row
    pivots and scalar algebra. One fact pass at any scale."""
    e = t(spark, sf_dir, "events")
    g = (
        e.filter(F.col("event_type").isin("click", "view"))
        .select(
            F.col("event_type").alias("grp"),
            F.expr(
                sql_cents("value")
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
    w = g.agg(
        F.max(F.when(F.col("grp") == "click", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == "view", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == "click", F.col("s"))).alias("s1"),
        F.max(F.when(F.col("grp") == "view", F.col("s"))).alias("s2"),
        F.max(F.when(F.col("grp") == "click", F.col("q"))).alias("q1"),
        F.max(F.when(F.col("grp") == "view", F.col("q"))).alias("q2"),
    )
    md = F.col("s1").cast("double") / F.col("n1") - F.col("s2").cast(
        "double"
    ) / F.col("n2")
    v1 = (
        F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    ) / (F.col("n1") - 1)
    v2 = (
        F.col("q2").cast("double")
        - F.col("s2").cast("double") * F.col("s2") / F.col("n2")
    ) / (F.col("n2") - 1)
    alg = w.select(
        "n1", "n2", "s1", "s2", md.alias("md"), v1.alias("v1"), v2.alias("v2")
    )
    cohens_d = F.col("md") / F.sqrt(
        ((F.col("n1") - 1) * F.col("v1") + (F.col("n2") - 1) * F.col("v2"))
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = alg.withColumn("cohens_d", cohens_d)
    return d.select(
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_view"),
        F.expr(
            "CAST((2 * 1000 * s1 + n1) DIV (2 * n1) AS BIGINT)"
        ).alias("mean_click_millicents"),
        F.expr(
            "CAST((2 * 1000 * s2 + n2) DIV (2 * n2) AS BIGINT)"
        ).alias("mean_view_millicents"),
        F.round("md", 6).alias("mean_diff_cents_r6"),
        F.round("cohens_d", 6).alias("cohens_d_r6"),
        F.round(
            F.col("cohens_d")
            * (1 - 3.0 / (4 * (F.col("n1") + F.col("n2")) - 9)),
            6,
        ).alias("hedges_g_r6"),
        F.round(F.col("md") / F.sqrt(F.col("v2")), 6).alias(
            "glass_delta_r6"
        ),
        F.when(F.abs("cohens_d") >= float(_D_LARGE), "large")
        .when(F.abs("cohens_d") >= float(_D_MEDIUM), "medium")
        .when(F.abs("cohens_d") >= float(_D_SMALL), "small")
        .otherwise("negligible")
        .alias("magnitude"),
    )


@query(
    "q_ml_dunn_posthoc",
    oracle=f"""
    WITH x AS (
      SELECT o_orderpriority AS grp,
             {sql_cents('o_totalprice')}
               // 10000 AS band
      FROM orders
    ), joint AS (
      SELECT band, grp, CAST(count(*) AS BIGINT) AS c
      FROM x GROUP BY band, grp
    ), marg AS (
      SELECT band, CAST(sum(c) AS BIGINT) AS t FROM joint GROUP BY band
    ), mid AS (
      SELECT band, t,
             CAST(2 * coalesce(sum(t) OVER (ORDER BY band
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) + t + 1 AS BIGINT) AS mid2
      FROM marg
    ), g AS (
      SELECT j.grp,
             CAST(sum(j.c) AS BIGINT) AS n,
             CAST(sum(CAST(j.c AS DECIMAL(38,0)) * m.mid2)
                  AS DECIMAL(38,0)) AS dr
      FROM joint j JOIN mid m ON m.band = j.band
      GROUP BY j.grp
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn FROM g
    ), ties AS (
      SELECT CAST(sum(CAST(t AS DECIMAL(38,0)) * t * t - t)
                  AS DECIMAL(38,0)) AS t3t
      FROM marg
    ), sig AS (
      SELECT nn,
             (CAST(nn AS DOUBLE) * (nn + 1) / 12.0
              - CAST(t3t AS DOUBLE) / (12.0 * (nn - 1))) AS s2
      FROM tot CROSS JOIN ties
    )
    SELECT a.grp AS grp_i, b.grp AS grp_j,
           a.n AS n_i, b.n AS n_j,
           round((CAST(a.dr AS DOUBLE) / (2 * a.n)
                  - CAST(b.dr AS DOUBLE) / (2 * b.n)), 4)
             AS mean_rank_diff_r4,
           round((CAST(a.dr AS DOUBLE) / (2 * a.n)
                  - CAST(b.dr AS DOUBLE) / (2 * b.n))
                 / sqrt(s.s2 * (1.0 / a.n + 1.0 / b.n)), 4) AS z_r4,
           CAST(CASE WHEN abs((CAST(a.dr AS DOUBLE) / (2 * a.n)
                       - CAST(b.dr AS DOUBLE) / (2 * b.n))
                      / sqrt(s.s2 * (1.0 / a.n + 1.0 / b.n)))
                     > {_Z_BONF10_5PCT} THEN 1 ELSE 0 END AS BIGINT)
             AS reject_bonf_5pct
    FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN sig s
    ORDER BY grp_i, grp_j
    """,
)
def q_ml_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc test over the five order priorities — the
    "WHICH groups differ?" follow-up q_ml_kruskal_wallis's omnibus
    verdict leaves open: all 10 pairwise mean-midrank contrasts on the
    SAME $100 banding grid as the KW key (Dunn is defined on the
    omnibus test's midranks, so the banded quantization is shared by
    construction), tie-corrected, against the pinned Bonferroni-10 z
    literal.

    Exactness (the q_ml_kruskal_wallis banded-midrank idiom verbatim):
    doubled midranks 2*below + t + 1 fold over the DOMAIN-BOUNDED band
    marginal (<=5001 bands at any corpus size — the window is bounded
    by the $500k price domain, never by rows); per-group doubled-rank
    sums Sum(c*mid2) carry DECIMAL(38,0); tie mass Sum(t^3 - t) in
    DECIMAL(38,0) (t ~ n/5000 per band; cubes cross int64 at ~8e7
    rows/band — the cochran/levene widening precedent at
    registration). z folds <=6 identical double terms, round-4.

    Plan: one (band, grp) grid agg (the only fact-scale shuffle,
    map-side combined), a window over the bounded band marginal,
    broadcast midrank join into a 5-row group fold; the 10 pair
    contrasts are a broadcast self-join of the 5-row relation."""
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr(
            f"{sql_cents('o_totalprice')}"
            " DIV 10000"
        ).alias("band"),
    )
    joint = (
        x.groupBy("band", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(checkpoint)
    )
    w_below = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    marg = joint.groupBy("band").agg(F.sum("c").cast("long").alias("t"))
    mid = marg.select(
        "band",
        "t",
        (
            2 * F.coalesce(F.sum("t").over(w_below), F.lit(0))
            + F.col("t")
            + 1
        )
        .cast("long")
        .alias("mid2"),
    )
    g = (
        joint.join(F.broadcast(mid.select("band", "mid2")), "band")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("mid2"))
            .cast("decimal(38,0)")
            .alias("dr"),
        )
    )
    tot = g.agg(F.sum("n").cast("long").alias("nn"))
    ties = marg.agg(
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        )
        .cast("decimal(38,0)")
        .alias("t3t")
    )
    sig = tot.crossJoin(F.broadcast(ties)).select(
        "nn",
        (
            F.col("nn").cast("double") * (F.col("nn") + 1) / 12.0
            - F.col("t3t").cast("double") / (12.0 * (F.col("nn") - 1))
        ).alias("s2"),
    )
    a = g.alias("a")
    b = g.alias("b")
    mrd = F.col("a.dr").cast("double") / (2 * F.col("a.n")) - F.col(
        "b.dr"
    ).cast("double") / (2 * F.col("b.n"))
    z = mrd / F.sqrt(
        F.col("s2") * (1.0 / F.col("a.n") + 1.0 / F.col("b.n"))
    )
    return (
        a.join(F.broadcast(b), F.col("a.grp") < F.col("b.grp"))
        .crossJoin(F.broadcast(sig))
        .select(
            F.col("a.grp").alias("grp_i"),
            F.col("b.grp").alias("grp_j"),
            F.col("a.n").alias("n_i"),
            F.col("b.n").alias("n_j"),
            F.round(mrd, 4).alias("mean_rank_diff_r4"),
            F.round(z, 4).alias("z_r4"),
            F.when(F.abs(z) > float(_Z_BONF10_5PCT), 1)
            .otherwise(0)
            .cast("long")
            .alias("reject_bonf_5pct"),
        )
        .orderBy("grp_i", "grp_j")
    )
