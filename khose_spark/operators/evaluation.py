"""Model-evaluation / statistical-testing primitives (SURVEY.md §2.14
family): ranking metrics (AUC, gains/lift table), a two-proportion
chi-square A/B test on the md5-bucket split, a two-sample
Kolmogorov-Smirnov distance, and closed-form 2-feature PCA.

House exactness discipline throughout: ranking metrics quantize scores
onto a fixed integer band grid so every count, cumulative sum, and
half-up permille is int64-exact in both engines; the chi-square and PCA
tails move to doubles only AFTER the int64 moment aggregation, with a
single deterministic rounding at the boundary (the PMI/surprisal
precedent). No global per-row window ever materializes — cumulative
windows run over band/bin aggregates bounded by the grid, never by the
row count, so every plan here is one scan + tiny-relation windows at
any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.operators.curation import _sql_hash_bucket, hash_bucket
from khose_spark.registry import query
from khose_spark.sqlutil import cents, sql_cents
from khose_spark.tables import t

# Ranking-metric contract constants: $1,000 score bands over the order
# total, positive class = urgent/high order priority (the decision-stump
# labeling, ml_stats.py).
_AUC_BAND_CENTS = 100_000
_POS_PRIORITIES = ("1-URGENT", "2-HIGH")

_POS_SQL = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
_CENTS_SQL = sql_cents("o_totalprice")

# Orders labelled by $1,000 price band and urgent-or-high priority:
# the ``labeled`` CTE, left open.
_SQL_BAND_LABELED = f"""
    WITH labeled AS (
      SELECT {_CENTS_SQL} // {_AUC_BAND_CENTS} AS band,
             CASE WHEN {_POS_SQL} THEN 1 ELSE 0 END AS pos
      FROM orders"""

# Orders split into two md5 customer buckets, labelled as above: the
# ``assigned`` CTE, left open.
_SQL_AB_ASSIGNED = f"""
    WITH assigned AS (
      SELECT {_sql_hash_bucket('o_custkey', 2)} AS bucket,
             CASE WHEN {_POS_SQL} THEN 1 ELSE 0 END AS pos
      FROM orders"""

# Line items by 10-unit quantity bin with returned ('R') as the bad
# label: the ``labeled`` CTE, left open.
_SQL_BIN_LABELED = """
    WITH labeled AS (
      SELECT CAST((CAST(l_quantity AS BIGINT) - 1) // 10 AS BIGINT)
               AS bin,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
      FROM lineitem"""


@query(
    "q_ml_auc",
    oracle=f"""
{_SQL_BAND_LABELED}
    ), per_band AS (
      SELECT band, CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(pos) AS BIGINT) AS n_neg
      FROM labeled GROUP BY band
    ), cum AS (
      SELECT n_pos, n_neg,
             CAST(coalesce(sum(n_neg) OVER (
               ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS neg_below,
             sum(n_pos) OVER () AS pos_total,
             sum(n_neg) OVER () AS neg_total
      FROM per_band
    ), folded AS (
      SELECT CAST(sum(n_pos * (2 * neg_below + n_neg)) AS BIGINT) AS num2,
             CAST(min(pos_total) AS BIGINT) AS n_pos,
             CAST(min(neg_total) AS BIGINT) AS n_neg
      FROM cum
    )
    SELECT n_pos, n_neg,
           (2 * 1000 * num2 + 2 * n_pos * n_neg)
             // (2 * 2 * n_pos * n_neg) AS auc_permille,
           2 * ((2 * 1000 * num2 + 2 * n_pos * n_neg)
             // (2 * 2 * n_pos * n_neg)) - 1000 AS gini_permille
    FROM folded
    """,
)
def q_ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of "order total predicts urgent/high priority", computed
    exactly on a $1,000 score grid via the Mann-Whitney pair count:
    AUC = (# pos>neg pairs + 0.5 * # tied pairs) / (n_pos * n_neg),
    folded per band as pos_b * (2 * neg_below + neg_b) with everything
    doubled so the tie half never leaves the integers. Emits the
    half-up permille AUC and the derived Gini (2*AUC-1000).

    Plan: map-side band+label projection, one band aggregation
    (map-side combined, grid-bounded output), cumulative windows over
    the ~500-row band relation, 1-row fold. The scan is the only
    data-sized stage — identical shape at 100 TB."""
    labeled = t(spark, sf_dir, "orders").select(
        F.expr(f"{_CENTS_SQL} DIV {_AUC_BAND_CENTS}").alias("band"),
        F.when(F.col("o_orderpriority").isin(*_POS_PRIORITIES), 1)
        .otherwise(0)
        .alias("pos"),
    )
    per_band = labeled.groupBy("band").agg(
        F.sum("pos").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("n_neg"),
    )
    w_below = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_band.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w_below), F.lit(0)).alias(
            "neg_below"
        ),
        F.sum("n_pos").over(w_all).alias("pos_total"),
        F.sum("n_neg").over(w_all).alias("neg_total"),
    )
    folded = cum.agg(
        F.sum(
            F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))
        ).alias("num2"),
        F.min("pos_total").alias("n_pos"),
        F.min("neg_total").alias("n_neg"),
    )
    return folded.select(
        "n_pos",
        "n_neg",
        F.expr(
            "(2 * 1000 * num2 + 2 * n_pos * n_neg)"
            " DIV (2 * 2 * n_pos * n_neg)"
        ).alias("auc_permille"),
        F.expr(
            "2 * ((2 * 1000 * num2 + 2 * n_pos * n_neg)"
            " DIV (2 * 2 * n_pos * n_neg)) - 1000"
        ).alias("gini_permille"),
    )


@query(
    "q_ml_gains_table",
    oracle=f"""
{_SQL_BAND_LABELED}
    ), per_band AS (
      SELECT band, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
      FROM labeled GROUP BY band
    ), positioned AS (
      SELECT n, n_pos,
             CAST(coalesce(sum(n) OVER (
               ORDER BY band DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
             sum(n) OVER () AS n_total,
             sum(n_pos) OVER () AS pos_total
      FROM per_band
    ), deciled AS (
      SELECT (cum_before * 10) // n_total AS decile,
             CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(n_pos) AS BIGINT) AS n_pos,
             CAST(min(n_total) AS BIGINT) AS n_total,
             CAST(min(pos_total) AS BIGINT) AS pos_total
      FROM positioned GROUP BY 1
    )
    SELECT CAST(decile AS BIGINT) AS decile, n, n_pos,
           CAST(sum(n) OVER w AS BIGINT) AS cum_n,
           CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos,
           CAST((2 * 1000 * sum(n_pos) OVER w + pos_total)
             // (2 * pos_total) AS BIGINT) AS capture_permille,
           CAST((2 * 1000 * (sum(n_pos) OVER w) * n_total
              + (sum(n) OVER w) * pos_total)
             // (2 * (sum(n) OVER w) * pos_total) AS BIGINT)
             AS lift_permille
    FROM deciled
    WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    ORDER BY decile
    """,
)
def q_ml_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table for the same order-total-predicts-priority
    ranking: orders sorted by descending $1,000 score band are cut into
    10 population deciles (a band lands in the decile of its cumulative
    start position — band-quantized, so the cut is computable from the
    band aggregate alone), and each decile reports cumulative positive
    capture and lift vs the base rate, both as half-up permille.

    The campaign-targeting question ("mail the top 30%% — what share of
    responders do we reach?") answered without ever ranking rows: one
    grid-bounded band aggregation, windows over ~500 bands, a 10-row
    re-aggregate. One data-sized scan at any scale."""
    labeled = t(spark, sf_dir, "orders").select(
        F.expr(f"{_CENTS_SQL} DIV {_AUC_BAND_CENTS}").alias("band"),
        F.when(F.col("o_orderpriority").isin(*_POS_PRIORITIES), 1)
        .otherwise(0)
        .alias("pos"),
    )
    per_band = labeled.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    w_before = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    positioned = per_band.select(
        "n",
        "n_pos",
        F.coalesce(F.sum("n").over(w_before), F.lit(0)).alias(
            "cum_before"
        ),
        F.sum("n").over(w_all).alias("n_total"),
        F.sum("n_pos").over(w_all).alias("pos_total"),
    )
    deciled = positioned.groupBy(
        F.expr("(cum_before * 10) DIV n_total").alias("decile")
    ).agg(
        F.sum("n").alias("n"),
        F.sum("n_pos").alias("n_pos"),
        F.min("n_total").alias("n_total"),
        F.min("pos_total").alias("pos_total"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        deciled.select(
            "decile",
            "n",
            "n_pos",
            F.sum("n").over(w_cum).alias("cum_n"),
            F.sum("n_pos").over(w_cum).alias("cum_pos"),
            "n_total",
            "pos_total",
        )
        .select(
            "decile",
            "n",
            "n_pos",
            "cum_n",
            "cum_pos",
            F.expr(
                "(2 * 1000 * cum_pos + pos_total) DIV (2 * pos_total)"
            ).alias("capture_permille"),
            F.expr(
                "(2 * 1000 * cum_pos * n_total + cum_n * pos_total)"
                " DIV (2 * cum_n * pos_total)"
            ).alias("lift_permille"),
        )
        .orderBy("decile")
    )


@query(
    "q_ml_chi2_ab",
    oracle=f"""
{_SQL_AB_ASSIGNED}
    ), counts AS (
      SELECT
        CAST(sum(CASE WHEN bucket = 0 AND pos = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS a,
        CAST(sum(CASE WHEN bucket = 0 AND pos = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
        CAST(sum(CASE WHEN bucket = 1 AND pos = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS c,
        CAST(sum(CASE WHEN bucket = 1 AND pos = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS d
      FROM assigned
    )
    SELECT a AS ctrl_pos, b AS ctrl_neg, c AS treat_pos, d AS treat_neg,
           (2 * 1000 * a + (a + b)) // (2 * (a + b)) AS ctrl_rate_permille,
           (2 * 1000 * c + (c + d)) // (2 * (c + d)) AS treat_rate_permille,
           round(
             CAST(a + b + c + d AS DOUBLE)
               * CAST(a * d - b * c AS DOUBLE)
               * CAST(a * d - b * c AS DOUBLE)
               / (CAST((a + b) * (c + d) AS DOUBLE)
                  * CAST((a + c) * (b + d) AS DOUBLE)),
             3) AS chi2,
           round(
             CAST(a + b + c + d AS DOUBLE)
               * CAST(a * d - b * c AS DOUBLE)
               * CAST(a * d - b * c AS DOUBLE)
               / (CAST((a + b) * (c + d) AS DOUBLE)
                  * CAST((a + c) * (b + d) AS DOUBLE)),
             3) > 3.841 AS significant_05
    FROM counts
    """,
)
def q_ml_chi2_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion chi-square A/B test: customers hash into control/
    treatment by the md5-bucket idiom (the q_llm_split_assign splitter,
    so assignment is content-stable and resharding-invariant), outcome
    = the order is urgent/high priority. Emits the 2x2 contingency
    counts, per-arm half-up permille rates, the chi-square statistic,
    and the alpha=0.05 verdict (critical value 3.841, df=1).

    Exactness: a*d - b*c stays in int64 (counts < 2^31 make products
    safe); only the final ratio moves to doubles, every intermediate
    double is an exactly-represented int64 (< 2^53 after the per-factor
    casts), and one 3-dp rounding lands before the output. Plan: one
    map-side projection + a single 1-row aggregate — one pass at any
    scale, no shuffle beyond the partial-agg combine."""
    assigned = t(spark, sf_dir, "orders").select(
        hash_bucket(F.col("o_custkey"), 2).alias("bucket"),
        F.when(F.col("o_orderpriority").isin(*_POS_PRIORITIES), 1)
        .otherwise(0)
        .alias("pos"),
    )
    counts = assigned.agg(
        F.sum(
            F.when((F.col("bucket") == 0) & (F.col("pos") == 1), 1)
            .otherwise(0)
        ).alias("a"),
        F.sum(
            F.when((F.col("bucket") == 0) & (F.col("pos") == 0), 1)
            .otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("bucket") == 1) & (F.col("pos") == 1), 1)
            .otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((F.col("bucket") == 1) & (F.col("pos") == 0), 1)
            .otherwise(0)
        ).alias("d"),
    )
    chi2 = (
        "CAST(a + b + c + d AS DOUBLE)"
        " * CAST(a * d - b * c AS DOUBLE)"
        " * CAST(a * d - b * c AS DOUBLE)"
        " / (CAST((a + b) * (c + d) AS DOUBLE)"
        "    * CAST((a + c) * (b + d) AS DOUBLE))"
    )
    return counts.select(
        F.col("a").alias("ctrl_pos"),
        F.col("b").alias("ctrl_neg"),
        F.col("c").alias("treat_pos"),
        F.col("d").alias("treat_neg"),
        F.expr("(2 * 1000 * a + (a + b)) DIV (2 * (a + b))").alias(
            "ctrl_rate_permille"
        ),
        F.expr("(2 * 1000 * c + (c + d)) DIV (2 * (c + d))").alias(
            "treat_rate_permille"
        ),
        F.expr(f"round({chi2}, 3)").alias("chi2"),
        (F.expr(f"round({chi2}, 3)") > 3.841).alias("significant_05"),
    )


@query(
    "q_ml_ks_test",
    oracle="""
    WITH binned AS (
      SELECT CAST(floor(value) AS BIGINT) AS bin,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1
      FROM events WHERE event_type IN ('click', 'purchase')
    ), per_bin AS (
      SELECT bin, CAST(sum(g1) AS BIGINT) AS c1,
             CAST(count(*) - sum(g1) AS BIGINT) AS c2
      FROM binned GROUP BY bin
    ), cum AS (
      SELECT bin,
             sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
             sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
      FROM per_bin
      WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), scored AS (
      SELECT bin, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             CAST(abs(cum1 * n2 - cum2 * n1) AS BIGINT) AS diff,
             CAST(max(abs(cum1 * n2 - cum2 * n1)) OVER ()
                  AS BIGINT) AS max_diff
      FROM cum
    )
    SELECT min(n1) AS n1, min(n2) AS n2,
           (2 * 1000 * min(max_diff) + min(n1) * min(n2))
             // (2 * min(n1) * min(n2)) AS ks_permille,
           min(bin) AS ks_at_bin
    FROM scored WHERE diff = max_diff
    """,
)
def q_ml_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the click and
    purchase event-value distributions, exact on unit-value bins:
    D = max_bin |F1 - F2| evaluated as |cum1*n2 - cum2*n1| over the
    common denominator n1*n2, so the sup, its argmax bin (smallest on
    ties), and the half-up permille D are all integer-decided.

    The drift-detection primitive for "did the metric distribution
    move between cohorts". Plan: map-side bin+flag projection, one
    bin aggregation (bounded by the value range, not the row count),
    cumulative windows over the tiny bin relation, 1-row fold."""
    binned = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.floor("value").cast("long").alias("bin"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .alias("g1"),
        )
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("g1").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g1")).alias("c2"),
    )
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_bin.select(
        "bin",
        F.sum("c1").over(w_cum).alias("cum1"),
        F.sum("c2").over(w_cum).alias("cum2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    scored = cum.select(
        "bin",
        "n1",
        "n2",
        F.abs(
            F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
        ).alias("diff"),
        F.max(
            F.abs(
                F.col("cum1") * F.col("n2")
                - F.col("cum2") * F.col("n1")
            )
        )
        .over(w_all)
        .alias("max_diff"),
    )
    return (
        scored.filter(F.col("diff") == F.col("max_diff"))
        .agg(
            F.min("n1").alias("n1"),
            F.min("n2").alias("n2"),
            F.min("max_diff").alias("max_diff"),
            F.min("bin").alias("ks_at_bin"),
        )
        .select(
            "n1",
            "n2",
            F.expr(
                "(2 * 1000 * max_diff + n1 * n2) DIV (2 * n1 * n2)"
            ).alias("ks_permille"),
            "ks_at_bin",
        )
    )


@query(
    "q_ml_pca_2f",
    oracle=f"""
    WITH feats AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             {sql_cents('l_discount')} AS y
      FROM lineitem
    ), moments AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM feats
    ), scatter AS (
      SELECT n,
             CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
             CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
             CAST(n * sxy - sx * sy AS DOUBLE) AS cxy
      FROM moments
    )
    SELECT n,
           round(((cxx + cyy) + sqrt((cxx - cyy) * (cxx - cyy)
                   + 4 * cxy * cxy))
                 / (2 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)),
                 4) AS lambda1,
           round(((cxx + cyy) - sqrt((cxx - cyy) * (cxx - cyy)
                   + 4 * cxy * cxy))
                 / (2 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)),
                 4) AS lambda2,
           CAST(round(1000 * ((cxx + cyy) + sqrt((cxx - cyy) * (cxx - cyy)
                   + 4 * cxy * cxy)) / (2 * (cxx + cyy)), 0)
                AS BIGINT) AS var1_permille
    FROM scatter
    """,
)
def q_ml_pca_2f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form 2-feature PCA over (l_quantity, l_discount-percent):
    the 2x2 covariance eigenvalues from the quadratic formula,
    lambda = ((cxx+cyy) +- sqrt((cxx-cyy)^2 + 4 cxy^2)) / 2, plus the
    permille variance share of the first component — the "is this
    2-D feature pair effectively 1-D" collinearity check.

    Exactness: the five moments accumulate in int64 (quantity <= 50,
    discount-pct <= 10 keep every product far from overflow); the
    scatter-matrix entries n*sxx - sx^2 are still exact int64 and
    convert losslessly to doubles (< 2^53), so the only inexact steps
    are the final IEEE sqrt/divide — deterministic across engines —
    and one 4-dp rounding. The linreg-2f closed-form precedent, turned
    90 degrees. Plan: one map-side projection + a 1-row moment
    aggregate; single pass at any scale."""
    feats = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.expr(
            sql_cents("l_discount")
        ).alias("y"),
    )
    moments = feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    scatter = moments.select(
        "n",
        F.expr("CAST(n * sxx - sx * sx AS DOUBLE)").alias("cxx"),
        F.expr("CAST(n * syy - sy * sy AS DOUBLE)").alias("cyy"),
        F.expr("CAST(n * sxy - sx * sy AS DOUBLE)").alias("cxy"),
    )
    disc = "sqrt((cxx - cyy) * (cxx - cyy) + 4 * cxy * cxy)"
    return scatter.select(
        "n",
        F.expr(
            f"round(((cxx + cyy) + {disc})"
            f" / (2 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 4)"
        ).alias("lambda1"),
        F.expr(
            f"round(((cxx + cyy) - {disc})"
            f" / (2 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 4)"
        ).alias("lambda2"),
        F.expr(
            f"CAST(round(1000 * ((cxx + cyy) + {disc})"
            f" / (2 * (cxx + cyy)), 0) AS BIGINT)"
        ).alias("var1_permille"),
    )


# PR-curve threshold grid: $50k..$250k in $50k steps (order-total
# cents), evaluated as "score >= T predicts positive".
_PR_THRESHOLDS = [5_000_000 * k for k in range(1, 6)]


@query(
    "q_ml_pr_curve",
    oracle=f"""
    WITH labeled AS (
      SELECT {_CENTS_SQL} AS cents,
             CASE WHEN {_POS_SQL} THEN 1 ELSE 0 END AS pos
      FROM orders
    ), grid AS (
      SELECT * FROM (VALUES {", ".join(f"({v})" for v in _PR_THRESHOLDS)})
        g(threshold_cents)
    ), folded AS (
      SELECT g.threshold_cents,
             CAST(sum(CASE WHEN l.cents >= g.threshold_cents
                           THEN l.pos ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN l.cents >= g.threshold_cents
                           THEN 1 - l.pos ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN l.cents < g.threshold_cents
                           THEN l.pos ELSE 0 END) AS BIGINT) AS fn
      FROM labeled l CROSS JOIN grid g
      GROUP BY g.threshold_cents
    )
    SELECT threshold_cents, tp, fp, fn,
           (2 * 1000 * tp + (tp + fp)) // (2 * (tp + fp))
               AS precision_permille,
           (2 * 1000 * tp + (tp + fn)) // (2 * (tp + fn))
               AS recall_permille,
           (2 * 1000 * 2 * tp + (2 * tp + fp + fn))
               // (2 * (2 * tp + fp + fn)) AS f1_permille
    FROM folded ORDER BY threshold_cents
    """,
)
def q_ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 curve for the order-total-predicts-priority
    classifier at a fixed $50k threshold grid: per threshold, the exact
    confusion counts (score >= T predicts positive) and half-up
    permille precision, recall, and F1 (2·tp / (2·tp + fp + fn) — one
    rational, no chained rounded divisions). The operating-point
    companion to q_ml_auc's ranking view.

    Plan: the 5-row threshold grid broadcast-crosses into the scan
    (each order contributes one partial-agg row per threshold — a
    constant 5x map-side expansion, combined before any shuffle), then
    a 5-row fold. One pass at any scale; every number is int64."""
    labeled = t(spark, sf_dir, "orders").select(
        F.expr(_CENTS_SQL).alias("cents"),
        F.when(F.col("o_orderpriority").isin(*_POS_PRIORITIES), 1)
        .otherwise(0)
        .alias("pos"),
    )
    grid = spark.createDataFrame(
        [(v,) for v in _PR_THRESHOLDS], "threshold_cents bigint"
    )
    folded = (
        labeled.crossJoin(F.broadcast(grid))
        .groupBy("threshold_cents")
        .agg(
            F.sum(
                F.when(
                    F.col("cents") >= F.col("threshold_cents"),
                    F.col("pos"),
                ).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(
                    F.col("cents") >= F.col("threshold_cents"),
                    1 - F.col("pos"),
                ).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(
                    F.col("cents") < F.col("threshold_cents"),
                    F.col("pos"),
                ).otherwise(0)
            ).alias("fn"),
        )
    )
    return (
        folded.select(
            "threshold_cents",
            "tp",
            "fp",
            "fn",
            F.expr(
                "(2 * 1000 * tp + (tp + fp)) DIV (2 * (tp + fp))"
            ).alias("precision_permille"),
            F.expr(
                "(2 * 1000 * tp + (tp + fn)) DIV (2 * (tp + fn))"
            ).alias("recall_permille"),
            F.expr(
                "(2 * 1000 * 2 * tp + (2 * tp + fp + fn))"
                " DIV (2 * (2 * tp + fp + fn))"
            ).alias("f1_permille"),
        )
        .orderBy("threshold_cents")
    )


@query(
    "q_agg_spearman",
    oracle=f"""
    WITH pairs AS (
      SELECT CAST(l_quantity AS BIGINT) AS bx,
             {sql_cents('l_extendedprice')} // 100000 AS by
      FROM lineitem
    ), joint AS (
      SELECT bx, by, count(*) AS cnt FROM pairs GROUP BY bx, by
    ), margx AS (
      SELECT bx,
             2 * coalesce(sum(cnt) OVER (ORDER BY bx ROWS BETWEEN
                  UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS rx2
      FROM (SELECT bx, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM joint GROUP BY bx)
    ), margy AS (
      SELECT by,
             2 * coalesce(sum(cnt) OVER (ORDER BY by ROWS BETWEEN
                  UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS ry2
      FROM (SELECT by, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM joint GROUP BY by)
    ), moments AS (
      -- HUGEINT on the FIRST factor (r07 100× catch): the per-row
      -- triple product cnt·rx2·ry2 alone passes int64 at 100×-sf0.1,
      -- so widening only the sum result was one decade short
      SELECT CAST(sum(j.cnt) AS HUGEINT) AS n,
             CAST(sum(CAST(j.cnt AS HUGEINT) * mx.rx2) AS HUGEINT) AS sx,
             CAST(sum(CAST(j.cnt AS HUGEINT) * my.ry2) AS HUGEINT) AS sy,
             CAST(sum(CAST(j.cnt AS HUGEINT) * mx.rx2 * mx.rx2)
                  AS HUGEINT) AS sxx,
             CAST(sum(CAST(j.cnt AS HUGEINT) * my.ry2 * my.ry2)
                  AS HUGEINT) AS syy,
             CAST(sum(CAST(j.cnt AS HUGEINT) * mx.rx2 * my.ry2)
                  AS HUGEINT) AS sxy
      FROM joint j
      JOIN (SELECT bx, CAST(rx2 AS BIGINT) AS rx2 FROM margx) mx
        ON mx.bx = j.bx
      JOIN (SELECT by, CAST(ry2 AS BIGINT) AS ry2 FROM margy) my
        ON my.by = j.by
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 4)
               AS spearman_rho
    FROM moments
    """,
)
def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (with ties) between line-item quantity
    and the $1,000 price band, computed WITHOUT ever ranking a row:
    both variables quantize onto integer grids, midranks come from
    cumulative counts over the tiny marginals (doubled — 2·below +
    count + 1 — so the tie-average half never leaves int64), and
    Pearson-on-midranks folds from the joint band table. The monotone-
    association complement to q_agg_regression's linear view.

    Exactness: moment sums reach ~4n^3 (~1e18 at sf0.1) so the centered
    scatter n·sxx − sx² is widened to DECIMAL(38)/HUGEINT (the
    Gini/HHI law); one double division + sqrt + round-4 at the end.
    Plan: one joint-grid aggregation (grid-bounded), windows over the
    two marginals, broadcast midrank lookups, a 1-row fold — the scan
    is the only data-sized stage at any scale."""
    pairs = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("bx"),
        F.expr(
            f"{sql_cents('l_extendedprice')} DIV 100000"
        ).alias("by"),
    )
    # Eager localCheckpoint, not lazy persist: the grid feeds THREE plan
    # branches (both marginals + the moment fold) and would re-execute
    # the data-sized scan per branch otherwise (the LPA-backbone law).
    joint = (
        pairs.groupBy("bx", "by")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(checkpoint)
    )

    def _midranks(marg: DataFrame, key: str, out: str) -> DataFrame:
        w_below = Window.orderBy(key).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return marg.select(
            key,
            (
                2 * F.coalesce(F.sum("cnt").over(w_below), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias(out),
        )

    margx = _midranks(
        joint.groupBy("bx").agg(F.sum("cnt").alias("cnt")), "bx", "rx2"
    )
    margy = _midranks(
        joint.groupBy("by").agg(F.sum("cnt").alias("cnt")), "by", "ry2"
    )
    # Widen INSIDE the sum: cnt·rx2·ry2 reaches ~4n³ and the running
    # int64 accumulator overflowed at 10×-sf0.1 (caught by the r07
    # scale10 oracle sweep — casting only the sum RESULT was too late).
    # The decimal multiply is grid-bounded (~10³ cells), not data-sized.
    wide = F.col("cnt").cast("decimal(38,0)")
    moments = (
        joint.join(F.broadcast(margx), "bx")
        .join(F.broadcast(margy), "by")
        .agg(
            F.sum(wide).alias("n"),
            F.sum(wide * F.col("rx2")).alias("sx"),
            F.sum(wide * F.col("ry2")).alias("sy"),
            F.sum(wide * F.col("rx2") * F.col("rx2")).alias("sxx"),
            F.sum(wide * F.col("ry2") * F.col("ry2")).alias("syy"),
            F.sum(wide * F.col("rx2") * F.col("ry2")).alias("sxy"),
        )
    )
    return moments.select(
        F.col("n").cast("long").alias("n"),
        F.expr(
            "round(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
            "        * CAST(n * syy - sy * sy AS DOUBLE)), 4)"
        ).alias("spearman_rho"),
    )


# 5-fold CV geometry: md5 folds on the order key, the $25k stump grid,
# urgent/high priority as the positive class (the q_ml_decision_stump
# contract, evaluated honestly on held-out data).
_CV_FOLDS = 5
_CV_BAND_CENTS = 2_500_000


@query(
    "q_ml_cross_val",
    oracle=f"""
    WITH labeled AS (
      SELECT {_CENTS_SQL} // {_CV_BAND_CENTS} AS band,
             {_sql_hash_bucket('o_orderkey', _CV_FOLDS)} AS fold,
             CASE WHEN {_POS_SQL} THEN 1 ELSE 0 END AS pos
      FROM orders
    ), grid AS (
      SELECT band, fold, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
      FROM labeled GROUP BY band, fold
    ), band_tot AS (
      SELECT band, CAST(sum(n) AS BIGINT) AS bn,
             CAST(sum(n_pos) AS BIGINT) AS bp
      FROM grid GROUP BY band
    ), train AS (
      SELECT g.fold, g.band,
             CAST(bt.bn - g.n AS BIGINT) AS tr_n,
             CAST(bt.bp - g.n_pos AS BIGINT) AS tr_pos,
             g.n AS te_n, g.n_pos AS te_pos
      FROM grid g JOIN band_tot bt ON bt.band = g.band
    ), cum AS (
      SELECT fold, band,
             sum(tr_n) OVER w AS trn_l, sum(tr_pos) OVER w AS trp_l,
             sum(tr_n) OVER p AS trn_t, sum(tr_pos) OVER p AS trp_t,
             sum(te_n) OVER w AS ten_l, sum(te_pos) OVER w AS tep_l,
             sum(te_n) OVER p AS ten_t, sum(te_pos) OVER p AS tep_t
      FROM train
      WINDOW w AS (PARTITION BY fold ORDER BY band
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             p AS (PARTITION BY fold)
    ), scored AS (
      SELECT fold, band,
             greatest(trp_l, trn_l - trp_l)
               + greatest(trp_t - trp_l,
                          (trn_t - trn_l) - (trp_t - trp_l))
               AS tr_correct,
             CASE WHEN 2 * trp_l > trn_l THEN 1 ELSE 0 END AS pred_l,
             CASE WHEN 2 * (trp_t - trp_l) > (trn_t - trn_l)
                  THEN 1 ELSE 0 END AS pred_r,
             ten_l, tep_l, ten_t, tep_t
      FROM cum WHERE trn_l < trn_t
    ), best AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fold
          ORDER BY tr_correct DESC, band ASC) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT fold, (band + 1) * {_CV_BAND_CENTS} AS threshold_cents,
           CAST(ten_t AS BIGINT) AS test_n,
           CAST(CASE WHEN pred_l = 1 THEN tep_l
                     ELSE ten_l - tep_l END
                + CASE WHEN pred_r = 1 THEN tep_t - tep_l
                       ELSE (ten_t - ten_l) - (tep_t - tep_l) END
                AS BIGINT) AS test_correct,
           CAST((2 * 1000 * (CASE WHEN pred_l = 1 THEN tep_l
                     ELSE ten_l - tep_l END
                + CASE WHEN pred_r = 1 THEN tep_t - tep_l
                       ELSE (ten_t - ten_l) - (tep_t - tep_l) END)
                + ten_t) // (2 * ten_t) AS BIGINT) AS acc_permille
    FROM best ORDER BY fold
    """,
)
def q_ml_cross_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest 5-fold cross-validation of the decision stump: folds come
    from the md5 bucket of the order key (content-stable, resharding-
    invariant), each fold's threshold is learned on the OTHER four
    folds and evaluated on the held-out one, with both side-majority
    predictions taken from the TRAINING side only. Per fold: chosen
    threshold, held-out size, correct count, half-up permille accuracy
    — the generalization check q_ml_decision_stump's in-sample top-5
    cannot give.

    Single-scan trick: ONE (band, fold) grid aggregation serves all
    five folds — training counts for fold f are the band totals minus
    f's own cells, so no second pass over the data ever happens;
    everything after the grid is fold-partitioned windows over ~100
    cells. All counts, majority calls (strict 2p > n — ties predict
    negative), and accuracies are exact integers."""
    labeled = t(spark, sf_dir, "orders").select(
        F.expr(f"{_CENTS_SQL} DIV {_CV_BAND_CENTS}").alias("band"),
        hash_bucket(F.col("o_orderkey"), _CV_FOLDS).alias("fold"),
        F.when(F.col("o_orderpriority").isin(*_POS_PRIORITIES), 1)
        .otherwise(0)
        .alias("pos"),
    )
    grid = labeled.groupBy("band", "fold").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    w_band = Window.partitionBy("band")
    train = grid.select(
        "fold",
        "band",
        (F.sum("n").over(w_band) - F.col("n")).alias("tr_n"),
        (F.sum("n_pos").over(w_band) - F.col("n_pos")).alias("tr_pos"),
        F.col("n").alias("te_n"),
        F.col("n_pos").alias("te_pos"),
    )
    w_cum = (
        Window.partitionBy("fold")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fold = Window.partitionBy("fold")
    cum = train.select(
        "fold",
        "band",
        F.sum("tr_n").over(w_cum).alias("trn_l"),
        F.sum("tr_pos").over(w_cum).alias("trp_l"),
        F.sum("tr_n").over(w_fold).alias("trn_t"),
        F.sum("tr_pos").over(w_fold).alias("trp_t"),
        F.sum("te_n").over(w_cum).alias("ten_l"),
        F.sum("te_pos").over(w_cum).alias("tep_l"),
        F.sum("te_n").over(w_fold).alias("ten_t"),
        F.sum("te_pos").over(w_fold).alias("tep_t"),
    )
    scored = cum.filter(F.col("trn_l") < F.col("trn_t")).select(
        "fold",
        "band",
        (
            F.greatest(F.col("trp_l"), F.col("trn_l") - F.col("trp_l"))
            + F.greatest(
                F.col("trp_t") - F.col("trp_l"),
                (F.col("trn_t") - F.col("trn_l"))
                - (F.col("trp_t") - F.col("trp_l")),
            )
        ).alias("tr_correct"),
        F.when(2 * F.col("trp_l") > F.col("trn_l"), 1)
        .otherwise(0)
        .alias("pred_l"),
        F.when(
            2 * (F.col("trp_t") - F.col("trp_l"))
            > (F.col("trn_t") - F.col("trn_l")),
            1,
        )
        .otherwise(0)
        .alias("pred_r"),
        "ten_l",
        "tep_l",
        "ten_t",
        "tep_t",
    )
    w_best = Window.partitionBy("fold").orderBy(
        F.col("tr_correct").desc(), F.col("band").asc()
    )
    best = scored.withColumn("rk", F.row_number().over(w_best)).filter(
        F.col("rk") == 1
    )
    test_correct = (
        "CASE WHEN pred_l = 1 THEN tep_l ELSE ten_l - tep_l END"
        " + CASE WHEN pred_r = 1 THEN tep_t - tep_l"
        " ELSE (ten_t - ten_l) - (tep_t - tep_l) END"
    )
    return (
        best.select(
            "fold",
            ((F.col("band") + 1) * _CV_BAND_CENTS).alias(
                "threshold_cents"
            ),
            F.col("ten_t").alias("test_n"),
            F.expr(f"CAST({test_correct} AS BIGINT)").alias(
                "test_correct"
            ),
            F.expr(
                f"CAST((2 * 1000 * ({test_correct}) + ten_t)"
                f" DIV (2 * ten_t) AS BIGINT)"
            ).alias("acc_permille"),
        )
        .orderBy("fold")
    )


@query(
    "q_ml_mcc",
    oracle=f"""
    WITH counts AS (
      SELECT
        CAST(sum(CASE WHEN {_CENTS_SQL} >= 10000000
                       AND ({_POS_SQL}) THEN 1 ELSE 0 END)
             AS BIGINT) AS tp,
        CAST(sum(CASE WHEN {_CENTS_SQL} >= 10000000
                       AND NOT ({_POS_SQL}) THEN 1 ELSE 0 END)
             AS BIGINT) AS fp,
        CAST(sum(CASE WHEN {_CENTS_SQL} < 10000000
                       AND ({_POS_SQL}) THEN 1 ELSE 0 END)
             AS BIGINT) AS fn,
        CAST(sum(CASE WHEN {_CENTS_SQL} < 10000000
                       AND NOT ({_POS_SQL}) THEN 1 ELSE 0 END)
             AS BIGINT) AS tn
      FROM orders
    )
    SELECT tp, fp, fn, tn,
           round((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
                  - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
                 / sqrt(CAST((tp + fp) AS DOUBLE)
                        * CAST((tp + fn) AS DOUBLE)
                        * CAST((tn + fp) AS DOUBLE)
                        * CAST((tn + fn) AS DOUBLE)),
                 4) AS mcc
    FROM counts
    """,
)
def q_ml_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the $100k-threshold priority
    classifier: the single-number confusion summary that, unlike
    accuracy or F1, stays honest under class imbalance (it is the
    Pearson correlation of the binary prediction/label pair). Completes
    the operating-point metric block (PR curve, chi-square, MCC) on
    the same contract.

    Counts are one exact int64 pass; the tp·tn − fp·fn products move
    to doubles (each factor an exactly-represented int64), one IEEE
    sqrt + round-4 at the boundary. Plan: single map-side 1-row
    aggregate — one pass at any scale."""
    counts = t(spark, sf_dir, "orders").agg(
        *[
            F.sum(
                F.when(F.expr(cond), 1).otherwise(0)
            ).alias(name)
            for name, cond in [
                ("tp", f"{_CENTS_SQL} >= 10000000 AND ({_POS_SQL})"),
                (
                    "fp",
                    f"{_CENTS_SQL} >= 10000000 AND NOT ({_POS_SQL})",
                ),
                ("fn", f"{_CENTS_SQL} < 10000000 AND ({_POS_SQL})"),
                (
                    "tn",
                    f"{_CENTS_SQL} < 10000000 AND NOT ({_POS_SQL})",
                ),
            ]
        ]
    )
    return counts.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            "round((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)"
            " - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))"
            " / sqrt(CAST((tp + fp) AS DOUBLE)"
            " * CAST((tp + fn) AS DOUBLE)"
            " * CAST((tn + fp) AS DOUBLE)"
            " * CAST((tn + fn) AS DOUBLE)), 4)"
        ).alias("mcc"),
    )


def _split_band_cells(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(cells, train): the checkpointed (band, is_train, n, n_pos) grid
    of orders by $_AUC_BAND_CENTS band and md5 split — one scan feeds
    train, global and test — and the train bands' half-up permille
    positive rate (tband, p)."""
    labeled = t(spark, sf_dir, "orders").select(
        F.expr(f"{_CENTS_SQL} DIV {_AUC_BAND_CENTS}").alias("band"),
        F.when(hash_bucket(F.col("o_orderkey")) < 50, 1)
        .otherwise(0)
        .alias("is_train"),
        F.when(F.col("o_orderpriority").isin(*_POS_PRIORITIES), 1)
        .otherwise(0)
        .alias("pos"),
    )
    cells = (
        labeled.groupBy("band", "is_train")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos"))
        .transform(checkpoint)
    )
    train = cells.filter(F.col("is_train") == 1).select(
        F.col("band").alias("tband"),
        F.expr("(2 * 1000 * n_pos + n) DIV (2 * n)").alias("p"),
    )
    return cells, train


# SQL twin of :func:`_split_band_cells`: the ``labeled``, ``cells`` and
# ``train`` CTEs, the last left open.
_SQL_SPLIT_BAND_CELLS = f"""
    WITH labeled AS (
      SELECT {_CENTS_SQL} // {_AUC_BAND_CENTS} AS band,
             CASE WHEN {_sql_hash_bucket('o_orderkey')} < 50
                  THEN 1 ELSE 0 END AS is_train,
             CASE WHEN {_POS_SQL} THEN 1 ELSE 0 END AS pos
      FROM orders
    ), cells AS (
      SELECT band, is_train, count(*) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM labeled GROUP BY band, is_train
    ), train AS (
      SELECT band, (2 * 1000 * n_pos + n) // (2 * n) AS p
      FROM cells WHERE is_train = 1"""


@query(
    "q_ml_brier",
    oracle=f"""
{_SQL_SPLIT_BAND_CELLS}
    ), global_train AS (
      SELECT CAST((2 * 1000 * sum(n_pos) + sum(n)) // (2 * sum(n))
                  AS BIGINT) AS gp,
             CAST(sum(n) AS BIGINT) AS n_train
      FROM cells WHERE is_train = 1
    ), test_scored AS (
      SELECT te.n, te.n_pos,
             CAST(coalesce(tr.p, g.gp) AS BIGINT) AS p,
             CASE WHEN tr.p IS NULL THEN te.n ELSE 0 END AS fb,
             g.n_train
      FROM cells te
      LEFT JOIN train tr ON tr.band = te.band
      CROSS JOIN global_train g
      WHERE te.is_train = 0
    )
    SELECT CAST(min(n_train) AS BIGINT) AS n_train,
           CAST(sum(n) AS BIGINT) AS n_test,
           CAST(sum(fb) AS BIGINT) AS n_fallback_rows,
           CAST((2 * sum((n - n_pos) * p * p
                         + n_pos * (p - 1000) * (p - 1000))
                 + sum(n)) // (2 * sum(n)) AS BIGINT) AS brier_e6
    FROM test_scored
    """,
)
def q_ml_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-INTEGER Brier score: the $1k-band positive rate learned on
    the md5 train half (a half-up permille per band — the calibrated
    probability) is scored on the held-out half as the mean squared
    permille error, Σ(p − 1000·y)²/n expanded per band as
    n_neg·p² + n_pos·(p−1000)² so not a single float exists anywhere
    — probabilities, errors, and the final x1e6 Brier are all int64.
    Unseen test bands fall back to the global train rate (counted).
    The proper-scoring-rule companion to AUC (ranking), MCC
    (operating point), and cross-val (generalization).

    Plan: one (band, split) grid aggregation serves train and test
    (the q_ml_cross_val single-scan trick), tiny joins over the band
    grid, a 1-row fold."""
    cells, train = _split_band_cells(spark, sf_dir)
    global_train = cells.filter(F.col("is_train") == 1).agg(
        F.expr(
            "CAST((2 * 1000 * sum(n_pos) + sum(n)) DIV (2 * sum(n))"
            " AS BIGINT)"
        ).alias("gp"),
        F.sum("n").alias("n_train"),
    )
    test_scored = (
        cells.filter(F.col("is_train") == 0)
        .join(F.broadcast(train), F.col("band") == F.col("tband"), "left_outer")
        .crossJoin(F.broadcast(global_train))
        .select(
            "n",
            "n_pos",
            F.coalesce(F.col("p"), F.col("gp")).alias("p"),
            F.when(F.col("p").isNull(), F.col("n"))
            .otherwise(0)
            .alias("fb"),
            "n_train",
        )
    )
    return test_scored.agg(
        F.min("n_train").alias("n_train"),
        F.sum("n").alias("n_test"),
        F.sum("fb").alias("n_fallback_rows"),
        F.expr(
            "CAST((2 * sum((n - n_pos) * p * p"
            " + n_pos * (p - 1000) * (p - 1000)) + sum(n))"
            " DIV (2 * sum(n)) AS BIGINT)"
        ).alias("brier_e6"),
    )


@query(
    "q_ml_psi",
    oracle=f"""
    WITH labeled AS (
      SELECT {_CENTS_SQL} // 5000000 AS band,
             CASE WHEN {_sql_hash_bucket('o_orderkey', 2)} = 0
                  THEN 0 ELSE 1 END AS cohort
      FROM orders
    ), cells AS (
      SELECT band,
             sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) + 1 AS a,
             sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) + 1 AS b
      FROM labeled GROUP BY band
    ), tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
      FROM cells
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bands,
           CAST(min(ta) AS BIGINT) AS n_a, CAST(min(tb) AS BIGINT) AS n_b,
           round(sum((CAST(a AS DOUBLE) / ta - CAST(b AS DOUBLE) / tb)
                     * ln((CAST(a AS DOUBLE) / ta)
                          / (CAST(b AS DOUBLE) / tb))), 4) AS psi,
           round(sum((CAST(a AS DOUBLE) / ta - CAST(b AS DOUBLE) / tb)
                     * ln((CAST(a AS DOUBLE) / ta)
                          / (CAST(b AS DOUBLE) / tb))), 4) > 0.2
               AS drift_alert
    FROM cells CROSS JOIN tot
    """,
)
def q_ml_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the two md5 cohorts over the
    $50k score bands — the model-monitoring workhorse answering "did
    the score distribution move enough to retrain" (alert at the
    conventional PSI > 0.2). Laplace +1 on every cell keeps the log
    finite on one-sided bands; the md5 split makes the two
    "populations" content-stable, so the expected PSI is near zero
    and the key doubles as the splitter's own drift null-test.

    Counts are exact int64; each (share diff)·ln(share ratio) term is
    one identical double tree per engine with round-4 at the boundary
    (the PMI law). Plan: one grid aggregation + a 1-row total + a
    grid-bounded fold."""
    labeled = t(spark, sf_dir, "orders").select(
        F.expr(f"{_CENTS_SQL} DIV 5000000").alias("band"),
        hash_bucket(F.col("o_orderkey"), 2).alias("cohort"),
    )
    cells = labeled.groupBy("band").agg(
        (
            F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)) + 1
        ).alias("a"),
        (
            F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)) + 1
        ).alias("b"),
    ).transform(checkpoint)  # feeds totals + the fold
    tot = cells.agg(
        F.sum("a").alias("ta"), F.sum("b").alias("tb")
    )
    term = (
        "(CAST(a AS DOUBLE) / ta - CAST(b AS DOUBLE) / tb)"
        " * ln((CAST(a AS DOUBLE) / ta) / (CAST(b AS DOUBLE) / tb))"
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_bands"),
            F.min("ta").alias("n_a"),
            F.min("tb").alias("n_b"),
            F.expr(f"round(sum({term}), 4)").alias("psi"),
            (F.expr(f"round(sum({term}), 4)") > 0.2).alias(
                "drift_alert"
            ),
        )
    )


@query(
    "q_ml_cohen_kappa",
    oracle=f"""
    WITH rated AS (
      SELECT CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS ra,
             CASE WHEN {sql_cents('l_extendedprice')} > 2500000 THEN 1 ELSE 0 END
                 AS rb
      FROM lineitem
    ), counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ra * rb) AS BIGINT) AS both1,
             CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS both0,
             CAST(sum(ra) AS BIGINT) AS a1,
             CAST(sum(rb) AS BIGINT) AS b1
      FROM rated
    )
    SELECT n, both1, both0, a1, b1,
           CAST((2 * 1000 * (n * (both1 + both0)
                  - (a1 * b1 + (n - a1) * (n - b1)))
                 + (n * n - (a1 * b1 + (n - a1) * (n - b1))))
                // (2 * (n * n - (a1 * b1 + (n - a1) * (n - b1))))
                AS BIGINT) AS kappa_milli
    FROM counts
    """,
)
def q_ml_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic "big line item" raters
    (quantity > 25 vs price > $25k): chance-corrected agreement as ONE
    integer rational — kappa = (N·agree − Σ rowᵢ·colᵢ)/(N² − Σ rowᵢ·colᵢ)
    clears both denominators, so the half-up milli value is exact with
    no intermediate probability floats. The inter-rater-agreement
    primitive for comparing two labeling heuristics (or a heuristic vs
    a model) before trusting either.

    int64 bound: N² ≈ 3.6·10^11 at sf0.1 and 2000·N·agree ≈ 7·10^14 —
    four orders of headroom (DECIMAL(38) is the documented upgrade at
    sf ≥ 100). A worse-than-chance pair makes the numerator negative;
    both engines truncate toward zero identically there (the
    q_fn_intdiv_laws contract), so the hash still matches — only the
    "half-up" reading weakens to "half-toward-zero" for kappa < 0.
    Plan: one map-side projection + a 1-row fold."""
    rated = t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_quantity") > 25, 1).otherwise(0).alias("ra"),
        F.when(
            F.expr(
                sql_cents("l_extendedprice")
            )
            > 2_500_000,
            1,
        )
        .otherwise(0)
        .alias("rb"),
    )
    counts = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("ra") * F.col("rb")).alias("both1"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).alias("both0"),
        F.sum("ra").alias("a1"),
        F.sum("rb").alias("b1"),
    )
    return counts.select(
        "n",
        "both1",
        "both0",
        "a1",
        "b1",
        F.expr(
            "CAST((2 * 1000 * (n * (both1 + both0)"
            " - (a1 * b1 + (n - a1) * (n - b1)))"
            " + (n * n - (a1 * b1 + (n - a1) * (n - b1))))"
            " DIV (2 * (n * n - (a1 * b1 + (n - a1) * (n - b1))))"
            " AS BIGINT)"
        ).alias("kappa_milli"),
    )


@query(
    "q_ml_calibration",
    oracle=f"""
{_SQL_SPLIT_BAND_CELLS}
    ), global_train AS (
      SELECT CAST((2 * 1000 * sum(n_pos) + sum(n)) // (2 * sum(n))
                  AS BIGINT) AS gp
      FROM cells WHERE is_train = 1
    ), test_scored AS (
      SELECT te.n, te.n_pos, CAST(coalesce(tr.p, g.gp) AS BIGINT) AS p
      FROM cells te
      LEFT JOIN train tr ON tr.band = te.band
      CROSS JOIN global_train g
      WHERE te.is_train = 0
    ), dec AS (
      SELECT least(p // 100, 9) AS decile,
             CAST(sum(n) AS BIGINT) AS n,
             CAST((2 * sum(n * p) + sum(n)) // (2 * sum(n)) AS BIGINT)
               AS pred_permille,
             CAST((2 * 1000 * sum(n_pos) + sum(n)) // (2 * sum(n))
                  AS BIGINT) AS obs_permille
      FROM test_scored GROUP BY 1
    ), bins AS (
      SELECT CAST(decile AS BIGINT) AS decile, n, pred_permille,
             obs_permille,
             abs(pred_permille - obs_permille) AS gap_permille
      FROM dec
    )
    SELECT * FROM bins
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(sum(n) AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST((2 * sum(n * gap_permille) + sum(n)) // (2 * sum(n))
                AS BIGINT)
    FROM bins
    ORDER BY decile
    """,
)
def q_ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table + Expected Calibration Error for the $1k-band
    probability model: band positive-rates learned on the md5 train
    half score the held-out half, test mass groups into predicted-
    probability DECILES (permille DIV 100, top-coded at 9), and each
    decile reports predicted vs observed permille and their gap; the
    decile=-1 summary row is the mass-weighted ECE. Completes the
    eval family's calibration axis: Brier measures the same gap as one
    squared-error scalar, this key shows WHERE the model is over- or
    under-confident — the reliability-diagram relation, minus the
    plot.

    ALL-INTEGER (the q_ml_brier discipline): probabilities are half-up
    permilles, decile means fold as (2*sum(n*p)+n) DIV 2n over int64
    cell counts, the observed rate and gap never leave int64, and the
    ECE is a half-up integer weighting of integer gaps. Unseen test
    bands inherit the global train rate (the documented fallback).

    Plan: ONE (band, split) grid aggregation serves train, global and
    test (the shared cells localCheckpoint), tiny broadcast joins, a
    <=10-row decile rollup + 1-row summary union. At any scale the
    single fact scan is the only shuffle."""
    cells, train = _split_band_cells(spark, sf_dir)
    global_train = cells.filter(F.col("is_train") == 1).agg(
        F.expr(
            "CAST((2 * 1000 * sum(n_pos) + sum(n)) DIV (2 * sum(n))"
            " AS BIGINT)"
        ).alias("gp")
    )
    test_scored = (
        cells.filter(F.col("is_train") == 0)
        .join(
            F.broadcast(train), F.col("band") == F.col("tband"), "left_outer"
        )
        .crossJoin(F.broadcast(global_train))
        .select(
            "n",
            "n_pos",
            F.coalesce(F.col("p"), F.col("gp")).cast("long").alias("p"),
        )
    )
    bins = (
        test_scored.groupBy(
            F.least(F.expr("p DIV 100"), F.lit(9))
            .cast("long")
            .alias("decile")
        )
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.expr(
                "CAST((2 * sum(n * p) + sum(n)) DIV (2 * sum(n))"
                " AS BIGINT)"
            ).alias("pred_permille"),
            F.expr(
                "CAST((2 * 1000 * sum(n_pos) + sum(n)) DIV (2 * sum(n))"
                " AS BIGINT)"
            ).alias("obs_permille"),
        )
        .select(
            "decile",
            "n",
            "pred_permille",
            "obs_permille",
            F.abs(
                F.col("pred_permille") - F.col("obs_permille")
            ).alias("gap_permille"),
        )
        .transform(checkpoint)
    )
    ece = bins.agg(
        F.lit(-1).cast("long").alias("decile"),
        F.sum("n").cast("long").alias("n"),
        F.lit(None).cast("long").alias("pred_permille"),
        F.lit(None).cast("long").alias("obs_permille"),
        F.expr(
            "CAST((2 * sum(n * gap_permille) + sum(n))"
            " DIV (2 * sum(n)) AS BIGINT)"
        ).alias("gap_permille"),
    )
    return bins.unionByName(ece).orderBy("decile")


@query(
    "q_ml_confusion_multiclass",
    oracle="""
    WITH seq AS (
      SELECT o_orderpriority AS actual,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS pred
      FROM orders
    ), labeled AS (
      SELECT actual, pred FROM seq WHERE pred IS NOT NULL
    ), cells AS (
      SELECT actual, pred, CAST(count(*) AS BIGINT) AS n
      FROM labeled GROUP BY actual, pred
    ), classes AS (
      SELECT DISTINCT actual AS label FROM labeled
      UNION SELECT DISTINCT pred FROM labeled
    ), per_class AS (
      SELECT c.label,
             CAST(coalesce(sum(CASE WHEN x.actual = c.label
                                     AND x.pred = c.label
                                    THEN x.n END), 0) AS BIGINT) AS tp,
             CAST(coalesce(sum(CASE WHEN x.pred = c.label
                                     AND x.actual <> c.label
                                    THEN x.n END), 0) AS BIGINT) AS fp,
             CAST(coalesce(sum(CASE WHEN x.actual = c.label
                                     AND x.pred <> c.label
                                    THEN x.n END), 0) AS BIGINT) AS fn
      FROM classes c LEFT JOIN cells x
        ON x.actual = c.label OR x.pred = c.label
      GROUP BY c.label
    ), scored AS (
      SELECT label, tp, fp, fn, tp + fn AS support,
             CASE WHEN tp + fp > 0
                  THEN (2000 * tp + (tp + fp)) // (2 * (tp + fp)) END
               AS p_permille,
             CASE WHEN tp + fn > 0
                  THEN (2000 * tp + (tp + fn)) // (2 * (tp + fn)) END
               AS r_permille,
             CASE WHEN 2 * tp + fp + fn > 0
                  THEN (4000 * tp + (2 * tp + fp + fn))
                       // (2 * (2 * tp + fp + fn)) END AS f1_permille
      FROM per_class
    )
    SELECT label, tp, fp, fn, CAST(support AS BIGINT) AS support,
           CAST(p_permille AS BIGINT) AS p_permille,
           CAST(r_permille AS BIGINT) AS r_permille,
           CAST(f1_permille AS BIGINT) AS f1_permille
    FROM scored
    UNION ALL
    -- macro averages divide by the count of DEFINED per-class scores
    -- (count(col) skips NULL permilles exactly as sum(col) does), so a
    -- class that is never predicted no longer biases macro precision
    -- low (ADVICE r08 item 2); the CASE guards the all-NULL edge.
    SELECT '__macro__', CAST(sum(tp) AS BIGINT), CAST(sum(fp) AS BIGINT),
           CAST(sum(fn) AS BIGINT), CAST(sum(support) AS BIGINT),
           CAST(CASE WHEN count(p_permille) > 0 THEN
                (2 * sum(p_permille) + count(p_permille))
                // (2 * count(p_permille)) END AS BIGINT),
           CAST(CASE WHEN count(r_permille) > 0 THEN
                (2 * sum(r_permille) + count(r_permille))
                // (2 * count(r_permille)) END AS BIGINT),
           CAST(CASE WHEN count(f1_permille) > 0 THEN
                (2 * sum(f1_permille) + count(f1_permille))
                // (2 * count(f1_permille)) END AS BIGINT)
    FROM scored
    """,
)
def q_ml_confusion_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class confusion matrix with per-class precision/recall/F1
    and the macro summary row — the k-class generalization of the
    binary MCC/Brier block (every other evaluation key here is
    two-class).  The "model" is the deterministic persistence
    classifier: predict this order's priority as the customer's
    PREVIOUS order's priority (lag over the customer history — the
    standard do-nothing baseline a real priority model must beat), so
    both engines score the identical prediction stream with no learned
    state.

    Exactness discipline: the 25-cell confusion relation is the only
    shuffled aggregate; tp/fp/fn per class come from conditional sums
    over those cells joined to the class universe (derived from
    actual ∪ pred — the row-universe-by-construction rule from the
    burstiness advice), and every permille is the half-up integer form
    ``(2000·tp + d) // (2d)``.  The macro row averages the per-class
    permilles with the same half-up integer division over the count of
    DEFINED scores (classes whose permille is NULL — never predicted /
    never actual — are excluded from both numerator and denominator,
    the standard macro convention; ADVICE r08) — no doubles anywhere
    in the key.

    Plan: one window over customer order history (partition-bounded,
    ~10 rows per customer at every SF), one 25-cell aggregate, then
    constant-size joins/unions.  At 100 TB the window partitions stay
    customer-bounded and the rest of the plan is O(k²) cells."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    labeled = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("actual"),
            F.lag("o_orderpriority").over(w).alias("pred"),
        )
        .filter(F.col("pred").isNotNull())
    )
    # The ≤k² cell relation is the ONLY fact-derived aggregate and is
    # consumed three times (matrix join + both sides of the class
    # universe) — checkpoint it so the customer window executes once,
    # not per consumer.  Class universe comes from the cells, NOT from
    # `labeled`: deriving it from the fact stream would re-run a
    # fact-sized shuffle twice more for a ≤k-row answer.
    cells = (
        labeled.groupBy("actual", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(checkpoint)
    )
    classes = (
        cells.select(F.col("actual").alias("label"))
        .union(cells.select("pred"))
        .distinct()
    )
    joined = F.broadcast(classes).join(
        cells,
        (cells.actual == F.col("label")) | (cells.pred == F.col("label")),
        "left",
    )
    per_class = joined.groupBy("label").agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("actual") == F.col("label"))
                    & (F.col("pred") == F.col("label")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("pred") == F.col("label"))
                    & (F.col("actual") != F.col("label")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("fp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("actual") == F.col("label"))
                    & (F.col("pred") != F.col("label")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("fn"),
    )
    scored = per_class.select(
        "label",
        "tp",
        "fp",
        "fn",
        (F.col("tp") + F.col("fn")).alias("support"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("(2000 * tp + (tp + fp)) div (2 * (tp + fp))"),
        ).alias("p_permille"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("(2000 * tp + (tp + fn)) div (2 * (tp + fn))"),
        ).alias("r_permille"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.expr(
                "(4000 * tp + (2 * tp + fp + fn))"
                " div (2 * (2 * tp + fp + fn))"
            ),
        ).alias("f1_permille"),
    )
    # Macro denominators count DEFINED per-class scores only (count(col)
    # skips the NULL permilles of never-predicted classes, matching what
    # sum(col) folds — ADVICE r08 item 2), CASE-guarded for the all-NULL
    # edge so both engines return NULL rather than divide by zero.
    macro = scored.agg(
        F.lit("__macro__").alias("label"),
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        F.sum("support").alias("support"),
        F.expr(
            "CASE WHEN count(p_permille) > 0 THEN"
            " (2 * sum(p_permille) + count(p_permille))"
            " div (2 * count(p_permille)) END"
        ).alias("p_permille"),
        F.expr(
            "CASE WHEN count(r_permille) > 0 THEN"
            " (2 * sum(r_permille) + count(r_permille))"
            " div (2 * count(r_permille)) END"
        ).alias("r_permille"),
        F.expr(
            "CASE WHEN count(f1_permille) > 0 THEN"
            " (2 * sum(f1_permille) + count(f1_permille))"
            " div (2 * count(f1_permille)) END"
        ).alias("f1_permille"),
    )
    return scored.unionByName(macro)


@query(
    "q_ml_jackknife",
    oracle=f"""
    WITH li AS (
      SELECT l_suppkey % 20 AS fold,
             {sql_cents('l_extendedprice')}
               * (100 - CAST(round(CAST(l_discount AS DECIMAL(8,2)) * 100,
                                   0) AS BIGINT)) AS rev_cc,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ), per_fold AS (
      SELECT fold, CAST(sum(rev_cc) AS BIGINT) AS s_rev,
             CAST(sum(qty) AS BIGINT) AS s_qty
      FROM li GROUP BY fold
    ), tot AS (
      SELECT CAST(sum(s_rev) AS BIGINT) AS t_rev,
             CAST(sum(s_qty) AS BIGINT) AS t_qty,
             CAST(count(*) AS BIGINT) AS g
      FROM per_fold
    ), loo AS (
      SELECT CAST(t.t_rev - f.s_rev AS DOUBLE)
               / (100.0 * (t.t_qty - f.s_qty)) AS r_i,
             t.t_rev, t.t_qty, t.g
      FROM per_fold f CROSS JOIN tot t
    )
    SELECT CAST(max(g) AS BIGINT) AS n_folds,
           round(CAST(max(t_rev) AS DOUBLE) / (100.0 * max(t_qty)), 6)
             AS r_full,
           round(avg(r_i), 6) AS jk_mean,
           round(sqrt((max(g) - 1.0) * var_pop(r_i)), 8) AS jk_se,
           round((max(g) - 1.0)
                 * (avg(r_i) - CAST(max(t_rev) AS DOUBLE)
                               / (100.0 * max(t_qty))), 6) AS jk_bias
    FROM loo
    """,
)
def q_ml_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-a-group jackknife for a RATIO estimator (revenue dollars
    per unit shipped) — the resampling-based uncertainty audit the
    evaluation family lacked: every other key reports a point metric;
    this one reports the metric PLUS its standard error and first-order
    bias, the numbers a pipeline needs before it alerts on a shift.
    The 20 folds are ``l_suppkey % 20`` (deterministic, balanced), the
    leave-one-out estimates come from TOTALS MINUS PER-FOLD SUMS (one
    aggregate — never 20 passes), and jk_se uses the standard
    (g−1)/g · Σ(R_i − R̄)² form via ``var_pop`` over the 20-row
    relation.

    Exactness: revenue is carried as exact int64 centicents
    (cents × (100 − discount_pct) — the house integer-money law) and
    quantity as int64, so every leave-one-out numerator/denominator is
    integer-exact; doubles appear only in the final 20-row ratio,
    mean, and variance, rounded once (6/8 dp) at the boundary.

    Plan: one map-side-combined 20-group aggregate over the fact scan,
    a 1-row total, a 20×1 broadcast cross join, and a 1-row fold.  At
    100 TB the shuffle is 20 groups wide; the resampling costs nothing
    extra because delete-a-group reuses the single scan."""
    disc_pct = F.round(
        F.col("l_discount").cast("decimal(8,2)") * 100, 0
    ).cast("long")
    li = t(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") % 20).alias("fold"),
        (
            cents(F.col("l_extendedprice"))
            * (100 - disc_pct)
        ).alias("rev_cc"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    per_fold = li.groupBy("fold").agg(
        F.sum("rev_cc").alias("s_rev"), F.sum("qty").alias("s_qty")
    )
    tot = per_fold.agg(
        F.sum("s_rev").alias("t_rev"),
        F.sum("s_qty").alias("t_qty"),
        F.count(F.lit(1)).alias("g"),
    )
    loo = per_fold.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("t_rev") - F.col("s_rev")).cast("double")
            / (100.0 * (F.col("t_qty") - F.col("s_qty")))
        ).alias("r_i"),
        "t_rev",
        "t_qty",
        "g",
    )
    r_full = F.max("t_rev").cast("double") / (
        100.0 * F.max("t_qty")
    )
    return loo.agg(
        F.max("g").alias("n_folds"),
        F.round(r_full, 6).alias("r_full"),
        F.round(F.avg("r_i"), 6).alias("jk_mean"),
        F.round(
            F.sqrt((F.max("g") - F.lit(1.0)) * F.var_pop("r_i")), 8
        ).alias("jk_se"),
        F.round(
            (F.max("g") - F.lit(1.0)) * (F.avg("r_i") - r_full), 6
        ).alias("jk_bias"),
    )


def _sql_hex2(expr: str) -> str:
    """DuckDB int value of the first TWO hex chars of md5(expr) —
    the per-char instr lookup twin of Spark's ``conv(substring(md5(x),
    1, 2), 16, 10)`` (the ``_sql_hash_bucket`` idiom, 2-char form)."""
    return (
        f"((instr('0123456789abcdef', substr(md5({expr}), 1, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substr(md5({expr}), 2, 1)) - 1))"
    )


_BOOT_KEY = (
    "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"
    " || '-' || CAST(b AS VARCHAR)"
)

@query(
    "q_ml_poisson_bootstrap",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             {sql_cents('l_extendedprice')}
               * (100 - CAST(round(CAST(l_discount AS DECIMAL(8,2)) * 100,
                                   0) AS BIGINT)) AS rev_cc
      FROM lineitem
    ), reps AS (
      SELECT li.rev_cc, t.b,
             CASE WHEN {_sql_hex2(_BOOT_KEY)} < 94 THEN 0
                  WHEN {_sql_hex2(_BOOT_KEY)} < 188 THEN 1
                  WHEN {_sql_hex2(_BOOT_KEY)} < 235 THEN 2
                  WHEN {_sql_hex2(_BOOT_KEY)} < 251 THEN 3
                  ELSE 4 END AS m
      FROM li CROSS JOIN (SELECT unnest(range(20)) AS b) t
    ), per_rep AS (
      SELECT b, CAST(sum(m * rev_cc) AS BIGINT) AS s_rev,
             CAST(sum(m) AS BIGINT) AS n_eff
      FROM reps GROUP BY b
    ), full_s AS (
      SELECT CAST(sum(rev_cc) AS BIGINT) AS t_rev,
             CAST(count(*) AS BIGINT) AS t_n
      FROM li
    )
    SELECT CAST(count(*) AS BIGINT) AS n_reps,
           round(CAST(max(f.t_rev) AS DOUBLE) / (100.0 * max(f.t_n)), 6)
             AS theta_full,
           round(avg(CAST(s_rev AS DOUBLE) / (100.0 * n_eff)), 6)
             AS boot_mean,
           round(stddev_samp(CAST(s_rev AS DOUBLE) / (100.0 * n_eff)), 8)
             AS boot_se
    FROM per_rep CROSS JOIN full_s f
    """,
)
def q_ml_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap SE for mean per-lineitem revenue — THE
    resampling scheme that actually runs at 100 TB: classic bootstrap
    needs n draws WITH replacement per replicate (a global shuffle per
    replicate); the Poisson approximation gives every row an
    INDEPENDENT multiplicity m ~ Poisson(1) per replicate, so all B
    replicates fold in ONE map-side pass (the Chamandy et al. /
    streaming-bootstrap construction).  Multiplicities are
    deterministic, not RNG: the first two hex chars of
    md5(orderkey-linenumber-b) give u ∈ [0,256), mapped through the
    truncated-Poisson(1) integer thresholds 94/188/235/251 (cumulative
    e⁻¹ mass scaled by 256, truncated at m=4) — content-stable across
    engines, runs, and cluster sizes, exactly like the md5 split
    buckets.  Output: replicate count, full-sample mean, bootstrap
    mean, bootstrap SE (the jackknife key's cross-check: both estimate
    the same sampling distribution).

    Exactness: revenue in int64 centicents (the jackknife carrier law);
    Σ m·rev_cc stays int64 through 100× (≈6e16 at 60M rows, m ≤ 4);
    doubles only in the 20-row replicate tail, rounded once.

    Plan: one scan with a 20-way map-side sequence explode folding
    straight into a 20-group map-side-combined aggregate — the shuffle
    carries 20 rows per task, never the fan-out.  At 100 TB: read
    amplification 0 (one scan), shuffle bytes O(B × tasks)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (
            cents(F.col("l_extendedprice"))
            * (
                100
                - F.round(F.col("l_discount").cast("decimal(8,2)") * 100, 0)
                .cast("long")
            )
        ).alias("rev_cc"),
    )
    reps = li.select(
        "rev_cc",
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("b"),
        "l_orderkey",
        "l_linenumber",
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "-",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            2,
        ),
        16,
        10,
    ).cast("long")
    reps = reps.select(
        "rev_cc",
        "b",
        F.when(u < 94, 0)
        .when(u < 188, 1)
        .when(u < 235, 2)
        .when(u < 251, 3)
        .otherwise(4)
        .alias("m"),
    )
    per_rep = reps.groupBy("b").agg(
        F.sum(F.col("m") * F.col("rev_cc")).alias("s_rev"),
        F.sum("m").alias("n_eff"),
    )
    full_s = li.agg(
        F.sum("rev_cc").alias("t_rev"), F.count(F.lit(1)).alias("t_n")
    )
    theta = F.col("s_rev").cast("double") / (100.0 * F.col("n_eff"))
    return per_rep.crossJoin(F.broadcast(full_s)).agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.round(
            F.max("t_rev").cast("double") / (100.0 * F.max("t_n")), 6
        ).alias("theta_full"),
        F.round(F.avg(theta), 6).alias("boot_mean"),
        F.round(F.stddev_samp(theta), 8).alias("boot_se"),
    )


@query(
    "q_ml_woe_iv",
    oracle=f"""
{_SQL_BIN_LABELED}
    ), per_bin AS (
      SELECT bin,
             CAST(sum(1 - bad) AS BIGINT) AS n_good,
             CAST(sum(bad) AS BIGINT) AS n_bad
      FROM labeled GROUP BY bin
    ), tot AS (
      SELECT CAST(sum(n_good) AS BIGINT) AS tg,
             CAST(sum(n_bad) AS BIGINT) AS tb
      FROM per_bin
    ), woe AS (
      SELECT b.bin, b.n_good, b.n_bad,
             ln(((CAST(b.n_good AS DOUBLE) / CAST(t.tg AS DOUBLE))
                 / CAST(b.n_bad AS DOUBLE)) * CAST(t.tb AS DOUBLE))
               AS wv,
             CAST(b.n_good AS DOUBLE) / CAST(t.tg AS DOUBLE)
               - CAST(b.n_bad AS DOUBLE) / CAST(t.tb AS DOUBLE) AS d
      FROM per_bin b CROSS JOIN tot t
    ), iv AS (
      SELECT CAST(round(sum(d * wv), 4) AS DOUBLE) AS iv_total FROM woe
    )
    SELECT woe.bin, woe.n_good, woe.n_bad, round(woe.wv, 4) AS woe,
           iv.iv_total
    FROM woe CROSS JOIN iv
    ORDER BY woe.bin
    """,
)
def q_ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value table for a binned
    feature against a binary target (quantity decile-ish bins vs
    returned-flag) -- the credit-scoring-era feature-selection
    primitive still used to rank features before model fitting:
    WoE_bin = ln((good_share)/(bad_share)), IV = sum over bins of
    (good_share - bad_share) * WoE. IV < 0.02 means the feature is
    useless; > 0.5 suspiciously strong.

    Exactness: bin counts fold in int64; each WoE is ONE ln of an
    explicitly-ordered double chain (((g/TG)/b)*TB -- every step a
    correctly-rounded IEEE op on identical inputs, the PMI r08 law);
    IV sums 5 identical double terms (the PSI posture) with round-4
    at the boundary. The unrounded WoE feeds IV in both engines --
    rounding happens once per output column.

    Plan: one map-side-combined 5-bin aggregate over lineitem + 1-row
    totals broadcast-crossed back + a 5-row IV fold. At 100 TB: one
    shuffle carrying 5 rows per task."""
    labeled = t(spark, sf_dir, "lineitem").select(
        F.expr("(CAST(l_quantity AS BIGINT) - 1) DIV 10").alias("bin"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("bad"),
    )
    # The 5-row bin aggregate feeds THREE consumers (totals, the WoE
    # projection, the IV fold); eager-checkpoint it so the lineitem
    # scan+agg executes exactly once (the pmi share-then-release
    # pattern — also what keeps this at one fact pass at 100 TB).
    per_bin = (
        labeled.groupBy("bin")
        .agg(
            F.sum(1 - F.col("bad")).cast("long").alias("n_good"),
            F.sum("bad").cast("long").alias("n_bad"),
        )
        .transform(checkpoint)
    )
    tot = per_bin.agg(
        F.sum("n_good").cast("long").alias("tg"),
        F.sum("n_bad").cast("long").alias("tb"),
    )
    w_expr = F.log(
        (
            F.col("n_good").cast("double") / F.col("tg").cast("double")
            / F.col("n_bad").cast("double")
        )
        * F.col("tb").cast("double")
    )
    d_expr = (
        F.col("n_good").cast("double") / F.col("tg").cast("double")
        - F.col("n_bad").cast("double") / F.col("tb").cast("double")
    )
    woe = per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_good",
        "n_bad",
        w_expr.alias("w"),
        d_expr.alias("d"),
    )
    iv = woe.agg(
        F.round(F.sum(F.col("d") * F.col("w")), 4).alias("iv_total")
    )
    return (
        woe.crossJoin(F.broadcast(iv))
        .select("bin", "n_good", "n_bad", F.round("w", 4).alias("woe"), "iv_total")
        .orderBy("bin")
    )


@query(
    "q_ml_info_gain",
    oracle=f"""
{_SQL_BIN_LABELED}
    ), per_bin AS (
      SELECT bin,
             CAST(sum(1 - bad) AS BIGINT) AS g,
             CAST(sum(bad) AS BIGINT) AS b
      FROM labeled GROUP BY bin
    ), tot AS (
      SELECT CAST(sum(g) AS BIGINT) AS tg, CAST(sum(b) AS BIGINT) AS tb,
             CAST(sum(g + b) AS BIGINT) AS n
      FROM per_bin
    ), folds AS (
      SELECT max(t.n) AS n,
             -((CAST(max(t.tg) AS DOUBLE) / max(t.n))
                 * ln(CAST(max(t.tg) AS DOUBLE) / max(t.n))
               + (CAST(max(t.tb) AS DOUBLE) / max(t.n))
                 * ln(CAST(max(t.tb) AS DOUBLE) / max(t.n))) AS hp,
             sum((CAST(p.g + p.b AS DOUBLE) / t.n)
                 * (CASE WHEN p.g = 0 THEN 0.0 ELSE
                      -(CAST(p.g AS DOUBLE) / (p.g + p.b))
                        * ln(CAST(p.g AS DOUBLE) / (p.g + p.b)) END
                    + CASE WHEN p.b = 0 THEN 0.0 ELSE
                      -(CAST(p.b AS DOUBLE) / (p.g + p.b))
                        * ln(CAST(p.b AS DOUBLE) / (p.g + p.b)) END))
               AS hc,
             sum(-(CAST(p.g + p.b AS DOUBLE) / t.n)
                  * ln(CAST(p.g + p.b AS DOUBLE) / t.n)) AS si
      FROM per_bin p CROSS JOIN tot t
    )
    SELECT n AS n_rows, round(hp, 6) AS h_parent,
           round(hc, 6) AS h_conditional,
           round(hp - hc, 6) AS info_gain,
           round(si, 6) AS split_info,
           round((hp - hc) / si, 6) AS gain_ratio
    FROM folds
    """,
)
def q_ml_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiway information gain + gain ratio of the binned-quantity
    feature against the returned-flag target -- the C4.5 split
    criterion that complements q_ml_decision_stump (which picks a
    binary threshold) and q_ml_woe_iv (which scores the same bins
    monotonically): IG = H(target) - H(target|bin), gain ratio
    divides by the split's own entropy to unbias multiway splits.

    Exactness: bin counts fold in int64; every entropy term is
    p*ln(p) over one double division of exact int64s with identical
    parenthesization in both engines; empty-class bins contribute an
    exact 0.0 by CASE guard (the lim p->0 p*ln(p) convention, not a
    NaN); cross-bin sums are 5 identical double terms (PSI posture);
    round-6 once per output with unrounded terms feeding the
    downstream ratios.

    Plan: reuses the woe_iv shape -- one map-side-combined 5-bin
    aggregate (checkpointed, single fact pass) + 1-row folds. At
    100 TB: one shuffle carrying 5 rows per task."""
    labeled = t(spark, sf_dir, "lineitem").select(
        F.expr("(CAST(l_quantity AS BIGINT) - 1) DIV 10").alias("bin"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("bad"),
    )
    per_bin = (
        labeled.groupBy("bin")
        .agg(
            F.sum(1 - F.col("bad")).cast("long").alias("g"),
            F.sum("bad").cast("long").alias("b"),
        )
        .transform(checkpoint)
    )
    tot = per_bin.agg(
        F.sum("g").cast("long").alias("tg"),
        F.sum("b").cast("long").alias("tb"),
        F.sum(F.col("g") + F.col("b")).cast("long").alias("n"),
    )
    nb = (F.col("g") + F.col("b")).cast("double")
    pg = F.col("g").cast("double") / (F.col("g") + F.col("b"))
    pb = F.col("b").cast("double") / (F.col("g") + F.col("b"))
    h_bin = F.when(F.col("g") == 0, F.lit(0.0)).otherwise(
        -pg * F.log(pg)
    ) + F.when(F.col("b") == 0, F.lit(0.0)).otherwise(-pb * F.log(pb))
    folds = per_bin.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n"),
        (
            -(
                (F.max("tg").cast("double") / F.max("n"))
                * F.log(F.max("tg").cast("double") / F.max("n"))
                + (F.max("tb").cast("double") / F.max("n"))
                * F.log(F.max("tb").cast("double") / F.max("n"))
            )
        ).alias("hp"),
        F.sum((nb / F.col("n")) * h_bin).alias("hc"),
        F.sum(-(nb / F.col("n")) * F.log(nb / F.col("n"))).alias("si"),
    )
    return folds.select(
        F.col("n").alias("n_rows"),
        F.round("hp", 6).alias("h_parent"),
        F.round("hc", 6).alias("h_conditional"),
        F.round(F.col("hp") - F.col("hc"), 6).alias("info_gain"),
        F.round("si", 6).alias("split_info"),
        F.round((F.col("hp") - F.col("hc")) / F.col("si"), 6).alias(
            "gain_ratio"
        ),
    )


@query(
    "q_ml_mcnemar",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             CASE WHEN {sql_cents('o_totalprice')} > 15000000 THEN 1 ELSE 0 END AS pa,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS pb
      FROM orders
    ), cells AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN pa = y THEN 1 ELSE 0 END) AS BIGINT)
               AS correct_a,
             CAST(sum(CASE WHEN pb = y THEN 1 ELSE 0 END) AS BIGINT)
               AS correct_b
      FROM scored
    )
    SELECT n, b, c,
           (2000 * correct_a + n) // (2 * n) AS acc_a_permille,
           (2000 * correct_b + n) // (2 * n) AS acc_b_permille,
           round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
                 / (b + c), 4) AS chi2_cc
    FROM cells
    """,
)
def q_ml_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for comparing two classifiers on the SAME rows --
    the paired analogue of q_ml_chi2_ab (which compares independent
    cohorts): only the DISCORDANT pairs carry signal (b = A right & B
    wrong, c = A wrong & B right), chi2 with continuity correction
    (|b-c|-1)^2/(b+c). The deterministic classifiers are the house
    price-band stump vs the priority rule against the order-finished
    target; both marginal accuracies ship as half-up integer permilles
    so the test statistic is auditable against them.

    Exactness: all cells fold in int64 in ONE pass; the statistic is
    one double division of exact int64s, round-4.

    Plan: one map-side-combined 1-row aggregate over orders. At
    100 TB: one shuffle carrying 1 row per task."""
    cents = F.expr(
        sql_cents("o_totalprice")
    )
    scored = t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.when(cents > 15_000_000, 1).otherwise(0).alias("pa"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("pb"),
    )
    cells = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(F.when(F.col("pa") == F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("correct_a"),
        F.sum(F.when(F.col("pb") == F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("correct_b"),
    )
    return cells.select(
        "n",
        "b",
        "c",
        F.expr("(2000 * correct_a + n) DIV (2 * n)").alias(
            "acc_a_permille"
        ),
        F.expr("(2000 * correct_b + n) DIV (2 * n)").alias(
            "acc_b_permille"
        ),
        F.round(
            (
                (F.abs(F.col("b") - F.col("c")) - 1)
                * (F.abs(F.col("b") - F.col("c")) - 1)
            ).cast("double")
            / (F.col("b") + F.col("c")),
            4,
        ).alias("chi2_cc"),
    )


@query(
    "q_ml_odds_ratio_ci",
    oracle="""
    WITH cells AS (
      SELECT CAST(sum(CASE WHEN l_discount > 0.05 AND l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN l_discount > 0.05 AND l_returnflag <> 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN l_discount <= 0.05 AND l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN l_discount <= 0.05 AND l_returnflag <> 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM lineitem
    ), folded AS (
      SELECT a, b, c, d,
             ln((CAST(a AS DOUBLE) / CAST(b AS DOUBLE))
                * (CAST(d AS DOUBLE) / CAST(c AS DOUBLE))) AS lor,
             sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) AS se
      FROM cells
    )
    SELECT a, b, c, d,
           round(lor, 4) AS log_odds_ratio,
           round(se, 4) AS se_log_or,
           round(lor - 1.96 * se, 4) AS ci_lo_log,
           round(lor + 1.96 * se, 4) AS ci_hi_log,
           CAST(lor - 1.96 * se > 0 OR lor + 1.96 * se < 0 AS INT)
             AS significant
    FROM folded
    """,
)
def q_ml_odds_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 odds ratio with the Wald log-scale confidence interval
    (exposure = deep discount, outcome = returned) -- the epidemiology/
    AB-testing effect-size primitive complementing q_ml_chi2_ab (which
    only tests, never sizes). Reported ON THE LOG SCALE deliberately:
    ln and sqrt on identical double inputs are the certified float
    surface (the house ln posture; sqrt is IEEE-correctly-rounded),
    while exp(ci) would add an uncertified libm call for zero
    information -- a consumer exponentiates at display time.

    Exactness: the four cells fold in int64 in ONE pass; the OR folds
    as the explicitly-ordered chain (a/b)*(d/c) (r08 PMI law -- never
    the int64 product a*d, which crosses 2^63 three decades out); SE's
    four reciprocals sum in fixed written order; round-4 once per
    output; the significance flag compares UNROUNDED bounds to zero.

    Plan: one map-side-combined 1-row aggregate over lineitem. At
    100 TB: one shuffle carrying 1 row per task."""
    exposed = F.col("l_discount") > 0.05
    ret = F.col("l_returnflag") == "R"
    cells = t(spark, sf_dir, "lineitem").agg(
        F.sum(F.when(exposed & ret, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(exposed & ~ret, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~exposed & ret, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~exposed & ~ret, 1).otherwise(0)).cast("long").alias("d"),
    )
    lor = F.log(
        (F.col("a").cast("double") / F.col("b").cast("double"))
        * (F.col("d").cast("double") / F.col("c").cast("double"))
    )
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    folded = cells.select(
        "a", "b", "c", "d", lor.alias("lor"), se.alias("se")
    )
    return folded.select(
        "a",
        "b",
        "c",
        "d",
        F.round("lor", 4).alias("log_odds_ratio"),
        F.round("se", 4).alias("se_log_or"),
        F.round(F.col("lor") - 1.96 * F.col("se"), 4).alias("ci_lo_log"),
        F.round(F.col("lor") + 1.96 * F.col("se"), 4).alias("ci_hi_log"),
        (
            (F.col("lor") - 1.96 * F.col("se") > 0)
            | (F.col("lor") + 1.96 * F.col("se") < 0)
        )
        .cast("int")
        .alias("significant"),
    )


@query(
    "q_ml_isotonic_pav",
    oracle=f"""
{_SQL_BAND_LABELED}
    ), bands AS (
      SELECT band, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(count(*)) OVER w AS BIGINT) AS cn,
             CAST(sum(sum(pos)) OVER w AS BIGINT) AS cp
      FROM labeled GROUP BY band
      WINDOW w AS (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), pairs AS (
      SELECT i.band AS iband, j.band AS jband,
             CAST(j.cp - (i.cp - i.n_pos) AS DOUBLE)
               / (j.cn - (i.cn - i.n)) AS a
      FROM bands i JOIN bands j ON i.band <= j.band
    ), revmin AS (
      SELECT iband, jband,
             min(a) OVER (PARTITION BY iband ORDER BY jband DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS m
      FROM pairs
    ), fit AS (
      SELECT jband AS band, max(m) AS f FROM revmin GROUP BY jband
    )
    SELECT b.band, b.n, b.n_pos,
           CAST((2 * 1000 * b.n_pos + b.n) // (2 * b.n) AS BIGINT)
             AS emp_permille,
           round(f.f, 4) AS iso_rate
    FROM bands b JOIN fit f ON f.band = b.band
    """,
)
def q_ml_isotonic_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression of the positive-class rate on the $1k score
    band — the PAV (pool-adjacent-violators) calibration map, the
    non-parametric monotone member completing the calibration axis:
    q_ml_calibration shows WHERE the empirical rates violate
    monotonicity, Platt-style temperature scaling forces a sigmoid;
    isotonic is what sklearn's CalibratedClassifierCV(method=
    'isotonic') actually fits. Computed in CLOSED FORM via the minimax
    identity ŷ_k = max_{i≤k} min_{j≥k} avg(y[i..j]) — no sequential
    pooling loop, so the whole fit is three window passes over the
    DOMAIN-BOUNDED band grid (the o_totalprice lattice, ~540 bands at
    any corpus volume — the fixed_seeds argument).

    Determinism: interval averages are ONE IEEE division of exact
    int64 prefix-sum differences (identical doubles both engines);
    min/max over doubles carry no tie ambiguity (equal doubles are one
    value); the empirical rate stays half-up integer permille and the
    fit reports round-4. Monotonicity of iso_rate is a THEOREM of the
    minimax form, so the hash pins it implicitly.

    Plan: one corpus-scale (band, pos) aggregation (map-side combined
    — the only fact shuffle), a prefix window over the ~540-row band
    relation, a bounded band² pair join (~150k constant rows), one
    reverse-cummin window partitioned by interval start, and a
    band-grouped max. At 100 TB only the first aggregate grows."""
    labeled = t(spark, sf_dir, "orders").select(
        F.expr(f"{_CENTS_SQL} DIV {_AUC_BAND_CENTS}").alias("band"),
        F.when(F.col("o_orderpriority").isin(*_POS_PRIORITIES), 1)
        .otherwise(0)
        .alias("pos"),
    )
    w_cum = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bands = (
        labeled.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
        .select(
            "band",
            "n",
            "n_pos",
            F.sum("n").over(w_cum).cast("long").alias("cn"),
            F.sum("n_pos").over(w_cum).cast("long").alias("cp"),
        )
        .transform(checkpoint)  # feeds the pair join twice + final join
    )
    i, j = bands.alias("i"), bands.alias("j")
    pairs = i.join(
        F.broadcast(j), F.col("i.band") <= F.col("j.band")
    ).select(
        F.col("i.band").alias("iband"),
        F.col("j.band").alias("jband"),
        (
            (F.col("j.cp") - (F.col("i.cp") - F.col("i.n_pos"))).cast(
                "double"
            )
            / (F.col("j.cn") - (F.col("i.cn") - F.col("i.n")))
        ).alias("a"),
    )
    w_rev = (
        Window.partitionBy("iband")
        .orderBy(F.desc("jband"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fit = (
        pairs.select("jband", F.min("a").over(w_rev).alias("m"))
        .groupBy(F.col("jband").alias("fband"))
        .agg(F.max("m").alias("f"))
    )
    return bands.join(
        fit, F.col("band") == F.col("fband")
    ).select(
        "band",
        "n",
        "n_pos",
        F.expr(
            "CAST((2 * 1000 * n_pos + n) DIV (2 * n) AS BIGINT)"
        ).alias("emp_permille"),
        F.round("f", 4).alias("iso_rate"),
    )


# Standard-normal upper tail Q(|z|) of a ``z`` column (Abramowitz and
# Stegun 26.2.17, |error| < 7.5e-8).
_SQL_NORMAL_TAIL = """(0.3989422804014327
    * exp(-abs(z) * abs(z) / 2.0)
    * ((1.0 / (1.0 + 0.2316419 * abs(z)))
       * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z)))
       * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z)))
       * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z)))
       * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z)))
          * 1.330274429))))))"""


@query(
    "q_ml_bh_fdr",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
                 AS cents
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a.cents - b.cents) AS BIGINT) AS sd,
             sum(CAST(a.cents - b.cents AS HUGEINT)
                 * (a.cents - b.cents)) AS sdd
      FROM daily a JOIN daily b
        ON a.d = b.d AND a.event_type < b.event_type
      GROUP BY 1, 2
    ), zed AS (
      SELECT type_a, type_b, n,
             CAST(sd AS DOUBLE) * sqrt((n - 1)
               / (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                  - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) AS z
      FROM pairs
    ), pv AS (
      SELECT type_a, type_b, n, z,
             CAST(floor(2.0 * {_SQL_NORMAL_TAIL}
                 * 1000000) AS BIGINT) AS p_micro
      FROM zed
    ), ranked AS (
      SELECT type_a, type_b, n, z, p_micro,
             CAST(row_number() OVER (ORDER BY p_micro, type_a, type_b)
                  AS BIGINT) AS p_rank
      FROM pv
    ), cut AS (
      SELECT *,
             max(CASE WHEN p_micro <= 5000 * p_rank THEN p_rank
                      ELSE 0 END) OVER () AS cutoff
      FROM ranked
    )
    SELECT type_a, type_b, n AS n_days, round(z, 4) AS z_r4,
           p_micro, p_rank,
           CAST(CASE WHEN p_rank <= cutoff THEN 1 ELSE 0 END AS BIGINT)
               AS rejected
    FROM cut
    """,
)
def q_ml_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over the family
    of 10 unordered event-type-pair tests - the multiple-testing
    correction every metrics platform needs once it runs more than one
    comparison per release: each pair (a < b) gets a paired z on its
    common-day revenue deltas, and BH's step-up rule rejects the
    hypotheses ranked 1..i* where i* = max{i : p_(i) <= q*i/m} at
    q = 5%, m = 10 - controlling the EXPECTED fraction of false
    discoveries instead of Bonferroni's family-wise rate.

    Determinism/exactness: per-pair sufficient statistics n, Sum(d),
    Sum(d^2) are exact (the quadratic folds in DECIMAL(38,0)/HUGEINT
    with the cast INSIDE the product - daily cents ~1e10 at the 3000x
    decade make d^2 ~ 1e20, two decades over int64); the paired
    statistic z = Sd * sqrt((n-1)/(n*Sdd - Sd^2)) and the two-sided
    normal tail p = 2*(1 - Phi(|z|)) via the Abramowitz-Stegun 26.2.17
    five-term polynomial evaluate as IDENTICAL double expression trees
    in both engines (the approximation IS the contract - both engines
    compute the same closed form, so the comparison is exact), then p
    QUANTIZES to integer micro-units (floor(p*1e6)) before any
    comparison: the BH threshold test p_(i) <= 0.005*i becomes the
    pure-integer predicate p_micro <= 5000*i and the step-up cutoff a
    window max over the 10-row family - no float ever crosses the
    reject/accept boundary. z reports round-4.

    Plan: one (type, day) rollup shuffle (map-side combined), a
    day-keyed self-join bounded by |types|^2/2 = 10 pairs per day, a
    10-row aggregate, and rank/cutoff windows over those 10 rows. At
    100 TB the only data-sized stage is the first rollup."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("d")
        )
        .agg(
            F.sum(cents(F.col("value"))).alias("cents")
        )
    )
    a = daily.alias("a")
    b = daily.alias("b")
    dd = F.col("a.cents") - F.col("b.cents")
    pairs = (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dd).cast("long").alias("sd"),
            F.sum(dd.cast("decimal(38,0)") * dd).alias("sdd"),
        )
    )
    z = F.col("sd").cast("double") * F.sqrt(
        (F.col("n") - 1).cast("double")
        / (
            F.col("n").cast("double") * F.col("sdd").cast("double")
            - F.col("sd").cast("double") * F.col("sd").cast("double")
        )
    )
    zed = pairs.select("type_a", "type_b", "n", z.alias("z"))
    az = F.abs(F.col("z"))
    k = 1.0 / (1.0 + 0.2316419 * az)
    poly = k * (
        0.319381530
        + k
        * (
            -0.356563782
            + k * (1.781477937 + k * (-1.821255978 + k * 1.330274429))
        )
    )
    p2 = 2.0 * (0.3989422804014327 * F.exp(-az * az / 2.0) * poly)
    pv = zed.select(
        "type_a",
        "type_b",
        "n",
        "z",
        F.floor(p2 * 1000000.0).cast("long").alias("p_micro"),
    )
    w_rank = Window.orderBy("p_micro", "type_a", "type_b")
    ranked = pv.select(
        "type_a",
        "type_b",
        "n",
        "z",
        "p_micro",
        F.row_number().over(w_rank).cast("long").alias("p_rank"),
    )
    w_all = Window.partitionBy()
    cut = ranked.select(
        "*",
        F.max(
            F.when(
                F.col("p_micro") <= 5000 * F.col("p_rank"), F.col("p_rank")
            ).otherwise(0)
        )
        .over(w_all)
        .alias("cutoff"),
    )
    return cut.select(
        "type_a",
        "type_b",
        F.col("n").alias("n_days"),
        F.round("z", 4).alias("z_r4"),
        "p_micro",
        "p_rank",
        F.when(F.col("p_rank") <= F.col("cutoff"), 1)
        .otherwise(0)
        .cast("long")
        .alias("rejected"),
    )


@query(
    "q_ml_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             (CAST(ts AS DATE) - DATE '2024-01-01') % 7 AS dow7,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), deco AS (
      SELECT n,
             sum(n) OVER (PARTITION BY event_type) AS r,
             sum(n) OVER (PARTITION BY dow7) AS c
      FROM cells
    ), fold AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_obs,
             (SELECT count(DISTINCT event_type) FROM cells) AS r_cnt,
             (SELECT count(DISTINCT dow7) FROM cells) AS c_cnt,
             sum(CAST(n AS DOUBLE) * n
                 / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE))) AS s
      FROM deco
    )
    SELECT n_obs,
           CAST(r_cnt AS BIGINT) AS n_rows,
           CAST(c_cnt AS BIGINT) AS n_cols,
           round(n_obs * (s - 1.0), 4) AS chi2_r4,
           round(sqrt((s - 1.0)
                      / (least(r_cnt, c_cnt) - 1)), 6) AS v_r6,
           round(sqrt(
             greatest(0.0, (s - 1.0)
                      - CAST((r_cnt - 1) * (c_cnt - 1) AS DOUBLE)
                        / (n_obs - 1))
             / (least(r_cnt - CAST((r_cnt - 1) * (r_cnt - 1) AS DOUBLE)
                              / (n_obs - 1),
                      c_cnt - CAST((c_cnt - 1) * (c_cnt - 1) AS DOUBLE)
                              / (n_obs - 1)) - 1)), 6) AS v_corr_r6
    FROM fold
    """,
)
def q_ml_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V association between two CATEGORICAL axes - event type
    x day-of-week - with Bergsma's bias correction: chi2_ab answers
    "did the 2x2 A/B move", this answers "how strongly are two full
    categorical dimensions associated" on a 0..1 scale comparable
    across table shapes (the feature-screening / drift-triage number
    for categorical features). V = sqrt(phi2/(min(r,c)-1)); the
    bias-corrected variant subtracts the E[phi2|independence] =
    (r-1)(c-1)/(N-1) inflation that makes raw V overstate association
    in small samples.

    Determinism/exactness: day-of-week is the portable integer
    (date - Monday-anchored epoch) % 7 (the q_fn_dow_portable lesson -
    no locale-dependent dayofweek call crosses an engine); all r x c
    cell counts and marginals are exact int64; chi2 uses the marginal
    identity chi2 = N*(Sum_ij n_ij^2/(r_i*c_j) - 1) so the double fold
    consumes only exact-integer inputs (<= 35 identical terms in both
    engines - the KL-fold precedent), round-4; V and corrected V are
    identical double trees, round-6.

    Plan: one (type, dow) aggregate over the events scan (map-side
    combined - the only corpus shuffle), then marginal windows and a
    1-row fold over the <= |types| x 7 cell relation. At 100 TB the
    cell relation is still 35 rows."""
    ev = t(spark, sf_dir, "events")
    cells = (
        ev.groupBy(
            "event_type",
            (
                F.datediff(F.to_date("ts"), F.lit("2024-01-01")) % 7
            ).alias("dow7"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(checkpoint)  # <=35 rows; feeds marginals AND the fold
    )
    w_r = Window.partitionBy("event_type")
    w_c = Window.partitionBy("dow7")
    deco = cells.select(
        "n",
        F.sum("n").over(w_r).alias("r"),
        F.sum("n").over(w_c).alias("c"),
    )
    dims = cells.agg(
        F.countDistinct("event_type").cast("long").alias("r_cnt"),
        F.countDistinct("dow7").cast("long").alias("c_cnt"),
    )
    fold = (
        deco.agg(
            F.sum("n").cast("long").alias("n_obs"),
            F.sum(
                F.col("n").cast("double")
                * F.col("n")
                / (F.col("r").cast("double") * F.col("c").cast("double"))
            ).alias("s"),
        )
        .crossJoin(F.broadcast(dims))
    )
    nd = F.col("n_obs").cast("double")
    rd = F.col("r_cnt").cast("double")
    cd = F.col("c_cnt").cast("double")
    phi2 = F.col("s") - 1.0
    phi2c = F.greatest(
        F.lit(0.0), phi2 - (rd - 1) * (cd - 1) / (nd - 1)
    )
    rc = rd - (rd - 1) * (rd - 1) / (nd - 1)
    cc = cd - (cd - 1) * (cd - 1) / (nd - 1)
    return fold.select(
        "n_obs",
        F.col("r_cnt").alias("n_rows"),
        F.col("c_cnt").alias("n_cols"),
        F.round(nd * phi2, 4).alias("chi2_r4"),
        F.round(F.sqrt(phi2 / (F.least(rd, cd) - 1)), 6).alias("v_r6"),
        F.round(F.sqrt(phi2c / (F.least(rc, cc) - 1)), 6).alias(
            "v_corr_r6"
        ),
    )


@query(
    "q_ml_iptw_ate",
    oracle=f"""
    WITH assigned AS (
      SELECT o_orderpriority AS stratum,
             CASE WHEN {_sql_hash_bucket('o_custkey')} < 50
                  THEN 1 ELSE 0 END AS tr,
             {sql_cents('o_totalprice')}
                 AS cents
      FROM orders
    ), strata AS (
      SELECT stratum,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(tr) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN tr = 1 THEN cents ELSE 0 END) AS BIGINT)
                 AS s_t,
             CAST(sum(CASE WHEN tr = 0 THEN cents ELSE 0 END) AS BIGINT)
                 AS s_c
      FROM assigned GROUP BY stratum
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_all,
             sum((CAST(s_t AS DOUBLE) / n_t
                  - CAST(s_c AS DOUBLE) / (n - n_t))
                 * n) AS ate_num
      FROM strata WHERE n_t > 0 AND n - n_t > 0
    )
    SELECT s.stratum, s.n, s.n_t,
           CAST((2 * 1000 * s.n_t + s.n) // (2 * s.n) AS BIGINT)
               AS e_permille,
           round(CAST(s.s_t AS DOUBLE) / s.n_t / 100.0, 4) AS mean_t_r4,
           round(CAST(s.s_c AS DOUBLE) / (s.n - s.n_t) / 100.0, 4)
               AS mean_c_r4,
           round(t.ate_num / t.n_all / 100.0, 4) AS ate_r4
    FROM strata s CROSS JOIN tot t ORDER BY s.stratum
    """,
)
def q_ml_iptw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified average-treatment-effect with inverse-propensity
    weighting - the causal-inference member of the evaluation family
    (chi2_ab asks IS there an effect on a rate; this ESTIMATES the
    effect size on a continuous outcome while adjusting for a
    confounder): treatment = content-stable md5 bucket of the customer
    (the split_assign law), outcome = order value, confounder = order
    priority as discrete strata. Within-stratum propensity
    e_s = nT_s/n_s makes the IPTW estimator collapse to the exact
    stratified form ATE = Sum_s (n_s/N)(meanT_s - meanC_s) - computed
    that way so no per-row weight division ever happens (discrete
    strata make the two estimators algebraically identical; the
    docstring IS the proof: Sum w_i y_i over stratum s with
    w = 1/e_s is exactly n_s * meanT_s).

    Determinism/exactness: per-stratum counts and cent sums are exact
    int64; propensity reports as exact half-up permille; means and the
    ATE are identical double trees over those integers (round-4
    dollars). Strata with an empty arm drop from the ATE fold (the
    positivity guard) but still report their rows.

    Plan: one stratum-keyed conditional aggregate over the orders scan
    (map-side combined, the only corpus shuffle), a 1-row ATE fold
    broadcast-crossed into the 5-row strata relation."""
    o = t(spark, sf_dir, "orders")
    assigned = o.select(
        F.col("o_orderpriority").alias("stratum"),
        F.when(hash_bucket(F.col("o_custkey")) < 50, 1)
        .otherwise(0)
        .alias("tr"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    strata = (
        assigned.groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("tr").cast("long").alias("n_t"),
            F.sum(F.when(F.col("tr") == 1, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("s_t"),
            F.sum(F.when(F.col("tr") == 0, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("s_c"),
        )
        .transform(checkpoint)  # 5 rows; feeds the ATE fold AND the output
    )
    tot = strata.filter(
        (F.col("n_t") > 0) & (F.col("n") - F.col("n_t") > 0)
    ).agg(
        F.sum("n").cast("long").alias("n_all"),
        F.sum(
            (
                F.col("s_t").cast("double") / F.col("n_t")
                - F.col("s_c").cast("double") / (F.col("n") - F.col("n_t"))
            )
            * F.col("n")
        ).alias("ate_num"),
    )
    return (
        strata.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n",
            "n_t",
            F.expr(
                "CAST((2 * 1000 * n_t + n) DIV (2 * n) AS BIGINT)"
            ).alias("e_permille"),
            F.round(
                F.col("s_t").cast("double") / F.col("n_t") / 100.0, 4
            ).alias("mean_t_r4"),
            F.round(
                F.col("s_c").cast("double")
                / (F.col("n") - F.col("n_t"))
                / 100.0,
                4,
            ).alias("mean_c_r4"),
            F.round(
                F.col("ate_num") / F.col("n_all") / 100.0, 4
            ).alias("ate_r4"),
        )
        .orderBy("stratum")
    )


@query(
    "q_ml_bayes_ab",
    oracle=f"""
{_SQL_AB_ASSIGNED}
    ), counts AS (
      SELECT
        CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN bucket = 0 AND pos = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS s_a,
        CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN bucket = 1 AND pos = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS s_b
      FROM assigned
    ), post AS (
      SELECT n_a, s_a, n_b, s_b,
             (s_a + 1.0) / (n_a + 2.0) AS mu_a,
             (s_b + 1.0) / (n_b + 2.0) AS mu_b,
             (s_a + 1.0) * (n_a - s_a + 1.0)
               / ((n_a + 2.0) * (n_a + 2.0) * (n_a + 3.0)) AS var_a,
             (s_b + 1.0) * (n_b - s_b + 1.0)
               / ((n_b + 2.0) * (n_b + 2.0) * (n_b + 3.0)) AS var_b
      FROM counts
    ), zed AS (
      SELECT n_a, s_a, n_b, s_b, mu_a, mu_b,
             (mu_b - mu_a) / sqrt(var_a + var_b) AS z
      FROM post
    )
    SELECT n_a, s_a, n_b, s_b,
           round(mu_a, 6) AS post_mean_a_r6,
           round(mu_b, 6) AS post_mean_b_r6,
           round(z, 4) AS z_r4,
           CAST(floor(1000000.0 * (CASE WHEN z < 0 THEN {_SQL_NORMAL_TAIL}
                                        ELSE 1.0 - {_SQL_NORMAL_TAIL} END))
                AS BIGINT) AS p_b_beats_a_micro
    FROM zed
    """,
)
def q_ml_bayes_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout on the urgent-order conversion rate - the
    posterior companion of q_ml_chi2_ab's frequentist test: with
    uniform Beta(1,1) priors the arm posteriors are
    Beta(s+1, n-s+1), and the decision number every Bayesian dashboard
    prints is P(B > A) - approximated by the normal difference of the
    two posteriors, z = (mu_B - mu_A)/sqrt(var_A + var_B), the
    standard large-n Beta-normal approximation (documented AS the
    contract - both engines compute the identical closed form).

    Determinism/exactness: the four cell counts are exact int64 (same
    content-stable assignment and positive-class law as chi2_ab);
    posterior means/variances and z are identical double trees from
    those integers (round-6/4); P(B > A) = Phi(z) uses the same
    Abramowitz-Stegun 26.2.17 polynomial as q_ml_bh_fdr with the
    negative-z branch folded via symmetry, then QUANTIZES to integer
    micro-units before comparison (the bh_fdr no-float-boundary law).

    Plan: one conditional aggregate over the orders scan (map-side
    combined, the only corpus shuffle), then 1-row folds."""
    o = t(spark, sf_dir, "orders")
    pos = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    assigned = o.select(
        hash_bucket(F.col("o_custkey"), 2).alias("bucket"),
        F.when(pos, 1).otherwise(0).alias("pos"),
    )
    counts = assigned.agg(
        F.sum(F.when(F.col("bucket") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when((F.col("bucket") == 0) & (F.col("pos") == 1), 1).otherwise(0))
        .cast("long")
        .alias("s_a"),
        F.sum(F.when(F.col("bucket") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when((F.col("bucket") == 1) & (F.col("pos") == 1), 1).otherwise(0))
        .cast("long")
        .alias("s_b"),
    )
    mu_a = (F.col("s_a") + 1.0) / (F.col("n_a") + 2.0)
    mu_b = (F.col("s_b") + 1.0) / (F.col("n_b") + 2.0)
    var_a = (
        (F.col("s_a") + 1.0)
        * (F.col("n_a") - F.col("s_a") + 1.0)
        / ((F.col("n_a") + 2.0) * (F.col("n_a") + 2.0) * (F.col("n_a") + 3.0))
    )
    var_b = (
        (F.col("s_b") + 1.0)
        * (F.col("n_b") - F.col("s_b") + 1.0)
        / ((F.col("n_b") + 2.0) * (F.col("n_b") + 2.0) * (F.col("n_b") + 3.0))
    )
    z = (mu_b - mu_a) / F.sqrt(var_a + var_b)
    az = F.abs(z)
    k = 1.0 / (1.0 + 0.2316419 * az)
    poly = k * (
        0.319381530
        + k
        * (
            -0.356563782
            + k * (1.781477937 + k * (-1.821255978 + k * 1.330274429))
        )
    )
    tail = 0.3989422804014327 * F.exp(-az * az / 2.0) * poly
    # Mirror the oracle's CASE exactly: z<0 -> tail directly (NOT
    # 1-(1-tail), whose double rounding can differ by 1 ulp and flip
    # the floor(1e6*phi_z) quantization across engines).
    phi_z = F.when(z < 0, tail).otherwise(1.0 - tail)
    return counts.select(
        "n_a",
        "s_a",
        "n_b",
        "s_b",
        F.round(mu_a, 6).alias("post_mean_a_r6"),
        F.round(mu_b, 6).alias("post_mean_b_r6"),
        F.round(z, 4).alias("z_r4"),
        F.floor(1000000.0 * phi_z).cast("long").alias("p_b_beats_a_micro"),
    )


@query(
    "q_ml_ab_srm",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), armed AS (
      SELECT d,
             CASE WHEN ((
               (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 4096
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 256
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4, 1)) - 1)
             ) % 100) < 50 THEN 1 ELSE 0 END AS in_a
      FROM ud
    ), daily AS (
      SELECT strftime(d, '%Y-%m-%d') AS day,
             CAST(sum(in_a) AS BIGINT) AS n_a,
             CAST(sum(1 - in_a) AS BIGINT) AS n_b
      FROM armed GROUP BY d
    )
    SELECT day, n_a, n_b,
           round(CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b)
                 / (n_a + n_b), 4) AS chi2_r4,
           CAST(CASE WHEN CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b)
                          / (n_a + n_b) > 3.841e0
                THEN 1 ELSE 0 END AS BIGINT) AS srm_alarm
    FROM daily ORDER BY day
    """,
)
def q_ml_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) guardrail for the 50/50 experiment -
    the FIRST check every experimentation platform runs before reading
    any metric: if daily ACTIVE users per arm drift from the designed
    ratio (a redirect bug, a bot filter hitting one arm, a crash in
    one variant), every downstream readout (cuped/power_mde/tost/
    chi2_ab - this completes that family's guardrail) is invalid. Per
    day: active-user counts per arm and the one-degree chi-square
    (n_A - n_B)^2/(n_A + n_B) against the 5% critical value 3.841 -
    the per-day breakdown localizes WHEN the imbalance started, which
    the pooled test hides.

    Determinism/exactness: same content-stable md5 arm law as the rest
    of the family; daily distinct-user counts are exact int64; the
    chi-square is one double ratio from those integers (round-4) and
    the alarm compares the identical unrounded tree to the 3.841e0
    literal in both engines.

    Plan: one distinct (user, day) shuffle + a days-bounded aggregate.
    At 100 TB: one shuffle, 30-row tail."""
    from khose_spark.operators.curation import hash_bucket

    ud = (
        t(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    armed = ud.select(
        "d",
        F.when(hash_bucket(F.col("user_id")) < 50, 1).otherwise(0).alias(
            "in_a"
        ),
    )
    daily = armed.groupBy(
        F.date_format("d", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("in_a")).cast("long").alias("n_b"),
    )
    chi2 = (
        (F.col("n_a") - F.col("n_b")).cast("double")
        * (F.col("n_a") - F.col("n_b"))
        / (F.col("n_a") + F.col("n_b"))
    )
    return daily.select(
        "day",
        "n_a",
        "n_b",
        F.round(chi2, 4).alias("chi2_r4"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("long").alias("srm_alarm"),
    ).orderBy("day")
