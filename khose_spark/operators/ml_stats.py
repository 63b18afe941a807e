"""Classical-ML / corpus-statistics primitives (SURVEY.md §2.14 family):
a one-split decision stump learned by exact misclassification count, and
PMI collocation mining over the ``documents`` table.

Both follow the house exactness discipline: the stump is ALL-INTEGER
(counts and cross-multiplied accuracy — no impurity fractions ever
materialize), and PMI does all its integer multiplication in int64
before a single double division + ln, rounded to 4 dp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.operators.llm import shingle_array
from khose_spark.registry import query
from khose_spark.sqlutil import cents, sql_cents
from khose_spark.tables import t

# Decision-stump contract constants: $25,000 candidate-threshold grid,
# positive class = urgent/high order priority.
_BAND_CENTS = 2_500_000
_POS_PRIORITIES = ("1-URGENT", "2-HIGH")


def _band_splits(labeled: DataFrame) -> DataFrame:
    """(band, n_left, pos_left, n_total, pos_total) for every split
    "band ≤ b" of ``labeled``'s (band, pos) rows: one partial-aggregated
    per-band count, then cumulative and total windows over the bands."""
    per_band = labeled.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    w_cum = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_band.select(
        "band",
        F.sum("n").over(w_cum).alias("n_left"),
        F.sum("n_pos").over(w_cum).alias("pos_left"),
        F.sum("n").over(w_all).alias("n_total"),
        F.sum("n_pos").over(w_all).alias("pos_total"),
    )


def _stump_correct() -> Column:
    """Rows a split classifies correctly: the majority label's count on
    each side."""
    return F.greatest(
        F.col("pos_left"), F.col("n_left") - F.col("pos_left")
    ) + F.greatest(
        F.col("pos_total") - F.col("pos_left"),
        (F.col("n_total") - F.col("n_left"))
        - (F.col("pos_total") - F.col("pos_left")),
    )


@query(
    "q_ml_decision_stump",
    oracle=f"""
    WITH labeled AS (
      SELECT {sql_cents('o_totalprice')}
               // {_BAND_CENTS} AS band,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS pos
      FROM orders
    ), per_band AS (
      SELECT band, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
      FROM labeled GROUP BY band
    ), cum AS (
      SELECT band,
             sum(n) OVER (ORDER BY band) AS n_left,
             sum(n_pos) OVER (ORDER BY band) AS pos_left,
             sum(n) OVER () AS n_total,
             sum(n_pos) OVER () AS pos_total
      FROM per_band
    ), scored AS (
      SELECT (band + 1) * {_BAND_CENTS} AS threshold_cents,
             CAST(n_left AS BIGINT) AS n_left,
             CAST(n_total - n_left AS BIGINT) AS n_right,
             CAST(pos_left AS BIGINT) AS pos_left,
             CAST(pos_total - pos_left AS BIGINT) AS pos_right,
             CAST(greatest(pos_left, n_left - pos_left)
                  + greatest(pos_total - pos_left,
                             (n_total - n_left) - (pos_total - pos_left))
                  AS BIGINT) AS n_correct,
             CAST(n_total AS BIGINT) AS n_total
      FROM cum WHERE n_left < n_total
    )
    SELECT threshold_cents, n_left, n_right, pos_left, pos_right, n_correct,
           CAST((2 * 1000 * n_correct + n_total)
                // (2 * n_total) AS BIGINT) AS accuracy_permille
    FROM scored
    ORDER BY n_correct DESC, threshold_cents ASC
    LIMIT 5
    """,
)
def q_ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision stump (one-split tree) predicting urgent/high order
    priority from the order total, learned by EXACT misclassification
    count: each candidate threshold on a $25k grid splits the orders,
    each side predicts its majority class, and the split maximizing
    correct predictions wins. Emits the top-5 thresholds with their
    confusion counts and half-up integer-permille accuracy.

    No Gini/entropy fractions ever materialize — majority-side correct
    counts are integers, so the argmax (and the oracle comparison) is
    exact. Plan: one map-side band+label projection, a ~20-row band
    aggregation, and cumulative windows over that tiny grid — the scan
    is the only data-sized stage, so the shape is one pass at 100 TB
    (the per-band partial aggregation is map-side combined)."""
    labeled = t(spark, sf_dir, "orders").select(
        F.expr(
            f"{sql_cents('o_totalprice')}"
            f" DIV {_BAND_CENTS}"
        ).alias("band"),
        F.when(F.col("o_orderpriority").isin(*_POS_PRIORITIES), 1)
        .otherwise(0)
        .alias("pos"),
    )
    cum = _band_splits(labeled)
    scored = (
        cum.filter(F.col("n_left") < F.col("n_total"))
        .select(
            ((F.col("band") + 1) * _BAND_CENTS).alias("threshold_cents"),
            "n_left",
            (F.col("n_total") - F.col("n_left")).alias("n_right"),
            "pos_left",
            (F.col("pos_total") - F.col("pos_left")).alias("pos_right"),
            _stump_correct().alias("n_correct"),
            "n_total",
        )
    )
    return (
        scored.withColumn(
            "accuracy_permille",
            F.expr(
                "CAST((2 * 1000 * n_correct + n_total)"
                " DIV (2 * n_total) AS BIGINT)"
            ),
        )
        .orderBy(F.col("n_correct").desc(), F.col("threshold_cents").asc())
        .limit(5)
        .drop("n_total")
    )


_PMI_MIN_COUNT = 5
_PMI_TOP_K = 20


@query(
    "q_llm_pmi",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), uni AS (
      SELECT unnest(w) AS word FROM words
    ), uni_counts AS (
      SELECT word, count(*) AS c FROM uni GROUP BY word
    ), n_uni AS (
      SELECT CAST(sum(c) AS BIGINT) AS nu FROM uni_counts
    ), big AS (
      SELECT unnest(list_transform(
               range(1, greatest(len(w), 1)),
               i -> concat_ws(' ', w[i], w[i+1]))) AS bigram
      FROM words
    ), big_counts AS (
      SELECT bigram, count(*) AS c_xy FROM big GROUP BY bigram
    ), n_big AS (
      SELECT CAST(sum(c_xy) AS BIGINT) AS nb FROM big_counts
    ), scored AS (
      SELECT b.bigram, b.c_xy,
             round(ln(((((CAST(b.c_xy AS DOUBLE)
                          * CAST(n_uni.nu AS DOUBLE))
                         / CAST(n_big.nb AS DOUBLE))
                        * CAST(n_uni.nu AS DOUBLE))
                       / CAST(cx.c AS DOUBLE))
                      / CAST(cy.c AS DOUBLE)), 4) AS pmi
      FROM big_counts b
      JOIN uni_counts cx ON cx.word = string_split(b.bigram, ' ')[1]
      JOIN uni_counts cy ON cy.word = string_split(b.bigram, ' ')[2]
      CROSS JOIN n_uni
      CROSS JOIN n_big
      WHERE b.c_xy >= {_PMI_MIN_COUNT}
    )
    SELECT CAST(row_number() OVER (ORDER BY pmi DESC, bigram ASC) AS INT)
             AS rk,
           bigram, c_xy, pmi
    FROM scored
    ORDER BY rk LIMIT {_PMI_TOP_K}
    """,
)
def q_llm_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: top-20 adjacent-word bigrams by pointwise
    mutual information ``ln(p(x,y) / (p(x)·p(y)))`` with a min-count
    floor — the classic multiword-expression detector feeding tokenizer
    vocab decisions and boilerplate discovery.

    The ratio folds as an explicitly-ORDERED double chain
    ``((((c_xy·N_u)/N_b)·N_u)/c_x)/c_y`` — every step a correctly-
    rounded IEEE op on identical inputs, so both engines produce the
    same bits before the single ln + round(4). The earlier exact-int64
    product form (``c_xy·N_u²``) overflowed at exactly the 100× decade
    (measured r08: N_u ≈ 3.6e7 ⇒ c_xy·N_u² ≈ 1.2e21 vs int64 9.2e18);
    the ordered-double chain has no overflow horizon and keeps the
    one-ln float surface (the log-sum alternative would spend five
    libm calls where this spends one).

    Plan: bigram counts (duplicates preserved — the same shifted-copies
    idiom as shingle_array, k=2), unigram counts, two broadcast scalar
    totals, two broadcastable joins against the (min-count-bounded)
    vocabulary, then a global top-k. The bigram aggregation is the only
    corpus-sized shuffle; everything after is vocabulary-bounded."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    uni = d.select(F.explode(words).alias("word"))
    # Both count relations feed multiple consumers (cx + cy lookups /
    # the nb total + the filtered candidate set), so they are persisted
    # and released after the eager localCheckpoint below — the
    # dedup_audit share-then-release pattern (ADVICE round 4).
    uni_counts = (
        uni.groupBy("word").agg(F.count(F.lit(1)).alias("c")).persist()
    )
    n_uni = uni_counts.agg(F.sum("c").cast("long").alias("nu"))
    big = d.select(
        F.explode(shingle_array(words, 2)).alias("bigram")
    )
    big_all = (
        big.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_xy")).persist()
    )
    n_big = big_all.agg(F.sum("c_xy").cast("long").alias("nb"))
    big_counts = big_all.filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    cx = uni_counts.select(
        F.col("word").alias("w1"), F.col("c").alias("c_x")
    )
    cy = uni_counts.select(
        F.col("word").alias("w2"), F.col("c").alias("c_y")
    )
    scored = (
        big_counts.withColumn(
            "w1", F.split("bigram", " ").getItem(0)
        )
        .withColumn("w2", F.split("bigram", " ").getItem(1))
        .join(F.broadcast(cx), "w1")
        .join(F.broadcast(cy), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "bigram",
            "c_xy",
            F.round(
                F.log(
                    F.col("c_xy").cast("double")
                    * F.col("nu").cast("double")
                    / F.col("nb").cast("double")
                    * F.col("nu").cast("double")
                    / F.col("c_x").cast("double")
                    / F.col("c_y").cast("double")
                ),
                4,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("bigram").asc())
    out = (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _PMI_TOP_K)
        .select("rk", "bigram", "c_xy", "pmi")
    ).transform(checkpoint)
    uni_counts.unpersist()
    big_all.unpersist()
    return out


def _holt_oracle() -> str:
    return """
    WITH RECURSIVE daily AS (
      SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
             CAST(sum(CAST(value AS DECIMAL(28,2))) * 100 AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), daily_rn AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_days
      FROM daily
    ), h AS (
      SELECT d2.event_type, CAST(2 AS BIGINT) AS rn,
             d2.cents AS l, d2.cents - d1.cents AS b,
             d2.n_days AS n_days
      FROM daily_rn d1
      JOIN daily_rn d2 ON d1.event_type = d2.event_type AND d2.rn = 2
      WHERE d1.rn = 1 AND d2.n_days >= 2
      UNION ALL
      SELECT h.event_type, h.rn + 1,
             (d.cents + h.l + h.b) // 2 AS l,
             ((d.cents + h.l + h.b) // 2 - h.l + h.b) // 2 AS b,
             h.n_days
      FROM h JOIN daily_rn d
        ON d.event_type = h.event_type AND d.rn = h.rn + 1
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           l AS level_cents, b AS trend_cents,
           l + b AS fc1_cents, l + 2 * b AS fc2_cents,
           l + 3 * b AS fc3_cents
    FROM h WHERE rn = n_days
    """


@query("q_ts_holt_forecast", oracle=_holt_oracle())
def q_ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend,
    alpha = beta = 1/2) over each event type's daily spend, with a
    1/2/3-step-ahead linear forecast — the classic capacity-planning
    smoother one notch up from the EWMA (q_ts_ewma) that cannot track
    trend.

    Exactness: the recursion is defined in INTEGER cents with
    truncate-toward-zero halving at every update (``l' = (y + l + b)
    div 2``, ``b' = (l' - l + b) div 2``) — the alpha=1/2 special case
    makes the whole state machine integer arithmetic, so the pandas
    loop and the DuckDB recursive CTE agree bit-for-bit with zero
    float/rounding surface (Python ``//`` FLOORS, so the trunc-div is
    explicit on the Spark side). Init: after the first update the
    state collapses to ``l_2 = y_2, b_2 = y_2 - y_1`` exactly, which
    is where both recursions start.

    Plan: one map-side-combined daily aggregation, then ONE Arrow
    batch per series via applyInPandas (same posture as
    q_ts_lttb_downsample: sequential state per series, embarrassingly
    parallel across the millions of series a 100 TB metrics store
    holds). The driver never sees the series."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(
        (F.sum(F.col("value").cast("decimal(28,2)")) * 100)
        .cast("bigint")
        .alias("cents")
    )

    def holt(pdf):
        import pandas as pd

        pdf = pdf.sort_values("d").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                columns=[
                    "event_type", "n_days", "level_cents", "trend_cents",
                    "fc1_cents", "fc2_cents", "fc3_cents",
                ]
            )

        def tdiv2(a: int) -> int:  # truncate toward zero, like DuckDB //
            return a // 2 if a >= 0 else -((-a) // 2)

        y = [int(c) for c in pdf["cents"]]
        l, b = y[1], y[1] - y[0]
        for yt in y[2:]:
            l_new = tdiv2(yt + l + b)
            b = tdiv2(l_new - l + b)
            l = l_new
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "level_cents": [l],
                "trend_cents": [b],
                "fc1_cents": [l + b],
                "fc2_cents": [l + 2 * b],
                "fc3_cents": [l + 3 * b],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        holt,
        "event_type string, n_days long, level_cents long, "
        "trend_cents long, fc1_cents long, fc2_cents long, fc3_cents long",
    )


def _ols2_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, x1, x2, y) per order: line count, total quantity and the
    rounded total price — the 2-feature OLS design of the *_2f keys."""
    li = t(spark, sf_dir, "lineitem")
    feats = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("x1"),
        F.expr(
            "CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * 100 DIV 100)"
            " AS BIGINT)"
        ).alias("x2"),
    )
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(
            "CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 0) AS BIGINT)"
        ).alias("y"),
    )
    return feats.join(orders, "k")


def _ols2_sums(xy: DataFrame, *quad: Column) -> DataFrame:
    """One-row sufficient statistics of ``xy``: n, the linear sums and
    the int64 cross products, then the caller's ``quad`` sums."""
    return xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        *quad,
    )


def _mean(s: str) -> Column:
    """(double)S / n — every mean in the oracle's expression tree."""
    return F.col(s).cast("double") / F.col("n")


def _cmom(sab: str, sa: str, sb: str) -> Column:
    """Centered moment S_ab/n - mean_a*mean_b, in the oracle's tree."""
    return F.col(sab).cast("double") / F.col("n") - _mean(sa) * _mean(sb)


def _ols2_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: n, the means m1/m2/my and the centered (co)variances
    c11..cyy of the 2-feature OLS design, mirroring the oracle's
    expression tree exactly (every mean is (double)S / n, every
    centered moment S/n - mean*mean)."""
    sums = _ols2_sums(
        _ols2_xy(spark, sf_dir),
        # s2y/syy fold in DECIMAL(38,0) since round 10: the 1000×
        # lineitem digest probe hit Spark's ANSI long-overflow on Σy²
        # (per-row y² ≈ 3.6e11 stays int64; the SUM crossed 9.2e18 at
        # n = 1.5e8 — exactly the ">sf10 moves to DECIMAL" path the
        # docstring had promised). The other stats grow linearly per
        # decade with ≥3 decades of int64 room at 1000×; margin-audit
        # law linreg_syy_decimal38 tracks the widened pair.
        F.sum((F.col("x2") * F.col("y")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s2y"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    return sums.select(
        "n",
        _mean("s1").alias("m1"),
        _mean("s2").alias("m2"),
        _mean("sy").alias("my"),
        _cmom("s11", "s1", "s1").alias("c11"),
        _cmom("s22", "s2", "s2").alias("c22"),
        _cmom("s12", "s1", "s2").alias("c12"),
        _cmom("s1y", "s1", "sy").alias("c1y"),
        _cmom("s2y", "s2", "sy").alias("c2y"),
        _cmom("syy", "sy", "sy").alias("cyy"),
    )


# SQL twin of :func:`_ols2_xy`: the ``feats`` and ``xy`` CTEs, the last
# left open.
_SQL_OLS2_XY = """
    WITH feats AS (
      SELECT l.l_orderkey AS k,
             count(*) AS x1,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 // 100
                  ) AS BIGINT) AS x2
      FROM lineitem l GROUP BY 1
    ), xy AS (
      SELECT f.x1, f.x2,
             CAST(round(CAST(o.o_totalprice AS DECIMAL(18,2)), 0)
                  AS BIGINT) AS y
      FROM feats f JOIN orders o ON o.o_orderkey = f.k"""


def _sql_ols2_sums(*quad: str) -> str:
    """SQL twin of :func:`_ols2_sums`: the ``sums`` CTE over ``xy``, the
    caller's ``quad`` sums last, left open."""
    return f"""
    ), sums AS (
      SELECT count(*) AS n,
             CAST(sum(x1) AS BIGINT) AS s1,
             CAST(sum(x2) AS BIGINT) AS s2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x1 * x1) AS BIGINT) AS s11,
             CAST(sum(x2 * x2) AS BIGINT) AS s22,
             CAST(sum(x1 * x2) AS BIGINT) AS s12,
             CAST(sum(x1 * y) AS BIGINT) AS s1y,
             {", ".join(quad)}
      FROM xy"""


def _sql_cmom(sab: str, sa: str, sb: str) -> str:
    """SQL twin of :func:`_cmom`."""
    return (
        f"CAST({sab} AS DOUBLE) / n - (CAST({sa} AS DOUBLE) / n)"
        f" * (CAST({sb} AS DOUBLE) / n)"
    )


def _sql_ols2_cmoms(k: int = 6) -> str:
    """The first ``k`` of the centered moments c11, c22, c12, c1y, c2y,
    cyy, comma-separated."""
    moments = (
        ("s11", "s1", "s1"), ("s22", "s2", "s2"), ("s12", "s1", "s2"),
        ("s1y", "s1", "sy"), ("s2y", "s2", "sy"), ("syy", "sy", "sy"),
    )
    return ", ".join(
        f"{_sql_cmom(*m)} AS c{m[0][1:]}" for m in moments[:k]
    )


# SQL twin of :func:`_ols2_moments`: every CTE through ``alg``, the last
# left open.
_SQL_OLS2_MOMENTS = _SQL_OLS2_XY + _sql_ols2_sums(
    "CAST(sum(CAST(x2 * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2y",
    "CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy",
) + f"""
    ), alg AS (
      SELECT n,
             CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
             CAST(sy AS DOUBLE) / n AS my,
             {_sql_ols2_cmoms()}
      FROM sums"""


@query(
    "q_ml_linreg_2f",
    oracle=f"""
{_SQL_OLS2_MOMENTS}
    ), coef AS (
      SELECT n, m1, m2, my, c1y, c2y, cyy,
             (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
             (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
      FROM alg
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(my - b1 * m1 - b2 * m2, 6) AS b0,
           round(b1, 6) AS b1,
           round(b2, 6) AS b2,
           round((b1 * c1y + b2 * c2y) / cyy, 6) AS r2
    FROM coef
    """,
)
def q_ml_linreg_2f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS with intercept, solved in closed form (normal
    equations via Cramer on the 2×2 centered-covariance system):
    predict each order's whole-dollar total from its line count and
    total quantity — the multi-feature step past the built-in
    regr_slope (q_agg_regression), done as ONE aggregation plus scalar
    algebra, no iteration and no driver-side solver.

    Exactness: features and the whole-dollar response (DECIMAL-cast
    half-up law) are int64, so all nine sufficient statistics
    (n, Σx, Σy, Σx², Σxy, Σy²) are EXACT integer sums. Σy² and Σx₂y
    fold in DECIMAL(38,0) since round 10 — the 1000× lineitem digest
    probe hit Spark's ANSI long-overflow on the int64 Σy² (the
    docstring's own documented ">sf10 → DECIMAL" path, now taken;
    the 6th consecutive decade catch). The covariance algebra then
    runs in doubles with the SAME expression tree in both engines
    (IEEE ops are deterministic given identical inputs and order),
    rounded to 6 dp.

    Plan: per-order feature agg (one l_orderkey shuffle, map-side
    combined) + broadcast-sized join to orders + a single 1-row
    reduce. At 100 TB this is the canonical two-pass-free shape: no
    per-coefficient jobs, no gradient iterations (q_ml_logreg covers
    the iterative family)."""
    alg = _ols2_moments(spark, sf_dir)
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    b1 = (F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y")) / det
    b2 = (F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y")) / det
    coef = alg.select(
        "n", "m1", "m2", "my", "c1y", "c2y", "cyy",
        b1.alias("b1"), b2.alias("b2"),
    )
    return coef.select(
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("my")
            - F.col("b1") * F.col("m1")
            - F.col("b2") * F.col("m2"),
            6,
        ).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
        F.round(
            (F.col("b1") * F.col("c1y") + F.col("b2") * F.col("c2y"))
            / F.col("cyy"),
            6,
        ).alias("r2"),
    )


@query(
    "q_ts_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
             CAST(sum(CAST(value AS DECIMAL(28,2))) * 100 AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), s_stat AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1
                           ELSE 0 END) AS BIGINT) AS s
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
      GROUP BY 1
    ), nn AS (
      SELECT event_type, count(*) AS n FROM daily GROUP BY 1
    ), ties AS (
      SELECT event_type,
             CAST(coalesce(sum(tt * (tt - 1) * (2 * tt + 5)), 0)
                  AS BIGINT) AS tie_term
      FROM (
        SELECT event_type, cents, count(*) AS tt
        FROM daily GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT s.event_type, CAST(n.n AS BIGINT) AS n_days, s.s AS s_stat,
           CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term
                AS BIGINT) AS var18,
           CASE WHEN s.s > 0 THEN 'increasing'
                WHEN s.s < 0 THEN 'decreasing'
                ELSE 'no-trend' END AS trend
    FROM s_stat s
    JOIN nn n ON n.event_type = s.event_type
    JOIN ties t ON t.event_type = s.event_type
    """,
)
def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type over the daily-cents
    series: S = sum of sign(x_j - x_i) over all ordered day pairs, plus
    the tie-corrected variance SCALED BY 18 so it stays an integer
    (Var(S) = [n(n-1)(2n+5) - sum t(t-1)(2t+5)]/18) — the
    non-parametric significance test that pairs with q_ts_theil_sen's
    robust slope (the two are THE standard monotonic-trend toolkit).
    Zero float surface anywhere: signs, counts, and the x18 variance
    are all int64, so the oracle match is exact by construction.

    Plan: tiny daily rollup (the only data-sized stage, map-side
    combined), then an intra-type pairwise join over ~30-row series
    (same bounded self-join as Theil-Sen — per-series quadratic over
    rollup rows, NOT over raw events) + two per-type aggs. At 100 TB
    with millions of series the pair join stays per-series bounded."""
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")
        )
        .agg(
            (F.sum(F.col("value").cast("decimal(28,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
        .persist()
    )
    a = daily.alias("a")
    b = daily.alias("b")
    s_stat = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1)
                .when(F.col("b.cents") < F.col("a.cents"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("tt"))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tt") * (F.col("tt") - 1) * (2 * F.col("tt") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    out = (
        s_stat.join(nn, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            "s_stat",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            )
            .cast("long")
            .alias("var18"),
            F.when(F.col("s_stat") > 0, "increasing")
            .when(F.col("s_stat") < 0, "decreasing")
            .otherwise("no-trend")
            .alias("trend"),
        )
    ).transform(checkpoint)
    daily.unpersist()
    return out


# Benford expected first-digit shares in half-up integer permille,
# precomputed as LITERALS (round(1000*log10(1+1/d))) so neither engine
# ever evaluates a log: 1->301, 2->176, ... 9->46.
_BENFORD_PERMILLE = {1: 301, 2: 176, 3: 125, 4: 97, 5: 79, 6: 67,
                     7: 58, 8: 51, 9: 46}


@query(
    "q_agg_benford",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(
               {sql_cents('o_totalprice')}
             AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ), counts AS (
      SELECT digit, count(*) AS n FROM digits GROUP BY digit
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_total FROM counts
    )
    SELECT digit, CAST(n AS BIGINT) AS n,
           CAST((2 * 1000 * n + n_total) // (2 * n_total) AS BIGINT)
             AS obs_permille,
           CAST(CASE digit
             {" ".join(f"WHEN {d} THEN {p}"
                       for d, p in _BENFORD_PERMILLE.items())}
           END AS BIGINT) AS benford_permille,
           CAST((2 * 1000 * n + n_total) // (2 * n_total)
                - CASE digit
                  {" ".join(f"WHEN {d} THEN {p}"
                            for d, p in _BENFORD_PERMILLE.items())}
                  END AS BIGINT) AS delta_permille
    FROM counts CROSS JOIN tot
    """,
)
def q_agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fraud/fabrication screen a finance data-quality pipeline runs on
    every monetary column. Observed first-digit shares (half-up integer
    permille) sit next to the Benford expectation, which is folded in
    as PRECOMPUTED integer literals (round(1000·log10(1+1/d))) so no
    engine ever evaluates a logarithm — the whole operator is integer
    arithmetic on exact cents.

    Plan: map-side digit extraction (decimal-cast cents → first char),
    a 9-row aggregation, and a 1-row total broadcast-crossed back in.
    One shuffle of 9 partial rows at any scale."""
    digit = F.expr(
        f"CAST(substring(CAST({sql_cents('o_totalprice')}"
        " AS STRING), 1, 1) AS BIGINT)"
    )
    counts = (
        t(spark, sf_dir, "orders")
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("long").alias("n_total"))
    expected = None
    for d, p in _BENFORD_PERMILLE.items():
        expected = (
            F.when(F.col("digit") == d, p)
            if expected is None
            else expected.when(F.col("digit") == d, p)
        )
    obs = F.expr(
        "CAST((2 * 1000 * n + n_total) DIV (2 * n_total) AS BIGINT)"
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            obs.alias("obs_permille"),
            expected.cast("long").alias("benford_permille"),
            (obs - expected.cast("long")).alias("delta_permille"),
        )
    )


_STREAK_TOP = 20


@query(
    "q_win_streaks",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(ts AS DATE) - DATE '1970-01-01' AS ed
      FROM events
    ), islands AS (
      SELECT user_id, ed,
             ed - row_number() OVER (PARTITION BY user_id ORDER BY ed)
               AS island
      FROM days
    ), streaks AS (
      SELECT user_id, island, count(*) AS streak_days,
             min(ed) AS start_ed, max(ed) AS end_ed
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id, streak_days,
           strftime(DATE '1970-01-01' + INTERVAL (start_ed) DAY,
                    '%Y-%m-%d') AS start_day,
           strftime(DATE '1970-01-01' + INTERVAL (end_ed) DAY,
                    '%Y-%m-%d') AS end_day
    FROM streaks
    ORDER BY streak_days DESC, user_id ASC, start_ed ASC
    LIMIT {_STREAK_TOP}
    """,
)
def q_win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streaks (gaps-and-islands): the
    canonical retention idiom — distinct active days per user, island
    key = epoch_day − row_number (constant within a consecutive run),
    streak = island size. Top-20 streaks with their date spans.

    The island key is pure integer arithmetic on epoch days, so the
    grouping is exact; the final cut total-orders on (length DESC,
    user ASC, start ASC). Plan: distinct (user, day) — one shuffle,
    the data-sized stage — then a per-user window and a (user, island)
    agg on the day-grid relation (events-days sized, far smaller than
    raw events), ending in TakeOrdered. Nothing quadratic, no state
    beyond the window."""
    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("ed"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("ed")
    islands = days.withColumn(
        "island", F.col("ed") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("ed").alias("start_ed"),
        F.max("ed").alias("end_ed"),
    )
    return (
        streaks.select(
            "user_id",
            "streak_days",
            F.date_format(
                F.date_add(F.lit("1970-01-01"), F.col("start_ed")),
                "yyyy-MM-dd",
            ).alias("start_day"),
            F.date_format(
                F.date_add(F.lit("1970-01-01"), F.col("end_ed")),
                "yyyy-MM-dd",
            ).alias("end_day"),
            "start_ed",
        )
        .orderBy(
            F.col("streak_days").desc(),
            F.col("user_id").asc(),
            F.col("start_ed").asc(),
        )
        .limit(_STREAK_TOP)
        .drop("start_ed")
    )


_HASH_DIM = 4096  # 2^12 feature buckets


@query(
    "q_llm_hash_features",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), vocab AS (
      SELECT DISTINCT lang, term FROM tok
    ), hashed AS (
      SELECT lang, term,
             ({" + ".join(
                 f"(instr('0123456789abcdef', substr(md5(term), {j}, 1)) - 1)"
                 f" * {16 ** (4 - j)}"
                 for j in range(1, 5)
             )}) % {_HASH_DIM} AS bucket
      FROM vocab
    ), stats AS (
      SELECT lang,
             count(*) AS n_terms,
             count(DISTINCT bucket) AS n_buckets
      FROM hashed GROUP BY lang
    )
    SELECT lang, CAST(n_terms AS BIGINT) AS n_terms,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(n_terms - n_buckets AS BIGINT) AS n_collisions,
           CAST((2 * 1000 * (n_terms - n_buckets) + n_terms)
                // (2 * n_terms) AS BIGINT) AS collision_permille
    FROM stats
    """,
)
def q_llm_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) collision audit: hash each
    language's distinct vocabulary into 2^12 buckets (md5-derived, the
    q_llm_hash_sample idiom) and report how many terms collide — the
    capacity check run before replacing a vocabulary with a hashed
    feature space (Weinberger et al.'s hashing trick; collisions are
    the accuracy cost, and this measures them exactly).

    All-integer: bucket assignment is md5 hex arithmetic, collisions
    are ``distinct terms − distinct buckets``, and the rate is half-up
    integer permille. Plan: one (lang, term) distinct — the only
    corpus-sized shuffle — then a vocabulary-sized map-side hash and a
    5-row agg. At 100 TB the vocabulary relation, not the corpus,
    bounds everything after the first distinct."""
    tok = t(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = tok.distinct()
    bucket = (
        F.conv(F.substring(F.md5("term"), 1, 4), 16, 10).cast("int")
        % _HASH_DIM
    )
    hashed = vocab.select("lang", bucket.alias("bucket"))
    stats = hashed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.countDistinct("bucket").alias("n_buckets"),
    )
    return stats.select(
        "lang",
        F.col("n_terms").cast("long").alias("n_terms"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        (F.col("n_terms") - F.col("n_buckets"))
        .cast("long")
        .alias("n_collisions"),
        F.expr(
            "CAST((2 * 1000 * (n_terms - n_buckets) + n_terms)"
            " DIV (2 * n_terms) AS BIGINT)"
        ).alias("collision_permille"),
    )


@query(
    "q_agg_gini",
    oracle=f"""
    WITH cents AS (
      SELECT o_orderpriority,
             {sql_cents('o_totalprice')}
               AS x
      FROM orders
    ), ranked AS (
      SELECT o_orderpriority, x,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY x, x) AS i
      FROM cents
    ), sums AS (
      SELECT o_orderpriority,
             count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             -- HUGEINT inside the sum: Σi·x reaches ~9e18 at 100×-sf0.1
             -- (caught by the r07 100× sweep) — the BIGINT cast sat on
             -- the accumulator's edge
             CAST(sum(CAST(i AS HUGEINT) * x) AS HUGEINT) AS six
      FROM ranked GROUP BY 1
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
           -- (n+1)·sx alone exceeds int64 at 100× — widen BEFORE the
           -- product, not around the difference
           CAST((2 * 1000 * (2 * six - (n + 1) * CAST(sx AS HUGEINT))
                 + CAST(n AS HUGEINT) * sx)
                // (2 * CAST(n AS HUGEINT) * sx) AS BIGINT)
             AS gini_permille
    FROM sums
    ORDER BY o_orderpriority
    """,
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value concentration per order priority,
    in half-up integer permille — the inequality/concentration metric
    (what share of revenue the largest orders hold) that spend-analysis
    and fairness audits both reach for.

    Uses the rank formulation G = (2Σi·x_i − (n+1)Σx) / (nΣx) over
    cents sorted ascending: every term is an EXACT int64 (Σi·x ≈ 1e16
    at sf1 — within range), and the single division is the half-up
    permille idiom, so the operator has zero float surface. Ties in x
    get consecutive ranks; the formula's value is tie-invariant because
    equal x values contribute the same total regardless of rank order
    within the tie.

    Plan: map-side cents + one per-priority sort window (the rank is
    the only O(n log n) stage — at 100 TB the same statistic comes from
    a value-histogram formulation, same contract) + a 5-row agg."""
    cents = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr(
            sql_cents("o_totalprice")
        ).alias("x"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("x")
    ranked = cents.withColumn("i", F.row_number().over(w))
    sums = ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        # DECIMAL(38) inside the sum (r07 100× catch): the int64
        # accumulator of Σi·x overflowed one decade past the sf0.1
        # margin the docstring argued
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).alias("six"),
    )
    return sums.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        # int64 overflows at sf>=0.1 (2*1000*2*Σi·x ≈ 4e19), so the
        # half-up division runs in DECIMAL(38,0) / HUGEINT on the two
        # engines — both exact integer arithmetic.
        F.expr(
            "CAST((2 * 1000 * (2 * CAST(six AS DECIMAL(38,0))"
            " - (n + 1) * CAST(sx AS DECIMAL(38,0)))"
            " + CAST(n AS DECIMAL(38,0)) * sx)"
            " DIV (2 * CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT)"
        ).alias("gini_permille"),
    ).orderBy("o_orderpriority")


@query(
    "q_agg_hhi",
    oracle="""
    WITH rev AS (
      SELECT n.n_name, l.l_suppkey,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ), sums AS (
      SELECT n_name,
             count(*) AS n_suppliers,
             CAST(sum(cents) AS HUGEINT) AS tot,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS s2
      FROM rev GROUP BY 1
    )
    SELECT n_name, CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(tot AS BIGINT) AS total_cents,
           CAST((2 * 10000 * s2 + tot * tot) // (2 * tot * tot)
                AS BIGINT) AS hhi
    FROM sums
    """,
)
def q_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per supplier
    nation: HHI = Σ(100·share_i)² over each nation's suppliers' revenue
    shares, on the standard 0–10000 scale — the antitrust/market-
    structure statistic a spend-analysis pipeline computes per category
    (pairs with q_agg_gini: Gini measures inequality, HHI measures
    concentration against the merger-review thresholds).

    Exactness: revenue is exact int64 cents; Σs² and the final half-up
    division run in DECIMAL(38)/HUGEINT (cents² ≈ 4e19 overflows int64
    even at sf0.01 — same widening the Gini permille needed at sf0.1).
    Zero float surface.

    Plan: fact scan → (nation, supplier) revenue agg (one shuffle,
    map-side combined, supplier/nation dims broadcast) → 25-row
    re-aggregation. One data-sized stage at any scale."""
    li = t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name", "l_suppkey")
        .agg(
            F.expr(
                "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    sums = rev.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("cents").cast("long").alias("tot"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).alias("s2"),
    )
    return sums.select(
        "n_name",
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        F.col("tot").alias("total_cents"),
        F.expr(
            "CAST((2 * 10000 * s2 + CAST(tot AS DECIMAL(38,0)) * tot)"
            " DIV (2 * CAST(tot AS DECIMAL(38,0)) * tot) AS BIGINT)"
        ).alias("hhi"),
    )


@query(
    "q_agg_tukey_fences",
    oracle="""
    WITH cuts AS (
      SELECT event_type,
             CAST(round(CAST(quantile_cont(value, 0.25) AS DECIMAL(18,6)), 4)
                  AS DOUBLE) AS q1,
             CAST(round(CAST(quantile_cont(value, 0.75) AS DECIMAL(18,6)), 4)
                  AS DOUBLE) AS q3
      FROM events GROUP BY event_type
    ), fenced AS (
      SELECT e.event_type, e.value, c.q1, c.q3,
             c.q1 - 1.5 * (c.q3 - c.q1) AS lo,
             c.q3 + 1.5 * (c.q3 - c.q1) AS hi
      FROM events e JOIN cuts c ON c.event_type = e.event_type
    )
    SELECT event_type, count(*) AS n,
           any_value(q1) AS q1, any_value(q3) AS q3,
           CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above
    FROM fenced GROUP BY event_type
    """,
)
def q_agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot outlier fences per event type: exact Q1/Q3 (the
    DECIMAL-cast half-up law — 2-decimal inputs make interpolated
    quartiles exact 4-decimal values), fences at ±1.5·IQR, and the
    outlier counts beyond each fence — the boxplot-rule screen that
    complements the z-score (q_ts_anomaly) and winsorize
    (q_ts_winsorize) robust-stats family.

    The fence comparison happens on identical doubles in both engines
    (q1/q3 recovered exactly, 1.5·IQR is one IEEE multiply+add chain
    mirrored verbatim), so the counts are exact. Plan: per-type exact
    percentile agg (5 groups; approx_percentile is the 100 TB twin) +
    broadcast cut join + map-side count — one data-sized pass."""
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    from khose_spark.sqlutil import dec_round

    cuts = ev.groupBy("event_type").agg(
        dec_round(F.percentile("value", F.lit(0.25)), 6, 4).alias("q1"),
        dec_round(F.percentile("value", F.lit(0.75)), 6, 4).alias("q3"),
    )
    fenced = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "value",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return fenced.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.first("q1").alias("q1"),
        F.first("q3").alias("q3"),
        F.sum((F.col("value") < F.col("lo")).cast("long")).alias("n_below"),
        F.sum((F.col("value") > F.col("hi")).cast("long")).alias("n_above"),
    )


# Multi-feature stump comparison: which line-item feature best predicts
# a returned item. Features quantize to small integer grids.
_STUMP_FEATURES = [
    ("quantity", "CAST(l_quantity AS BIGINT)"),
    (
        "discount_pct",
        sql_cents("l_discount"),
    ),
    ("tax_pct", sql_cents("l_tax")),
    (
        "price_10k",
        f"{sql_cents('l_extendedprice')}"
        " // 1000000",
    ),
]
_RET_POS_SQL = "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"


def _stump_branch_sql(fname: str, band_expr: str) -> str:
    return f"""
      SELECT * FROM (
        SELECT '{fname}' AS feature, band + 1 AS threshold_band,
               CAST(greatest(pos_left, n_left - pos_left)
                    + greatest(pos_total - pos_left,
                               (n_total - n_left)
                                 - (pos_total - pos_left))
                    AS BIGINT) AS n_correct,
               CAST(n_total AS BIGINT) AS n_total
        FROM (
          SELECT band,
                 sum(n) OVER (ORDER BY band) AS n_left,
                 sum(n_pos) OVER (ORDER BY band) AS pos_left,
                 sum(n) OVER () AS n_total,
                 sum(n_pos) OVER () AS pos_total
          FROM (
            SELECT {band_expr} AS band, count(*) AS n,
                   CAST(sum({_RET_POS_SQL}) AS BIGINT) AS n_pos
            FROM lineitem GROUP BY 1
          )
        ) WHERE n_left < n_total
        ORDER BY n_correct DESC, threshold_band ASC LIMIT 1
      )"""


@query(
    "q_ml_feature_stumps",
    oracle=f"""
    SELECT feature, threshold_band, n_correct, n_total,
           (2 * 1000 * n_correct + n_total) // (2 * n_total)
               AS accuracy_permille
    FROM ({" UNION ALL ".join(
        _stump_branch_sql(f, e) for f, e in _STUMP_FEATURES)})
    ORDER BY accuracy_permille DESC, feature ASC
    """,
)
def q_ml_feature_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split feature comparison — the poor man's feature
    importance: for each of four line-item features (quantity,
    discount %, tax %, $10k price band) the best decision stump
    predicting a returned item is learned by exact misclassification
    count, and the four winners are ranked by half-up permille
    accuracy. Ties inside a feature resolve to the smallest threshold;
    the output answers "which signal moves returns at all" before
    anyone trains a real model.

    The q_ml_decision_stump machinery swept across a feature list:
    per feature one grid-bounded band aggregation + cumulative windows
    over the tiny grid + a 1-row argmax — four independent scans (at
    100 TB: one scan computing all four band aggregates would fuse
    them; kept separate here so each branch stays the audited stump
    shape)."""
    branches = []
    for fname, band_expr in _STUMP_FEATURES:
        band_expr_spark = band_expr.replace("//", "DIV")
        labeled = t(spark, sf_dir, "lineitem").select(
            F.expr(band_expr_spark).alias("band"),
            F.expr(_RET_POS_SQL).alias("pos"),
        )
        cum = _band_splits(labeled)
        scored = cum.filter(F.col("n_left") < F.col("n_total")).select(
            F.lit(fname).alias("feature"),
            (F.col("band") + 1).alias("threshold_band"),
            _stump_correct().alias("n_correct"),
            "n_total",
        )
        branches.append(
            scored.orderBy(
                F.col("n_correct").desc(), F.col("threshold_band").asc()
            ).limit(1)
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out.select(
        "feature",
        "threshold_band",
        "n_correct",
        "n_total",
        F.expr(
            "(2 * 1000 * n_correct + n_total) DIV (2 * n_total)"
        ).alias("accuracy_permille"),
    ).orderBy(F.col("accuracy_permille").desc(), F.col("feature").asc())


@query(
    "q_ml_anova_f",
    oracle=f"""
    WITH obs AS (
      SELECT event_type,
             {sql_cents('value')} AS c
      FROM events
    ), per_group AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS ss
      FROM obs GROUP BY event_type
    ), folded AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS s,
             CAST(sum(ss) AS BIGINT) AS ss,
             sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)) AS sum_s2n
      FROM per_group
    )
    SELECT k, n,
           round((sum_s2n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE)) / (k - 1)
                 / ((CAST(ss AS DOUBLE) - sum_s2n) / (n - k)),
                 4) AS f_stat,
           round((sum_s2n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                    * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)),
                 4) AS eta_squared
    FROM folded
    """,
)
def q_ml_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five event types: does the event value
    differ by type more than within-type noise explains? Emits the F
    statistic (between-group mean square over within-group mean square)
    and eta-squared (the share of variance the grouping explains) —
    the hypothesis-test companion to q_ml_ks_test's two-sample view.

    Exactness: per-group (n, sum, sum-of-squares) accumulate as int64
    cents (value <= ~330 => c^2 ~ 1e9, times 1e5 rows ~ 1e14 — four
    orders of headroom); the group fold then evaluates ONE identical
    double expression tree per engine with round-4 at the boundary
    (the linreg-2f law — per-group s^2/n must happen in doubles since
    the rationals have different denominators). Plan: one map-side
    projection + a 5-row group aggregate + a 1-row fold."""
    obs = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            sql_cents("value")
        ).alias("c"),
    )
    per_group = obs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    folded = per_group.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.sum(
            F.expr(
                "CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
                " / CAST(n AS DOUBLE)"
            )
        ).alias("sum_s2n"),
    )
    grand = "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    return folded.select(
        "k",
        "n",
        F.expr(
            f"round((sum_s2n - {grand}) / (k - 1)"
            f" / ((CAST(ss AS DOUBLE) - sum_s2n) / (n - k)), 4)"
        ).alias("f_stat"),
        F.expr(
            f"round((sum_s2n - {grand})"
            f" / (CAST(ss AS DOUBLE) - {grand}), 4)"
        ).alias("eta_squared"),
    )


@query(
    "q_ml_welch_t",
    oracle=f"""
    WITH obs AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS grp,
             {sql_cents('value')} AS c
      FROM events WHERE event_type IN ('click', 'purchase')
    ), m AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS ss
      FROM obs GROUP BY grp
    ), wide AS (
      SELECT
        max(CASE WHEN grp = 1 THEN n END) AS n1,
        max(CASE WHEN grp = 1 THEN s END) AS s1,
        max(CASE WHEN grp = 1 THEN ss END) AS ss1,
        max(CASE WHEN grp = 2 THEN n END) AS n2,
        max(CASE WHEN grp = 2 THEN s END) AS s2,
        max(CASE WHEN grp = 2 THEN ss END) AS ss2
      FROM m
    ), d AS (
      SELECT n1, n2,
             CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2
                 AS mean_diff,
             -- n·ss and s² pass 1e21 at 100× — HUGEINT the products
             -- (r07 100× catch), double only the exact difference
             (CAST(CAST(n1 AS HUGEINT) * ss1
                   - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))) AS se1sq,
             (CAST(CAST(n2 AS HUGEINT) * ss2
                   - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
                / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))) AS se2sq
      FROM wide
    )
    SELECT n1, n2,
           round(mean_diff / 100, 2) AS mean_diff_dollars,
           round(mean_diff / sqrt(se1sq + se2sq), 4) AS welch_t,
           round((se1sq + se2sq) * (se1sq + se2sq)
                 / (se1sq * se1sq / (n1 - 1)
                    + se2sq * se2sq / (n2 - 1)), 1) AS welch_df
    FROM d
    """,
)
def q_ml_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between click and purchase
    values: mean difference in dollars, the t statistic, and the
    Welch-Satterthwaite degrees of freedom — the 2-group classic
    between q_ml_ks_test (distribution-free) and q_ml_anova_f
    (k groups). Welch over pooled Student: real streams rarely share
    a variance.

    The moments (n, Σ, Σ²) accumulate as exact int64 cents (~1e14,
    four orders under overflow); the centered variance n·ss − s² is
    exact int64 converted losslessly, and the identical double tree +
    round-4/round-1 lands once at the boundary. Plan: map-side
    projection + a 2-row group aggregate + a 1-row pivot fold."""
    obs = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.when(F.col("event_type") == "click", 1)
            .otherwise(2)
            .alias("grp"),
            F.expr(
                sql_cents("value")
            ).alias("c"),
        )
    )
    m = obs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    wide = m.agg(
        *[
            F.max(
                F.when(F.col("grp") == g, F.col(col))
            ).alias(f"{col}{g}")
            for g in (1, 2)
            for col in ("n", "s", "ss")
        ]
    )
    d = wide.select(
        "n1",
        "n2",
        F.expr(
            "CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2"
        ).alias("mean_diff"),
        # DECIMAL(38) products (r07 100× catch): n·ss and s² pass 1e21
        # one decade past the sf0.1 margin the docstring argued; the
        # difference is still exact integer, doubled once.
        F.expr(
            "CAST(CAST(n1 AS DECIMAL(38,0)) * ss1"
            "     - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)"
            " / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))"
        ).alias("se1sq"),
        F.expr(
            "CAST(CAST(n2 AS DECIMAL(38,0)) * ss2"
            "     - CAST(s2 AS DECIMAL(38,0)) * s2 AS DOUBLE)"
            " / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1))"
        ).alias("se2sq"),
    )
    return d.select(
        "n1",
        "n2",
        F.expr("round(mean_diff / 100, 2)").alias("mean_diff_dollars"),
        F.expr("round(mean_diff / sqrt(se1sq + se2sq), 4)").alias(
            "welch_t"
        ),
        F.expr(
            "round((se1sq + se2sq) * (se1sq + se2sq)"
            " / (se1sq * se1sq / (n1 - 1)"
            "    + se2sq * se2sq / (n2 - 1)), 1)"
        ).alias("welch_df"),
    )


@query(
    "q_ml_mann_whitney",
    oracle=f"""
    WITH obs AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS grp,
             {sql_cents('value')} // 100 AS b
      FROM events WHERE event_type IN ('click', 'purchase')
    ), joint AS MATERIALIZED (
      SELECT b, grp, count(*) AS cnt FROM obs GROUP BY b, grp
    ), marg AS MATERIALIZED (
      SELECT b,
             CAST(sum(cnt) AS BIGINT) AS tb,
             2 * coalesce(sum(sum(cnt)) OVER (ORDER BY b ROWS BETWEEN
                  UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + sum(cnt) + 1 AS rx2
      FROM joint GROUP BY b
    ), folds AS (
      SELECT
        CAST(sum(CASE WHEN j.grp = 1 THEN j.cnt ELSE 0 END) AS BIGINT) AS na,
        CAST(sum(CASE WHEN j.grp = 2 THEN j.cnt ELSE 0 END) AS BIGINT) AS nb,
        CAST(sum(CASE WHEN j.grp = 1 THEN j.cnt * m.rx2 ELSE 0 END)
             AS BIGINT) AS r2a
      FROM joint j JOIN (SELECT b, CAST(rx2 AS BIGINT) AS rx2 FROM marg) m
        ON m.b = j.b
    ), ties AS (
      SELECT CAST(sum(CAST(tb AS HUGEINT) * tb * tb - tb) AS HUGEINT) AS t3
      FROM marg
    )
    SELECT na AS n_click, nb AS n_purchase,
           CAST(r2a - na * (na + 1) AS BIGINT) AS u2_click,
           CAST((2 * 1000 * (r2a - na * (na + 1)) + 2 * na * nb)
                // (2 * 2 * na * nb) AS BIGINT) AS auc_permille,
           round(CAST(r2a - na * (na + 1) - na * nb AS DOUBLE)
                 / (2 * sqrt(CAST(na AS DOUBLE) * nb / 12.0
                     * ((na + nb + 1)
                        - CAST(t3 AS DOUBLE)
                          / (CAST(na + nb AS DOUBLE) * (na + nb - 1))))),
                 4) AS z_round4
    FROM folds CROSS JOIN ties
    """,
)
def q_ml_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between click and purchase
    values — the NONPARAMETRIC partner of q_ml_welch_t on the same two
    samples (Welch compares means under normality; U compares the whole
    distributions via ranks and is what an A/B harness reaches for on
    skewed revenue-style metrics). Values are banded to whole dollars
    (cents DIV 100) and ranked WITHOUT ranking a row: midranks come
    from cumulative counts over the ~370-band marginal (the doubled
    2·below+cnt+1 idiom from q_agg_spearman, so tie-averaged halves
    never leave int64). Output: group sizes, the DOUBLED U statistic
    for click (the integer exactness carrier), the rank-biserial
    AUC = U/(n₁n₂) as half-up permille, and the tie-corrected normal
    z (no continuity correction — documented contract), rounded once.

    Exactness: 2R_click = Σ cnt·midrank2 stays int64 (~2n² ≈ 1e12 at
    10×); the tie term Σ(t³−t) reaches band-count·(hot band)³ so it is
    widened INSIDE the sum (DECIMAL(38) — the r07 spearman law);
    doubles appear only in the final z expression, built from the same
    exact integers in both engines. Plan: one fact scan → (band, grp)
    aggregation; everything after lives on the ≤368-row band grid
    (partition-free window over a bounded relation) — identical cost
    at any corpus scale past the first aggregation."""
    obs = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.when(F.col("event_type") == "click", 1)
            .otherwise(2)
            .alias("grp"),
            F.expr(
                f"{sql_cents('value')} DIV 100"
            ).alias("b"),
        )
    )
    joint = obs.groupBy("b", "grp").agg(F.count(F.lit(1)).alias("cnt"))
    w_below = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    marg = (
        joint.groupBy("b")
        .agg(F.sum("cnt").alias("tb"))
        .select(
            "b",
            "tb",
            (
                2 * F.coalesce(F.sum("tb").over(w_below), F.lit(0))
                + F.col("tb")
                + 1
            ).alias("rx2"),
        )
        # the ≤368-row band grid feeds the rank join AND the tie fold
        .transform(checkpoint)
    )
    folds = (
        joint.join(F.broadcast(marg.select("b", "rx2")), "b")
        .agg(
            F.sum(F.when(F.col("grp") == 1, F.col("cnt")).otherwise(0))
            .alias("na"),
            F.sum(F.when(F.col("grp") == 2, F.col("cnt")).otherwise(0))
            .alias("nb"),
            F.sum(
                F.when(F.col("grp") == 1, F.col("cnt") * F.col("rx2"))
                .otherwise(0)
            ).alias("r2a"),
        )
    )
    wide = F.col("tb").cast("decimal(38,0)")
    ties = marg.agg(
        F.sum(wide * F.col("tb") * F.col("tb") - wide).alias("t3")
    )
    return folds.crossJoin(F.broadcast(ties)).select(
        F.col("na").alias("n_click"),
        F.col("nb").alias("n_purchase"),
        (F.col("r2a") - F.col("na") * (F.col("na") + 1))
        .cast("long")
        .alias("u2_click"),
        F.expr(
            "CAST((2 * 1000 * (r2a - na * (na + 1)) + 2 * na * nb)"
            " DIV (2 * 2 * na * nb) AS BIGINT)"
        ).alias("auc_permille"),
        F.round(
            F.expr(
                "CAST(r2a - na * (na + 1) - na * nb AS DOUBLE)"
                " / (2 * sqrt(CAST(na AS DOUBLE) * nb / 12.0"
                "     * ((na + nb + 1)"
                "        - CAST(t3 AS DOUBLE)"
                "          / (CAST(na + nb AS DOUBLE) * (na + nb - 1)))))"
            ),
            4,
        ).alias("z_round4"),
    )


@query(
    "q_ts_granger_lag1",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             {sql_cents('value')} AS cents
      FROM events
    ), rollup AS (
      -- floor-consistent dollars: subtract the nonnegative remainder
      -- first, so the division is exact and engine rounding modes
      -- (DuckDB // floors, Spark DIV truncates) can never diverge on
      -- a negative (type, day) sum (ADVICE r08 item 1)
      SELECT event_type, d,
             CAST((sum(cents) - ((sum(cents) % 100) + 100) % 100)
                  // 100 AS BIGINT) AS v
      FROM ev GROUP BY 1, 2
    ), days AS (SELECT DISTINCT d FROM ev
    ), types AS (SELECT DISTINCT event_type FROM ev
    ), spine AS (
      SELECT t.event_type, dd.d, coalesce(r.v, 0) AS v
      FROM types t CROSS JOIN days dd
      LEFT JOIN rollup r ON r.event_type = t.event_type AND r.d = dd.d
    ), lagd AS (
      SELECT event_type, d, v,
             lag(v) OVER (PARTITION BY event_type ORDER BY d) AS vl
      FROM spine
    ), pairs AS (
      SELECT x.event_type AS x_type, y.event_type AS y_type,
             y.vl AS x1, x.vl AS x2, y.v AS y
      FROM lagd y JOIN lagd x
        ON x.d = y.d AND x.event_type <> y.event_type
      WHERE y.vl IS NOT NULL AND x.vl IS NOT NULL
    ), sums AS (
      SELECT x_type, y_type, count(*) AS n,
             CAST(sum(x1) AS BIGINT) AS s1,
             CAST(sum(x2) AS BIGINT) AS s2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
             CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
             CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
             CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
             CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM pairs GROUP BY x_type, y_type
    ), alg AS (
      SELECT x_type, y_type, n,
             {_sql_ols2_cmoms()}
      FROM sums
    ), coef AS (
      SELECT x_type, y_type, n, c11, c1y, c2y, cyy,
             (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
             (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
      FROM alg
    ), rss AS (
      SELECT x_type, y_type, n, b2,
             n * (cyy - b1 * c1y - b2 * c2y) AS rss_f,
             n * (cyy - c1y * c1y / c11) AS rss_r
      FROM coef
    )
    SELECT x_type, y_type, CAST(n AS BIGINT) AS n,
           round(b2, 6) AS b_cross,
           round((rss_r - rss_f) * (n - 3) / rss_f, 4) AS f_stat
    FROM rss
    """,
)
def q_ts_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise lag-1 Granger-causality F-tests over the event-type
    daily revenue series — "does knowing yesterday's X improve today's
    Y beyond Y's own history?" for every ordered type pair, the
    lead/lag screening a metrics platform runs before wiring alert
    dependencies.  Restricted model y_t ~ y_{t-1}; full model
    y_t ~ y_{t-1} + x_{t-1}; both solved by the closed-form
    2-feature normal equations (the q_ml_linreg_2f machinery — same
    Cramer expression tree), F = (RSS_r − RSS_f)(n−3)/RSS_f with one
    added regressor.

    Exactness: the series carrier is whole DOLLARS per (type, day) —
    exact int64 (DECIMAL-cents sum, floor-divided by 100 via the
    remainder-stripped form (s − pmod(s,100)) / 100 so Spark's
    truncating DIV and DuckDB's flooring // agree even on negative
    sums — ADVICE r08), zero-filled on the
    day × type spine derived from the SAME scan in both engines (the
    row-universe-by-construction rule).  All nine sufficient
    statistics per pair are exact sums; the QUADRATIC six fold in
    DECIMAL(38,0)/HUGEINT since round 10 — the 10000× decade probe
    MEASURED max Σv² at 3.36e18, 0.44 decades inside int64 (7th
    consecutive catch, one decade before corruption; margin-audit law
    granger_suffstats_decimal38), with the widening applied INSIDE
    the v·v product whose own magnitude crosses int64 one decade
    later. The covariance algebra and the single F-ratio run in
    doubles with identical expression trees, rounded once (6/4 dp).

    Plan: ONE (type, day) rollup shuffle over the fact scan (map-side
    combined, cardinality = types × days regardless of row count), a
    broadcast zero-fill spine, one lag window over ≤31-row partitions,
    a self-join producing the 20-pair design relation (bounded by the
    rollup, never the fact), and a 20-group aggregate.  At 100 TB the
    fact is touched exactly once."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("d"),
        cents(F.col("value")).alias("cents"),
    )
    # Floor-consistent dollars (ADVICE r08 item 1): Spark DIV truncates
    # toward zero while DuckDB // floors, so both sides first strip the
    # nonnegative remainder (pmod) and divide the exactly-divisible
    # value — truncation == floor by construction, sign-independent.
    rollup = ev.groupBy("event_type", "d").agg(
        F.expr(
            "CAST((sum(cents) - pmod(sum(cents), 100)) DIV 100 AS BIGINT)"
        ).alias("v")
    )
    days = ev.select("d").distinct()
    types = ev.select("event_type").distinct()
    spine = (
        F.broadcast(types)
        .crossJoin(F.broadcast(days))
        .join(rollup, ["event_type", "d"], "left")
        .select(
            "event_type", "d", F.coalesce("v", F.lit(0)).alias("v")
        )
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagd = spine.select(
        "event_type", "d", "v", F.lag("v").over(w).alias("vl")
    )
    y_side = lagd.select(
        F.col("event_type").alias("y_type"),
        "d",
        F.col("v").alias("y"),
        F.col("vl").alias("x1"),
    )
    x_side = lagd.select(
        F.col("event_type").alias("x_type"),
        F.col("d").alias("xd"),
        F.col("vl").alias("x2"),
    )
    pairs = (
        y_side.join(
            x_side,
            (F.col("xd") == F.col("d"))
            & (F.col("x_type") != F.col("y_type")),
        )
        .filter(F.col("x1").isNotNull() & F.col("x2").isNotNull())
        .select("x_type", "y_type", "x1", "x2", "y")
    )
    # Quadratic stats fold in DECIMAL(38,0)/HUGEINT since round 10: the
    # 10000× events decade probe MEASURED max Σv² at 3.36e18 — 0.44
    # decades inside int64 (the 7th consecutive decade catch, flagged a
    # full decade before corruption; the per-row product v·v ≈ 1.2e17
    # there would itself cross int64 one decade later, so the widening
    # is applied INSIDE the product, the spearman first-factor lesson).
    # Linear stats (Σv ≈ 1e10 at 10000×) keep int64 with ~8 decades.
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = pairs.groupBy("x_type", "y_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(dec("x1") * F.col("x1")).cast("decimal(38,0)").alias("s11"),
        F.sum(dec("x2") * F.col("x2")).cast("decimal(38,0)").alias("s22"),
        F.sum(dec("x1") * F.col("x2")).cast("decimal(38,0)").alias("s12"),
        F.sum(dec("x1") * F.col("y")).cast("decimal(38,0)").alias("s1y"),
        F.sum(dec("x2") * F.col("y")).cast("decimal(38,0)").alias("s2y"),
        F.sum(dec("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )

    def cm(sab: str, sa: str, sb: str) -> "F.Column":
        n = F.col("n")
        return (
            F.col(sab).cast("double") / n
            - (F.col(sa).cast("double") / n)
            * (F.col(sb).cast("double") / n)
        )

    alg = sums.select(
        "x_type", "y_type", "n",
        cm("s11", "s1", "s1").alias("c11"),
        cm("s22", "s2", "s2").alias("c22"),
        cm("s12", "s1", "s2").alias("c12"),
        cm("s1y", "s1", "sy").alias("c1y"),
        cm("s2y", "s2", "sy").alias("c2y"),
        cm("syy", "sy", "sy").alias("cyy"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    b1 = (F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y")) / det
    b2 = (F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y")) / det
    coef = alg.select(
        "x_type", "y_type", "n", "c11", "c1y", "c2y", "cyy",
        b1.alias("b1"), b2.alias("b2"),
    )
    rss = coef.select(
        "x_type", "y_type", "n", "b2",
        (
            F.col("n")
            * (
                F.col("cyy")
                - F.col("b1") * F.col("c1y")
                - F.col("b2") * F.col("c2y")
            )
        ).alias("rss_f"),
        (
            F.col("n")
            * (F.col("cyy") - F.col("c1y") * F.col("c1y") / F.col("c11"))
        ).alias("rss_r"),
    )
    return rss.select(
        "x_type", "y_type",
        F.col("n").cast("long").alias("n"),
        F.round("b2", 6).alias("b_cross"),
        F.round(
            (F.col("rss_r") - F.col("rss_f"))
            * (F.col("n") - 3)
            / F.col("rss_f"),
            4,
        ).alias("f_stat"),
    )


@query(
    "q_ml_ttest_paired",
    oracle=f"""
    WITH li AS (
      SELECT l_suppkey,
             CASE WHEN l_shipdate < TIMESTAMP '1996-01-01' THEN 0
                  ELSE 1 END AS yr,
             {sql_cents('l_extendedprice')}
               * (100 - CAST(round(CAST(l_discount AS DECIMAL(8,2)) * 100,
                                   0) AS BIGINT)) AS rev_cc
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
    ), per_supp AS (
      SELECT l_suppkey,
             CAST(sum(CASE WHEN yr = 0 THEN rev_cc END) AS BIGINT) AS s95,
             CAST(sum(CASE WHEN yr = 1 THEN rev_cc END) AS BIGINT) AS s96
      FROM li GROUP BY l_suppkey
      HAVING count(CASE WHEN yr = 0 THEN 1 END) > 0
         AND count(CASE WHEN yr = 1 THEN 1 END) > 0
    ), diffs AS (
      SELECT CAST(s96 - s95 AS DOUBLE) / 100.0 AS d FROM per_supp
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(d), 4) AS mean_diff_cents,
           round(stddev_samp(d), 4) AS sd_diff_cents,
           round(avg(d) / (stddev_samp(d) / sqrt(count(*))), 6) AS t_stat
    FROM diffs
    """,
)
def q_ml_ttest_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test on per-supplier annual revenue, 1995 vs 1996 —
    the within-subject companion to ``q_ml_welch_t`` (which compares
    two INDEPENDENT groups): pairing on the supplier removes the
    between-supplier variance component, the test every
    year-over-year / before-after dashboard actually needs.  Pairs
    are suppliers with revenue in BOTH years (HAVING both-sides
    guard); d_i = year-over-year revenue delta per supplier.

    Exactness: revenue folds in int64 centicents (the jackknife
    carrier; per-supplier-year sums ≈2.4e14 at 100×, four orders
    under int64); deltas convert to double CENTS only at the
    supplier-bounded tail (≤|supplier| = 100 rows at every SF — the
    dim does not scale), where avg/stddev_samp/√n fold the t-stat,
    rounded once.  d² would overflow int64 at 1× (≈1e22), which is
    WHY the tail is double, not a wider integer.

    Plan: one supplier-keyed conditional aggregate over the
    two-year scan window (predicate pushed to the parquet scan,
    map-side combined), then a 1-row fold over the dim-bounded
    relation.  At 100 TB: one shuffle keyed on the supplier dim."""
    us = F.col("l_shipdate")
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(
            (us >= F.lit("1995-01-01").cast("timestamp"))
            & (us < F.lit("1997-01-01").cast("timestamp"))
        )
        .select(
            "l_suppkey",
            F.when(
                us < F.lit("1996-01-01").cast("timestamp"), 0
            )
            .otherwise(1)
            .alias("yr"),
            (
                cents(F.col("l_extendedprice"))
                * (
                    100
                    - F.round(
                        F.col("l_discount").cast("decimal(8,2)") * 100, 0
                    ).cast("long")
                )
            ).alias("rev_cc"),
        )
    )
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(F.when(F.col("yr") == 0, F.col("rev_cc"))).alias("s95"),
            F.sum(F.when(F.col("yr") == 1, F.col("rev_cc"))).alias("s96"),
            F.count(F.when(F.col("yr") == 0, 1)).alias("n95"),
            F.count(F.when(F.col("yr") == 1, 1)).alias("n96"),
        )
        .filter((F.col("n95") > 0) & (F.col("n96") > 0))
    )
    diffs = per_supp.select(
        ((F.col("s96") - F.col("s95")).cast("double") / 100.0).alias("d")
    )
    return diffs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("d"), 4).alias("mean_diff_cents"),
        F.round(F.stddev_samp("d"), 4).alias("sd_diff_cents"),
        F.round(
            F.avg("d")
            / (F.stddev_samp("d") / F.sqrt(F.count(F.lit(1)))),
            6,
        ).alias("t_stat"),
    )


@query(
    "q_ml_raking",
    oracle="""
    WITH seed AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS st,
             CAST(count(*) AS BIGINT) AS n
      FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1, 2
    ), tgt_r AS (
      SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS r
      FROM orders GROUP BY 1
    ), tgt_c AS (
      SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ), rowstep AS (
      SELECT s.pri, s.st, s.n,
             CAST(s.n * t.r AS DOUBLE)
               / sum(s.n) OVER (PARTITION BY s.pri) AS w1
      FROM seed s JOIN tgt_r t ON s.pri = t.pri
    ), colstep AS (
      SELECT pri, rowstep.st AS st, n,
             w1 * t.c / sum(w1) OVER (PARTITION BY rowstep.st) AS w2
      FROM rowstep JOIN tgt_c t ON rowstep.st = t.st
    )
    SELECT pri, st, n AS n_seed,
           CAST(round(1000.0 * w2 / n, 0) AS BIGINT) AS w_permille,
           CAST(round(1000.0 * sum(w2) OVER (PARTITION BY pri)
                      / max(r) OVER (PARTITION BY pri), 0) AS BIGINT)
             AS row_fill_permille
    FROM colstep JOIN tgt_r USING (pri)
    """,
)
def q_ml_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One cycle of iterative proportional fitting (raking / rim
    weighting) of the (priority × status) cell grid: seed = cell
    counts from the even-orderkey half, targets = the FULL table's
    row and column margins — the survey-calibration step that
    re-weights a sampled cohort to known population margins (the
    IPF row-scale then column-scale half-steps; iteration count is
    an operational parameter, the plan shape is one identical cycle).

    Determinism: seed counts and margins are exact int64; the row
    half-step is a single IEEE division of exact integers (n·R is an
    exact int64 product, the row sum is an exact int64), so w1 is
    bit-identical cross-engine; the column half-step sums ≤5 such
    doubles and every OUTPUT is an integer permille (weight uplift
    vs seed, and the row-margin fill showing the single cycle's
    residual) — ulp-level summation-order drift is 9 orders below
    the rounding grain.  After the column step the column margins
    are exact by construction; the row fill ≠ 1000‰ is WHY surveys
    iterate.

    Plan: two margin aggregates + one cell aggregate (the only
    fact-sized shuffles, all map-side combined), then broadcast
    joins and windows over the ≤15-cell grid.  At 100 TB the grid
    stays |priorities|×|statuses|."""
    o = t(spark, sf_dir, "orders")
    seed = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tgt_r = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).alias("r")
    )
    tgt_c = o.groupBy(F.col("o_orderstatus").alias("st")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w_pri = Window.partitionBy("pri")
    w_st = Window.partitionBy("st")
    rowstep = seed.join(F.broadcast(tgt_r), "pri").select(
        "pri",
        "st",
        "n",
        (
            (F.col("n") * F.col("r")).cast("double")
            / F.sum("n").over(w_pri)
        ).alias("w1"),
    )
    colstep = rowstep.join(F.broadcast(tgt_c), "st").select(
        "pri",
        "st",
        "n",
        (F.col("w1") * F.col("c") / F.sum("w1").over(w_st)).alias("w2"),
    )
    return colstep.join(F.broadcast(tgt_r), "pri").select(
        "pri",
        "st",
        F.col("n").alias("n_seed"),
        F.round(1000.0 * F.col("w2") / F.col("n"), 0)
        .cast("long")
        .alias("w_permille"),
        F.round(
            1000.0 * F.sum("w2").over(w_pri) / F.max("r").over(w_pri), 0
        )
        .cast("long")
        .alias("row_fill_permille"),
    )


@query(
    "q_ml_shapley_2f",
    oracle=f"""
{_SQL_OLS2_XY}{_sql_ols2_sums("CAST(sum(x2 * y) AS BIGINT) AS s2y")}
    ), alg AS (
      SELECT n,
             {_sql_ols2_cmoms(5)}
      FROM sums
    ), coef AS (
      SELECT n,
             (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
             (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
      FROM alg
    ), absdev AS (
      SELECT CAST(sum(CAST(abs(s.n * xy.x1 - s.s1) AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS a1,
             CAST(sum(CAST(abs(s.n * xy.x2 - s.s2) AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS a2
      FROM xy CROSS JOIN sums s
    ), phi AS (
      SELECT c.b1, c.b2,
             abs(c.b1) * CAST(a.a1 AS DOUBLE)
               / (CAST(c.n AS DOUBLE) * c.n) AS p1,
             abs(c.b2) * CAST(a.a2 AS DOUBLE)
               / (CAST(c.n AS DOUBLE) * c.n) AS p2
      FROM coef c CROSS JOIN absdev a
    )
    SELECT 'line_count' AS feature, round(b1, 6) AS beta,
           round(p1, 4) AS mean_abs_attr,
           CAST(round(1000.0 * p1 / (p1 + p2), 0) AS BIGINT)
             AS share_permille
    FROM phi
    UNION ALL
    SELECT 'total_qty', round(b2, 6), round(p2, 4),
           CAST(round(1000.0 * p2 / (p1 + p2), 0) AS BIGINT)
    FROM phi
    """,
)
def q_ml_shapley_2f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley attribution for the closed-form 2-feature OLS of
    q_ml_linreg_2f — the model-explanation member of the ML family.
    For a LINEAR model Shapley values are exact and cheap:
    φ_j(order) = β_j·(x_j − x̄_j), so the global explanation
    mean|φ_j| = |β_j|·mean|x_j − x̄_j| needs no sampling and no
    per-coalition retraining.  Output: per-feature β, mean absolute
    attribution (dollars), and the attribution share — WHICH of the
    two features the model's predictions actually ride on.

    Exactness: the deviation mass folds INTEGER-exactly —
    mean|x−x̄| = Σ|n·x_j − s_j|/n², where the PER-ROW term n·x_j − s_j
    is exact int64 (≈6e11 at 1000×, linear per decade — 7 decades of
    headroom) and the SUM folds in DECIMAL(38,0) (widened round 10,
    VERDICT r09 item 2: the int64 sum measured 9.9e15 at 100×,
    ×100/decade ⇒ ≈1e18 at 1000× — one decade from the edge, the
    thinnest law on the books; DECIMAL buys 20 more decades. Both
    carriers MEASURED per round by scripts/margin_audit.py:
    shapley_rowterm_int64 + shapley_deviation_decimal38);
    β comes from the identical Cramer tree as q_ml_linreg_2f; doubles
    only in the 2-row tail, shares as integer permille.

    Plan: the per-order feature agg + orders join runs twice (the
    9-stat pass, then the deviation pass with the 1-row stats
    broadcast-crossed) — two passes, zero iteration, both map-side
    combined.  At 100 TB: two orderkey-keyed shuffles, nothing
    wider."""
    xy = _ols2_xy(spark, sf_dir)
    # s2y stays int64 here: this key folds no Σy².
    sums = _ols2_sums(
        xy, F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y")
    )
    alg = sums.select(
        "n",
        "s1",
        "s2",
        _cmom("s11", "s1", "s1").alias("c11"),
        _cmom("s22", "s2", "s2").alias("c22"),
        _cmom("s12", "s1", "s2").alias("c12"),
        _cmom("s1y", "s1", "sy").alias("c1y"),
        _cmom("s2y", "s2", "sy").alias("c2y"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    coef = alg.select(
        "n",
        "s1",
        "s2",
        (
            (F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y"))
            / det
        ).alias("b1"),
        (
            (F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y"))
            / det
        ).alias("b2"),
    )
    absdev = xy.crossJoin(F.broadcast(coef)).agg(
        F.sum(
            F.abs(F.col("n") * F.col("x1") - F.col("s1"))
            .cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("a1"),
        F.sum(
            F.abs(F.col("n") * F.col("x2") - F.col("s2"))
            .cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("a2"),
        F.max("b1").alias("b1"),
        F.max("b2").alias("b2"),
        F.max("n").alias("n"),
    )
    phi = absdev.select(
        "b1",
        "b2",
        (
            F.abs(F.col("b1"))
            * F.col("a1").cast("double")
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("p1"),
        (
            F.abs(F.col("b2"))
            * F.col("a2").cast("double")
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("p2"),
    )
    row1 = phi.select(
        F.lit("line_count").alias("feature"),
        F.round("b1", 6).alias("beta"),
        F.round("p1", 4).alias("mean_abs_attr"),
        F.round(1000.0 * F.col("p1") / (F.col("p1") + F.col("p2")), 0)
        .cast("long")
        .alias("share_permille"),
    )
    row2 = phi.select(
        F.lit("total_qty").alias("feature"),
        F.round("b2", 6).alias("beta"),
        F.round("p2", 4).alias("mean_abs_attr"),
        F.round(1000.0 * F.col("p2") / (F.col("p1") + F.col("p2")), 0)
        .cast("long")
        .alias("share_permille"),
    )
    return row1.unionByName(row2)


_TE_SMOOTH = 100  # smoothing pseudo-count m in (S + m*global_mean)/(n + m)


@query(
    "q_ml_target_encoding",
    oracle=f"""
    WITH y AS (
      SELECT o_orderpriority AS cat,
             {sql_cents('o_totalprice')}
               AS cents
      FROM orders
    ), per_cat AS (
      SELECT cat, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(min(cents) AS BIGINT) AS y_min,
             CAST(max(cents) AS BIGINT) AS y_max
      FROM y GROUP BY cat
    ), gstats AS (
      SELECT CAST(sum(n) AS BIGINT) AS ng, CAST(sum(s) AS BIGINT) AS sg
      FROM per_cat
    )
    SELECT p.cat, p.n,
           round(CAST(p.s AS DOUBLE) / p.n, 2) AS mean_cents,
           -- LOO is undefined for singleton categories: guard n > 1 so
           -- both engines agree on NULL instead of Spark-NULL-vs-
           -- DuckDB-Infinity on 0/0 (ADVICE r08 item 5)
           CASE WHEN p.n > 1 THEN
             round(CAST(p.s - p.y_max AS DOUBLE) / (p.n - 1), 2) END
             AS loo_min_cents,
           CASE WHEN p.n > 1 THEN
             round(CAST(p.s - p.y_min AS DOUBLE) / (p.n - 1), 2) END
             AS loo_max_cents,
           round((CAST(p.s AS DOUBLE)
                  + {_TE_SMOOTH} * (CAST(g.sg AS DOUBLE) / g.ng))
                 / (p.n + {_TE_SMOOTH}), 2) AS smoothed_cents
    FROM per_cat p CROSS JOIN gstats g
    ORDER BY p.cat
    """,
)
def q_ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out + smoothed target encoding of a categorical
    feature (order priority -> mean order value), the leakage-safe
    feature-engineering step before any tree/linear model: encoding a
    category by its own target mean leaks the row's label, so
    production uses LOO ((S - y_i)/(n - 1)) or additive smoothing
    ((S + m*global_mean)/(n + m)).

    Certification trick: LOO is per-ROW, but its extremes have CLOSED
    FORMS over the per-category sufficient stats -- the largest target
    in the category yields the SMALLEST leave-one-out mean, so
    loo_min = (S - y_max)/(n - 1) and loo_max = (S - y_min)/(n - 1) --
    which means the oracle certifies the per-row formula's arithmetic
    without ever materializing per-row encodings. (The per-row apply
    step at 100 TB is one broadcast join of this 5-row relation plus
    the same subtract-divide, already covered.)

    Exactness: S folds in int64 centicents (~6e13 per category at
    100x, five digits of headroom at 1000x); every output is one
    double division of exact int64s, round-2.  LOO columns are
    CASE-guarded to n > 1 (a singleton category's LOO is 0/0 —
    Spark returns NULL, recent DuckDB returns Infinity; the guard
    makes the engines agree by construction, ADVICE r08).

    Plan: one map-side-combined 5-group aggregate over orders + a
    5-row re-fold for the global mean, broadcast-crossed back. At
    100 TB: one shuffle carrying 5 rows per task."""
    y = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    # The 5-row category aggregate feeds BOTH the global fold and the
    # final projection; eager-checkpoint it so the orders scan+agg
    # executes exactly once (one fact pass at 100 TB).
    per_cat = (
        y.groupBy("cat")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.min("cents").alias("y_min"),
            F.max("cents").alias("y_max"),
        )
        .transform(checkpoint)
    )
    glob = per_cat.agg(
        F.sum("n").cast("long").alias("ng"),
        F.sum("s").cast("long").alias("sg"),
    )
    return (
        per_cat.crossJoin(F.broadcast(glob))
        .select(
            "cat",
            "n",
            F.round(F.col("s").cast("double") / F.col("n"), 2).alias(
                "mean_cents"
            ),
            # n > 1 guard: a singleton category's LOO mean is undefined
            # (0/0) — Spark yields NULL but DuckDB yields Infinity, so
            # pin NULL explicitly on both sides (ADVICE r08 item 5).
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("s") - F.col("y_max")).cast("double")
                    / (F.col("n") - 1),
                    2,
                ),
            ).alias("loo_min_cents"),
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("s") - F.col("y_min")).cast("double")
                    / (F.col("n") - 1),
                    2,
                ),
            ).alias("loo_max_cents"),
            F.round(
                (
                    F.col("s").cast("double")
                    + _TE_SMOOTH
                    * (F.col("sg").cast("double") / F.col("ng"))
                )
                / (F.col("n") + _TE_SMOOTH),
                2,
            ).alias("smoothed_cents"),
        )
        .orderBy("cat")
    )


_BOOST_BAND = 2_500_000  # $25k threshold grid on the totalprice feature


def _boost_cand_sql(grid: str, wcol: str, feat: str, fband: str) -> str:
    """Candidate-stump SQL over one feature: per-band class masses,
    cumulative windows, then both polarities' exact integer errors."""
    return f"""
      SELECT '{feat}' AS feature, t, p.pol,
             CASE WHEN p.pol = 1 THEN neg_le + (pos_tot - pos_le)
                  ELSE pos_le + (neg_tot - neg_le) END AS err,
             neg_tot + pos_tot AS w
      FROM (
        SELECT t,
               sum(neg) OVER (ORDER BY t) AS neg_le,
               sum(pos) OVER (ORDER BY t) AS pos_le,
               sum(neg) OVER () AS neg_tot,
               sum(pos) OVER () AS pos_tot
        FROM (
          SELECT {fband} AS t,
                 sum(CASE WHEN y = 1 THEN {wcol} ELSE 0 END) AS pos,
                 sum(CASE WHEN y = -1 THEN {wcol} ELSE 0 END) AS neg
          FROM {grid} GROUP BY 1
        )
      ) CROSS JOIN (SELECT unnest([1, -1]) AS pol) p
    """


_BOOST_H1 = """r1.pol * (CASE WHEN
      (CASE WHEN r1.feature = 'totalprice' THEN g.b1 ELSE g.b2 END)
      <= r1.t THEN 1 ELSE -1 END)"""


@query(
    "q_ml_boosted_stumps",
    oracle=f"""
    WITH labeled AS (
      SELECT {sql_cents('o_totalprice')}
               // {_BOOST_BAND} AS b1,
             CAST(year(o_orderdate) * 12 + month(o_orderdate)
                  AS BIGINT) AS b2,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE -1 END AS y
      FROM orders
    ), grid AS (
      SELECT b1, b2, y, CAST(count(*) AS BIGINT) AS c
      FROM labeled GROUP BY 1, 2, 3
    ), cand1 AS (
      {_boost_cand_sql("grid", "c", "totalprice", "b1")}
      UNION ALL
      {_boost_cand_sql("grid", "c", "month_idx", "b2")}
    ), r1 AS (
      SELECT feature, t, pol, err AS e, w - err AS cw, w FROM (
        SELECT *, row_number() OVER (
          ORDER BY err ASC, feature ASC, t ASC, pol ASC) AS rn
        FROM cand1) WHERE rn = 1
    ), g2w AS (
      SELECT g.b1, g.b2, g.y, g.c, {_BOOST_H1} AS h1,
             CASE WHEN {_BOOST_H1} = g.y
                  THEN CAST(g.c AS HUGEINT) * r1.e
                  ELSE CAST(g.c AS HUGEINT) * r1.cw END AS wgt
      FROM grid g, r1
    ), cand2 AS (
      {_boost_cand_sql("g2w", "wgt", "totalprice", "b1")}
      UNION ALL
      {_boost_cand_sql("g2w", "wgt", "month_idx", "b2")}
    ), r2 AS (
      SELECT feature, t, pol, err AS e, w - err AS cw, w FROM (
        SELECT *, row_number() OVER (
          ORDER BY err ASC, feature ASC, t ASC, pol ASC) AS rn
        FROM cand2) WHERE rn = 1
    ), ens AS (
      SELECT CAST(sum(CASE WHEN ens_h = y THEN c ELSE 0 END)
                  AS BIGINT) AS n_corr,
             CAST(sum(c) AS BIGINT) AS n
      FROM (
        SELECT w.y, w.c,
               CASE WHEN w.h1 = (r2.pol * (CASE WHEN
                      (CASE WHEN r2.feature = 'totalprice'
                            THEN w.b1 ELSE w.b2 END) <= r2.t
                      THEN 1 ELSE -1 END)) THEN w.h1
                    WHEN CAST(r1.cw AS HUGEINT) * r2.e
                         > r2.cw * CAST(r1.e AS HUGEINT) THEN w.h1
                    ELSE (r2.pol * (CASE WHEN
                      (CASE WHEN r2.feature = 'totalprice'
                            THEN w.b1 ELSE w.b2 END) <= r2.t
                      THEN 1 ELSE -1 END)) END AS ens_h
        FROM g2w w, r1, r2)
    )
    SELECT 'round1' AS stage, r1.feature,
           CAST(r1.t AS BIGINT) AS threshold,
           CAST(r1.pol AS INT) AS pol,
           CAST((1000 * CAST(r1.e AS HUGEINT)) // r1.w
                + CASE WHEN 2 * ((1000 * CAST(r1.e AS HUGEINT)) % r1.w)
                            >= r1.w
                       THEN 1 ELSE 0 END AS BIGINT)
             AS err_permille,
           CASE WHEN r1.e > 0 AND r1.cw > 0 THEN
             round(0.5 * ln(CAST(r1.cw AS DOUBLE) / r1.e), 6) END
             AS alpha,
           CAST(NULL AS BIGINT) AS accuracy_permille
    FROM r1
    UNION ALL
    SELECT 'round2', r2.feature, CAST(r2.t AS BIGINT),
           CAST(r2.pol AS INT),
           CAST((1000 * CAST(r2.e AS HUGEINT)) // r2.w
                + CASE WHEN 2 * ((1000 * CAST(r2.e AS HUGEINT)) % r2.w)
                            >= r2.w
                       THEN 1 ELSE 0 END AS BIGINT),
           CASE WHEN r2.e > 0 AND r2.cw > 0 THEN
             round(0.5 * ln(CAST(r2.cw AS DOUBLE) / r2.e), 6) END,
           CAST(NULL AS BIGINT)
    FROM r2
    UNION ALL
    SELECT 'ensemble', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS INT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE),
           CAST((2 * 1000 * n_corr + n) // (2 * n) AS BIGINT)
    FROM ens
    """,
)
def q_ml_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of AdaBoost over decision stumps (features: $25k
    total-price grid and the order-date month index; target: order
    finished 'F' — genuinely learnable from the date, so round 1 finds
    the real date split and round 2 must work the reweighted residual)
    — the fourth fully-oracled ITERATIVE algorithm (after k-means,
    PageRank, logreg), and the one where exactness usually dies in the
    weight exponentials. The certification trick: after round 1 the
    misclassified:correct weight ratio is exp(2α₁) = c₁/e₁ — RATIONAL —
    so round-2 per-row weights are the exact integers e₁ (correct
    rows) and c₁ (misclassified rows), every weighted stump error is
    an exact integer, and the ensemble sign for h₁ ≠ h₂ reduces to the
    integer cross-product compare c₁·e₂ vs c₂·e₁ (ties fall to h₁,
    documented). The ONLY double in the key is the reported
    α = ½·ln(c/e) itself — one ln of an integer ratio, round-6 (the
    PMI ordered-chain law); nothing downstream consumes it.

    Plan: ONE fact shuffle builds the (b1, b2, y) count grid (bounded
    by band-grid × months × 2 at any SF); both boosting rounds, the
    reweighting, and the ensemble fold are windows over that bounded
    grid — at 100 TB the boosting loop costs nothing beyond the single
    scan.

    Overflow law (CAUGHT by the round-9 100× digest run — the decade
    ladder's 4th consecutive catch): the ensemble cross-product
    cw₁·e₂ mixes an unweighted count with a weighted error and scales
    n³ (≈5e20 at 100× orders — PAST int64), so it compares as
    DECIMAL(19,0)×DECIMAL(19,0) in both engines; the weighted permille
    uses the two-step half-up form q + (2r ≥ w) and its numerator
    1000·e₂ — worst-split bound 2000·e₁·cw₁ ≤ 500·n² — was WIDENED in
    round 10 after the 1000× lineitem margin probe measured the bound
    at 1.125e19 > int64 (the 5th consecutive decade catch, this one
    BEFORE the carrier shipped thin): Spark folds the numerator in
    DECIMAL(38,0) (exact DIV/%), the oracle in HUGEINT (DuckDB's
    DECIMAL // coerces through DOUBLE and loses ulps; int128 division
    is exact). margin_audit's boost_weighted_err_decimal38 law tracks
    the bound with ~19 decades of room at 1000×. Round 11 spent the
    next-thinnest margin BEFORE the ladder reached it: the round-2
    per-cell weights c·c₁ ≤ n² and total w₂ = 2·e₁·cw₁ ≤ n²/2 (2.9
    decades left at 1000×) now fold in DECIMAL(38,0) (Spark) /
    HUGEINT (oracle) end-to-end, and the ensemble cross-product
    compares count-scale decimal(19,0) against the widened weight
    sums (bound n³/2 ≈ 4e28 at n = 4.4e9 — inside decimal(38,0)).
    margin_audit's boost_round2_weight_decimal38 law re-measures the
    bound under the widened carrier."""
    labeled = t(spark, sf_dir, "orders").select(
        F.expr(
            f"{sql_cents('o_totalprice')}"
            f" DIV {_BOOST_BAND}"
        ).alias("b1"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("b2"),
        F.when(F.col("o_orderstatus") == "F", 1)
        .otherwise(-1)
        .alias("y"),
    )
    grid = (
        labeled.groupBy("b1", "b2", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(checkpoint)
    )

    def candidates(g: DataFrame, wcol: str) -> DataFrame:
        outs = []
        for feat, fband in (("totalprice", "b1"), ("month_idx", "b2")):
            per = g.groupBy(F.col(fband).alias("t")).agg(
                F.sum(F.when(F.col("y") == 1, F.col(wcol)).otherwise(0))
                .alias("pos"),
                F.sum(F.when(F.col("y") == -1, F.col(wcol)).otherwise(0))
                .alias("neg"),
            )
            w_cum = Window.orderBy("t").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            w_all = Window.orderBy("t").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            cum = per.select(
                "t",
                F.sum("neg").over(w_cum).alias("neg_le"),
                F.sum("pos").over(w_cum).alias("pos_le"),
                F.sum("neg").over(w_all).alias("neg_tot"),
                F.sum("pos").over(w_all).alias("pos_tot"),
            )
            for pol in (1, -1):
                err = (
                    F.col("neg_le") + (F.col("pos_tot") - F.col("pos_le"))
                    if pol == 1
                    else F.col("pos_le")
                    + (F.col("neg_tot") - F.col("neg_le"))
                )
                outs.append(
                    cum.select(
                        F.lit(feat).alias("feature"),
                        "t",
                        F.lit(pol).alias("pol"),
                        err.alias("err"),
                        (F.col("neg_tot") + F.col("pos_tot")).alias("w"),
                    )
                )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def argmin(cand: DataFrame) -> DataFrame:
        w = Window.orderBy(
            F.asc("err"), F.asc("feature"), F.asc("t"), F.asc("pol")
        )
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "feature",
                "t",
                "pol",
                F.col("err").alias("e"),
                (F.col("w") - F.col("err")).alias("cw"),
                "w",
            )
            .transform(checkpoint)  # 1 row; reused by reweight + ensemble
        )

    r1 = argmin(candidates(grid, "c"))

    def stump_h(prefix: str):
        fval = F.when(
            F.col(f"{prefix}feature") == "totalprice", F.col("b1")
        ).otherwise(F.col("b2"))
        return F.col(f"{prefix}pol") * F.when(
            fval <= F.col(f"{prefix}t"), 1
        ).otherwise(-1)

    g2w = (
        grid.crossJoin(F.broadcast(r1))
        .select(
            "b1",
            "b2",
            "y",
            "c",
            stump_h("").alias("h1"),
            # Round-2 per-cell weight and (downstream) every round-2
            # sum fold in DECIMAL(38,0) — widened in round 11 (the
            # 8th decade-ladder spend, this one BEFORE the ladder
            # caught it): w₂ = 2·e₁·cw₁ ≤ n²/2 had 2.9 decades left
            # at 1000× and was the documented next candidate.
            F.when(
                stump_h("") == F.col("y"),
                F.col("c").cast("decimal(19,0)") * F.col("e"),
            )
            .otherwise(F.col("c").cast("decimal(19,0)") * F.col("cw"))
            .cast("decimal(38,0)")
            .alias("wgt"),
        )
        .transform(checkpoint)
    )
    r2 = argmin(candidates(g2w, "wgt"))

    r2r = r2.select(
        F.col("feature").alias("r2feature"),
        F.col("t").alias("r2t"),
        F.col("pol").alias("r2pol"),
        F.col("e").alias("e2"),
        F.col("cw").alias("cw2"),
    )
    r1r = r1.select(
        F.col("e").alias("e1"), F.col("cw").alias("cw1")
    )
    # cw₁/e₁ are count-scale (≤ n — decimal(19,0) holds through
    # n < 1e19); e₂/cw₂ arrive as decimal(38,0) weight sums. Either
    # product is ≤ n³/2 (≈4e28 at n = 4.4e9) — inside decimal(38,0).
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    ens_h = F.when(F.col("h1") == F.col("h2v"), F.col("h1")).otherwise(
        F.when(
            dec("cw1") * F.col("e2") > F.col("cw2") * dec("e1"),
            F.col("h1"),
        ).otherwise(F.col("h2v"))
    )
    ens = (
        g2w.crossJoin(F.broadcast(r2r))
        .crossJoin(F.broadcast(r1r))
        .withColumn("h2v", stump_h("r2"))
        .select("y", "c", ens_h.alias("ens_h"))
        .agg(
            F.sum(
                F.when(
                    F.col("ens_h") == F.col("y"), F.col("c")
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_corr"),
            F.sum("c").cast("long").alias("n"),
        )
    )

    def round_row(r: DataFrame, stage: str) -> DataFrame:
        alpha = F.when(
            (F.col("e") > 0) & (F.col("cw") > 0),
            F.round(
                0.5 * F.log(F.col("cw").cast("double") / F.col("e")), 6
            ),
        )
        return r.select(
            F.lit(stage).alias("stage"),
            "feature",
            F.col("t").cast("long").alias("threshold"),
            F.col("pol").cast("int").alias("pol"),
            # Permille numerator widened round 10 (the 5th consecutive
            # decade catch, this time by the 1000× lineitem margin
            # probe BEFORE any wrong result shipped): 1000·e₂ ≤
            # 1000·w₂ ≤ 500·n² = 1.125e19 at 1000× > int64. Spark
            # folds it in DECIMAL(38,0) (exact DIV/%); the oracle uses
            # HUGEINT — DuckDB's DECIMAL // coerces through DOUBLE and
            # loses ulps, HUGEINT division is exact int128.
            F.expr(
                "CAST((1000 * CAST(e AS DECIMAL(38,0))) DIV w"
                " + CASE WHEN 2 * ((1000 * CAST(e AS DECIMAL(38,0))) % w)"
                " >= w"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("err_permille"),
            alpha.alias("alpha"),
            F.lit(None).cast("long").alias("accuracy_permille"),
        )

    ens_row = ens.select(
        F.lit("ensemble").alias("stage"),
        F.lit(None).cast("string").alias("feature"),
        F.lit(None).cast("long").alias("threshold"),
        F.lit(None).cast("int").alias("pol"),
        F.lit(None).cast("long").alias("err_permille"),
        F.lit(None).cast("double").alias("alpha"),
        F.expr(
            "CAST((2 * 1000 * n_corr + n) DIV (2 * n) AS BIGINT)"
        ).alias("accuracy_permille"),
    )
    return (
        round_row(r1, "round1")
        .unionByName(round_row(r2, "round2"))
        .unionByName(ens_row)
    )


@query(
    "q_ml_kruskal_wallis",
    oracle=f"""
    WITH v AS (
      SELECT o_orderpriority AS pri,
             {sql_cents('o_totalprice')}
               // 10000 AS band
      FROM orders
    ), joint AS (
      SELECT band, pri, CAST(count(*) AS BIGINT) AS c
      FROM v GROUP BY 1, 2
    ), marg AS (
      SELECT band, t,
             2 * coalesce(sum(t) OVER (ORDER BY band ROWS BETWEEN
                  UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1
               AS mid2
      FROM (SELECT band, CAST(sum(c) AS BIGINT) AS t
            FROM joint GROUP BY band)
    ), grp AS (
      SELECT pri, CAST(sum(c) AS BIGINT) AS n_g,
             CAST(sum(CAST(c AS HUGEINT) * mid2) AS HUGEINT) AS r2
      FROM joint j JOIN marg m ON m.band = j.band
      GROUP BY pri
    ), tot AS (
      SELECT CAST(sum(t) AS HUGEINT) AS n,
             CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT)
               AS tie_mass
      FROM marg
    ), sterm AS (
      SELECT sum(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / n_g)
               AS s FROM grp
    ), hstat AS (
      SELECT CAST(t.n AS BIGINT) AS n,
             round(3.0 * s.s
                   / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 1))
                   - 3.0 * (CAST(t.n AS DOUBLE) + 1), 4) AS h_stat,
             round((3.0 * s.s
                    / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 1))
                    - 3.0 * (CAST(t.n AS DOUBLE) + 1))
                   / (1.0 - CAST(t.tie_mass AS DOUBLE)
                      / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n)), 4)
               AS h_corrected
      FROM tot t, sterm s
    )
    SELECT g.pri, g.n_g,
           CAST((2 * (1000 * g.r2) + 2 * g.n_g) // (4 * g.n_g)
                AS BIGINT) AS mean_rank_milli,
           h.n, h.h_stat, h.h_corrected
    FROM grp g CROSS JOIN hstat h
    """,
)
def q_ml_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test across the five order-priority groups —
    the k-group NONPARAMETRIC one-way test completing the trio with
    q_ml_anova_f (parametric k-group) and q_ml_mann_whitney (2-group
    rank-sum): does total price distribute identically across
    priorities, judged on ranks so outliers and non-normality don't
    drive the answer. Computed WITHOUT ranking a single row — the
    q_agg_spearman banded-midrank idiom: values quantize onto the $100
    cents grid, midranks come from cumulative counts over the
    domain-bounded band marginal (DOUBLED — 2·below + t + 1 — so the
    tie-average half never leaves the integer lattice), per-group rank
    sums fold as Σ c·mid2 in exact DECIMAL(38,0)/HUGEINT, and
    H = 3·Σ(r2²/n_g)/(N(N+1)) − 3(N+1) with the standard tie
    correction C = 1 − Σ(t³−t)/(N³−N) applies doubles only in the
    final 1-row fold (continuous under round-4, sqlutil law). Per-group
    mean rank reports as EXACT half-up integer milliranks.

    Carriers: c·mid2 ≈ c·2N folds in DECIMAL(38,0) (per-row term int64
    through 1000×); r2² ≈ 4N⁴/25 evaluates in DOUBLE from exact
    integers (identical conversions both engines); t³ ≤ N³ in
    DECIMAL/HUGEINT.

    Plan: one (band, pri) grid aggregation (the only fact-scale
    shuffle, map-side combined), a window over the domain-bounded band
    marginal, broadcast midrank join, 5-row group fold + 1-row H fold
    broadcast-crossed back — the spearman shape with a group axis."""
    v = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.expr(
            f"{sql_cents('o_totalprice')}"
            " DIV 10000"
        ).alias("band"),
    )
    # Eager checkpoint: the grid feeds the marginal AND the group fold
    # (the spearman lifecycle).
    joint = (
        v.groupBy("band", "pri")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(checkpoint)
    )
    w_below = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    marg = (
        joint.groupBy("band")
        .agg(F.sum("c").cast("long").alias("t"))
        .select(
            "band",
            "t",
            (
                2 * F.coalesce(F.sum("t").over(w_below), F.lit(0))
                + F.col("t")
                + 1
            ).alias("mid2"),
        )
    )
    wide = F.col("c").cast("decimal(38,0)")
    grp = (
        joint.join(F.broadcast(marg), "band")
        .groupBy("pri")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(wide * F.col("mid2")).cast("decimal(38,0)").alias("r2"),
        )
    )
    tw = F.col("t").cast("decimal(38,0)")
    tot = marg.agg(
        F.sum("t").cast("decimal(38,0)").alias("n"),
        F.sum(tw * F.col("t") * F.col("t") - F.col("t"))
        .cast("decimal(38,0)")
        .alias("tie_mass"),
    )
    sterm = grp.agg(
        F.sum(
            F.col("r2").cast("double")
            * F.col("r2").cast("double")
            / F.col("n_g")
        ).alias("s")
    )
    hstat = tot.crossJoin(F.broadcast(sterm)).select(
        F.col("n").cast("long").alias("n"),
        F.expr(
            "round(3.0 * s / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))"
            " - 3.0 * (CAST(n AS DOUBLE) + 1), 4)"
        ).alias("h_stat"),
        F.expr(
            "round((3.0 * s"
            " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))"
            " - 3.0 * (CAST(n AS DOUBLE) + 1))"
            " / (1.0 - CAST(tie_mass AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * n * n - n)), 4)"
        ).alias("h_corrected"),
    )
    return grp.crossJoin(F.broadcast(hstat)).select(
        "pri",
        "n_g",
        F.expr(
            "CAST((2 * (1000 * r2) + 2 * n_g) DIV (4 * n_g) AS BIGINT)"
        ).alias("mean_rank_milli"),
        "n",
        "h_stat",
        "h_corrected",
    )


@query(
    "q_ts_holt_winters",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, cents,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_days
      FROM daily
    ), init0 AS (
      SELECT event_type, CAST(sum(cents) // 7 AS BIGINT) AS l,
             CAST(max(n_days) AS BIGINT) AS n_days
      FROM idx WHERE rn <= 7 GROUP BY event_type HAVING count(*) = 7
    ), init AS (
      SELECT i.event_type, i.n_days, i.l, CAST(0 AS BIGINT) AS b,
             list(d.cents - i.l ORDER BY d.rn) AS s
      FROM init0 i JOIN idx d ON d.event_type = i.event_type
                             AND d.rn <= 7
      GROUP BY i.event_type, i.n_days, i.l
    ), hw AS (
      SELECT event_type, CAST(7 AS BIGINT) AS rn, n_days, l, b, s
      FROM init
      UNION ALL
      SELECT h.event_type, h.rn + 1, h.n_days,
             (d.cents - h.s[CAST(h.rn % 7 AS INT) + 1] + h.l + h.b)
               // 2 AS l,
             ((d.cents - h.s[CAST(h.rn % 7 AS INT) + 1] + h.l + h.b)
               // 2 - h.l + h.b) // 2 AS b,
             list_transform(range(1, 8),
               j -> CASE WHEN j = CAST(h.rn % 7 AS INT) + 1
                    THEN (d.cents
                          - (d.cents - h.s[CAST(h.rn % 7 AS INT) + 1]
                             + h.l + h.b) // 2
                          + h.s[CAST(h.rn % 7 AS INT) + 1]) // 2
                    ELSE h.s[j] END) AS s
      FROM hw h JOIN idx d ON d.event_type = h.event_type
                          AND d.rn = h.rn + 1
    )
    SELECT event_type, n_days, l AS level_cents, b AS trend_cents,
           l + b + s[CAST(n_days % 7 AS INT) + 1] AS fc1_cents,
           l + 2 * b + s[CAST((n_days + 1) % 7 AS INT) + 1] AS fc2_cents,
           l + 3 * b + s[CAST((n_days + 2) % 7 AS INT) + 1] AS fc3_cents
    FROM hw WHERE rn = n_days
    """,
)
def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE-SEASONAL smoothing (level + trend +
    period-7 weekly seasonal state, α = β = γ = 1/2) per event type
    with 1/2/3-step-ahead seasonal forecasts — the seasonality step up
    from q_ts_holt_forecast that a weekly-cycled ops series actually
    needs (Holt alone smears the weekend dip into the trend).

    Exactness (the holt/SPC integer discipline): daily cents are exact
    int64; the l/b/s recurrences use α = 1/2 as TRUNCATE-toward-zero
    halving, which Python's floor // must emulate for negatives
    (tdiv2) because DuckDB's integer ``//`` truncates — all three
    state vectors stay exact integers forever, zero float drift, and
    the hash check certifies the full 30-step × 7-lane recurrence.
    Initialization: l₀ = trunc-mean of the first week, b₀ = 0,
    s_i = y_i − l₀ (types with < 7 observed days drop, both engines).

    Plan: one (type, day) rollup shuffle; the recurrence is inherently
    sequential per type, so it runs as a grouped applyInPandas over
    the days×types-bounded rollup (≤ ~30 rows per group — Arrow
    transfer of a few KB); the oracle unrolls the same recurrence as a
    recursive CTE carrying the 7-lane seasonal LIST. At 100 TB the
    fact scan dominates and the smoother costs nothing."""
    import pandas as pd  # noqa: F401 — applyInPandas payload

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )

    def hw(pdf):
        import pandas as pd

        pdf = pdf.sort_values("d")
        n = len(pdf)
        cols = [
            "event_type", "n_days", "level_cents", "trend_cents",
            "fc1_cents", "fc2_cents", "fc3_cents",
        ]
        if n < 7:
            return pd.DataFrame(columns=cols)

        def tdiv2(a: int) -> int:  # truncate toward zero, like DuckDB //
            return a // 2 if a >= 0 else -((-a) // 2)

        def tdiv7(a: int) -> int:
            return a // 7 if a >= 0 else -((-a) // 7)

        y = [int(c) for c in pdf["cents"]]
        l = tdiv7(sum(y[:7]))
        b = 0
        s = [yi - l for yi in y[:7]]
        for t_i in range(7, n):
            idx = t_i % 7
            yt = y[t_i]
            l_new = tdiv2(yt - s[idx] + l + b)
            b = tdiv2(l_new - l + b)
            s[idx] = tdiv2(yt - l_new + s[idx])
            l = l_new
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "level_cents": [l],
                "trend_cents": [b],
                "fc1_cents": [l + b + s[n % 7]],
                "fc2_cents": [l + 2 * b + s[(n + 1) % 7]],
                "fc3_cents": [l + 3 * b + s[(n + 2) % 7]],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        hw,
        "event_type string, n_days long, level_cents long, "
        "trend_cents long, fc1_cents long, fc2_cents long, fc3_cents long",
    )


@query(
    "q_ml_friedman",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2)) * 100)
                  AS DECIMAL(18,0)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), kdim AS (
      SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM daily
    ), blocks AS (
      SELECT x FROM daily GROUP BY x
      HAVING count(*) = (SELECT k FROM kdim)
    ), ranked AS (
      SELECT d.event_type, d.x,
             2 * rank() OVER (PARTITION BY d.x ORDER BY d.cents ASC)
               + count(*) OVER (PARTITION BY d.x, d.cents) - 1 AS mid2
      FROM daily d JOIN blocks b ON b.x = d.x
    ), grp AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(mid2) AS BIGINT) AS s2
      FROM ranked GROUP BY event_type
    ), tot AS (
      SELECT CAST(count(DISTINCT x) AS BIGINT) AS n,
             (SELECT k FROM kdim) AS k,
             CAST(sum(CAST(mid2 AS BIGINT) * mid2) AS BIGINT) AS b4
      FROM ranked
    ), folds AS (
      SELECT t.n, t.k,
             CAST(sum(CAST(g.s2 AS BIGINT) * g.s2) AS BIGINT) AS a4
      FROM grp g CROSS JOIN tot t GROUP BY t.n, t.k
    ), stat AS (
      SELECT f.n, f.k,
             round((f.k - 1) * (CAST(f.a4 AS DOUBLE)
                                - CAST(f.n AS DOUBLE) * f.n * f.k
                                  * (f.k + 1) * (f.k + 1))
                   / nullif(CAST(t2.b4 AS DOUBLE)
                            - CAST(f.n AS DOUBLE) * f.k
                              * (f.k + 1) * (f.k + 1), 0.0),
                   4) AS chi2_f
      FROM folds f JOIN tot t2 ON t2.n = f.n AND t2.k = f.k
    )
    SELECT g.event_type, g.n_blocks,
           CAST((2 * (1000 * g.s2) + 2 * g.n_blocks)
                // (4 * g.n_blocks) AS BIGINT) AS mean_rank_milli,
           s.n, s.k, s.chi2_f
    FROM grp g CROSS JOIN stat s
    """,
)
def q_ml_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test across the five event types with days as
    BLOCKS — the repeated-measures member completing the nonparametric
    suite: kruskal_wallis compares INDEPENDENT groups, mann_whitney two
    of them; Friedman asks whether the k types rank consistently WITHIN
    each day, which removes day-level volume shifts (weekends, spikes)
    that inflate the independent-sample tests. Only COMPLETE blocks
    (days observing all k types) enter, per the classical design.

    Determinism/exactness: within-block tie-averaged ranks use DOUBLED
    midranks (2·rank + ties − 1 — the spearman lattice trick), so rank
    sums S2_j = Σ mid2 and both sufficient statistics A = Σ_j S2_j²,
    B = Σ_ij mid2² are exact int64 (mid2 ≤ 2k, S2_j ≤ 2kn — horizon-
    bounded, ~9 int64 decades of headroom at a 30-day fixture and still
    >6 at a 10-year horizon). The tie-general statistic evaluates the
    doubled-lattice identity
        χ²_F = (k−1)·(A − n²k(k+1)²) / (B − nk(k+1)²)
    (both parenthesized terms are the classical ones scaled by 4) as
    ONE double ratio, round-4; all-tied blocks zero the denominator →
    NULL guard. Per-type mean rank reports as exact half-up milliranks.

    Plan: one (type, day) fact rollup (the only corpus-scale shuffle,
    map-side combined), a k-complete block semi-join on the
    days-bounded rollup, per-block windows over ≤k rows, then 5-row /
    1-row folds broadcast-crossed back (the kruskal shape with the
    group axis swapped for a block axis)."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(cents(F.col("value"))).alias("cents")
        )
        .transform(checkpoint)  # feeds k-dim, block filter, and ranks
    )
    kdim = daily.agg(
        F.countDistinct("event_type").cast("long").alias("k")
    )
    blocks = (
        daily.crossJoin(F.broadcast(kdim))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("nt"), F.max("k").alias("k"))
        .filter(F.col("nt") == F.col("k"))
        .select("x", "k")
    )
    w_rank = Window.partitionBy("x").orderBy(F.asc("cents"))
    w_tie = Window.partitionBy("x", "cents")
    ranked = (
        daily.join(F.broadcast(blocks), "x")
        .select(
            "event_type",
            "x",
            "k",
            (
                2 * F.rank().over(w_rank)
                + F.count(F.lit(1)).over(w_tie)
                - 1
            ).cast("long").alias("mid2"),
        )
        .transform(checkpoint)  # feeds the group fold AND the total fold
    )
    grp = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("mid2").cast("long").alias("s2"),
    )
    tot = ranked.agg(
        F.countDistinct("x").cast("long").alias("n"),
        F.max("k").alias("k"),
        F.sum(F.col("mid2") * F.col("mid2")).cast("long").alias("b4"),
    )
    folds = grp.crossJoin(F.broadcast(tot)).groupBy("n", "k", "b4").agg(
        F.sum(F.col("s2") * F.col("s2")).cast("long").alias("a4")
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    stat = folds.select(
        "n",
        "k",
        F.round(
            (kd - 1)
            * (
                F.col("a4").cast("double")
                - nd * nd * kd * (kd + 1) * (kd + 1)
            )
            / F.nullif(
                F.col("b4").cast("double")
                - nd * kd * (kd + 1) * (kd + 1),
                F.lit(0.0),
            ),
            4,
        ).alias("chi2_f"),
    )
    return grp.crossJoin(F.broadcast(stat)).select(
        "event_type",
        "n_blocks",
        F.expr(
            "CAST((2 * (1000 * s2) + 2 * n_blocks)"
            " DIV (4 * n_blocks) AS BIGINT)"
        ).alias("mean_rank_milli"),
        "n",
        "k",
        "chi2_f",
    )


@query(
    "q_ml_cuped",
    oracle=f"""
    WITH arm AS (
      SELECT user_id,
             CASE WHEN ((
               (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 4096
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 256
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4, 1)) - 1)
             ) % 100) < 50 THEN 'A' ELSE 'B' END AS arm,
             CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                   THEN {sql_cents('value')} END), 0)
                  AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                   THEN {sql_cents('value')} END), 0)
                  AS BIGINT) AS y
      FROM events GROUP BY user_id
    ), g AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM arm
    ), folds AS (
      SELECT n, sx, sy,
             n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS den,
             n * syy - sy * sy AS deny
      FROM g
    ), per_arm AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(x) AS BIGINT) AS sxa,
             CAST(sum(y) AS BIGINT) AS sya
      FROM arm GROUP BY arm
    )
    SELECT a.arm, a.n_users, a.sya AS sum_y_cents,
           CAST((2 * 1000 * CAST(a.sya AS HUGEINT) + a.n_users)
                // (2 * a.n_users) AS BIGINT) AS mean_y_milli,
           round(CAST(f.num AS DOUBLE) / CAST(f.den AS DOUBLE), 6)
               AS theta_r6,
           round(CAST(a.sya AS DOUBLE) / a.n_users
                 - (CAST(f.num AS DOUBLE) / CAST(f.den AS DOUBLE))
                   * (CAST(a.sxa AS DOUBLE) / a.n_users
                      - CAST(f.sx AS DOUBLE) / CAST(f.n AS DOUBLE)), 4)
               AS mean_adj_r4,
           round(CAST(f.num AS DOUBLE) * CAST(f.num AS DOUBLE)
                 / (CAST(f.den AS DOUBLE) * CAST(f.deny AS DOUBLE)), 4)
               AS rho2_r4
    FROM per_arm a CROSS JOIN folds f
    """,
)
def q_ml_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data) variance
    reduction for the A/B readout every experimentation platform runs:
    the 30-day event horizon splits into a pre-period (days 1-15 -> the
    covariate X = per-user pre-period revenue cents) and an experiment
    period (days 16-30 -> the metric Y), users are assigned to arms by
    the content-stable md5 bucket of user_id (the q_llm_split_assign
    law: resharding-invariant, RNG-free), and the adjusted metric is
    Y' = Y - theta * (X - mean(X)) with theta = cov(X,Y)/var(X) POOLED
    across arms (the standard CUPED estimator - pooling keeps theta
    treatment-independent).

    Determinism/exactness: per-user X,Y are exact int64 cents; the five
    pooled sufficient statistics (Sx, Sy and the quadratics Sxx, Sxy,
    Syy) fold with the quadratic product cast to DECIMAL(38,0)/HUGEINT
    INSIDE the multiply (the granger 10000x lesson: per-user cents
    reach ~1e6 so x*y ~ 1e12 and the n-scaled fold products n*Sxy reach
    ~1e20 at the 3000x decade - two decades over int64, five under
    DECIMAL(38)). theta, the adjusted mean, and the variance-reduction
    ratio rho^2 = num^2/(den*deny) evaluate as IDENTICAL double
    expression trees in both engines from those exact integers (round-6
    / round-4); the unadjusted mean reports as exact half-up
    milli-cents. num^2 would overflow DECIMAL(38) at ~1e20 which is WHY
    rho^2 is a double tree, not a wider integer (the ttest_paired d^2
    precedent).

    Plan: one user-keyed conditional aggregate over the events scan
    (map-side combined - the only corpus-scale shuffle), then a 1-row
    global fold and a 2-row arm fold broadcast-crossed. At 100 TB: one
    shuffle keyed on user_id, then constant-size folds."""
    from khose_spark.operators.curation import hash_bucket

    ev = t(spark, sf_dir, "events")
    value_cents = cents(F.col("value"))
    pre = F.to_date("ts") < F.lit("2024-01-16")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(pre, value_cents)), F.lit(0))
        .cast("long")
        .alias("x"),
        F.coalesce(F.sum(F.when(~pre, value_cents)), F.lit(0))
        .cast("long")
        .alias("y"),
    ).select(
        F.when(hash_bucket(F.col("user_id")) < 50, "A")
        .otherwise("B")
        .alias("arm"),
        "x",
        "y",
    )
    d38 = "decimal(38,0)"
    g = per_user.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy"),
    )
    folds = g.select(
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("deny"),
    )
    per_arm = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("sxa"),
        F.sum("y").cast("long").alias("sya"),
    )
    theta = F.col("num").cast("double") / F.col("den").cast("double")
    return per_arm.crossJoin(F.broadcast(folds)).select(
        "arm",
        "n_users",
        F.col("sya").alias("sum_y_cents"),
        F.expr(
            "CAST((2 * 1000 * CAST(sya AS DECIMAL(38,0)) + n_users)"
            " DIV (2 * n_users) AS BIGINT)"
        ).alias("mean_y_milli"),
        F.round(theta, 6).alias("theta_r6"),
        F.round(
            F.col("sya").cast("double") / F.col("n_users")
            - theta
            * (
                F.col("sxa").cast("double") / F.col("n_users")
                - F.col("sx").cast("double") / F.col("n").cast("double")
            ),
            4,
        ).alias("mean_adj_r4"),
        F.round(
            F.col("num").cast("double")
            * F.col("num").cast("double")
            / (F.col("den").cast("double") * F.col("deny").cast("double")),
            4,
        ).alias("rho2_r4"),
    )


@query(
    "q_ml_wilcoxon_signed",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CASE WHEN event_type = 'click'
                  THEN {sql_cents('value')}
                  END) AS BIGINT) AS c_click,
             CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN {sql_cents('value')}
                  END) AS BIGINT) AS c_purch
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
      HAVING count(CASE WHEN event_type = 'click' THEN 1 END) > 0
         AND count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
    ), diffs AS (
      SELECT c_click - c_purch AS dv, abs(c_click - c_purch) AS ad
      FROM daily WHERE c_click <> c_purch
    ), ranked AS (
      SELECT dv,
             2 * rank() OVER (ORDER BY ad ASC)
               + count(*) OVER (PARTITION BY ad) - 1 AS mid2,
             count(*) OVER (PARTITION BY ad) AS tsz
      FROM diffs
    ), folds AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN dv > 0 THEN mid2 ELSE 0 END) AS BIGINT)
                 AS w2p,
             CAST(sum(CASE WHEN dv < 0 THEN mid2 ELSE 0 END) AS BIGINT)
                 AS w2m,
             CAST(sum(tsz * tsz - 1) AS BIGINT) AS tie_cube
      FROM ranked
    )
    SELECT n AS n_pairs, w2p AS w2_plus, w2m AS w2_minus, tie_cube,
           round((2 * w2p - n * (n + 1))
                 / (2 * sqrt((2.0 * n * (n + 1) * (2 * n + 1) - tie_cube)
                             / 12.0)), 4) AS z_r4
    FROM folds
    """,
)
def q_ml_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on the paired daily (click, purchase)
    revenue series - the nonparametric member of the PAIRED family
    (q_ml_ttest_paired assumes normal deltas; this ranks them), closing
    the 2x2 test lattice: independent/parametric = welch_t,
    independent/rank = mann_whitney, paired/parametric = ttest_paired,
    paired/rank = THIS. Days observing both types pair; zero deltas
    drop (classical Wilcoxon zero-handling).

    Determinism/exactness: |delta| midranks use the DOUBLED-rank lattice
    (mid2 = 2*rank + ties - 1, the spearman/friedman trick) so the
    positive- and negative-rank sums W2+/W2- are exact int64; the tie
    correction folds Sum_g(t^3 - t) = Sum_rows(t^2 - 1) exactly (each
    row of a tie group of size t contributes t^2 - 1 - the rowwise
    identity that avoids a second grouping); the normal-approximation
    z = (W2+ - n(n+1)/2) / sqrt(Var[W2+]) with
    Var[W2+] = (2n(n+1)(2n+1) - tie_cube)/12 evaluates as ONE identical
    double expression (round-4) from those integers, doubled through
    2*W2+ - n(n+1) to stay integer-exact in the numerator. All carriers
    are horizon-bounded (n = days <= ~30 at the fixture, ~3650 at a
    10-year horizon -> mid2 <= 2n, W2 <= 2n^2 ~ 2.7e7: >11 int64
    decades at any factor, because the day spine does not scale with
    corpus size).

    Plan: one (type-filtered, pushed) day rollup shuffle with map-side
    combine, then windows and folds over the days-bounded relation
    (<= 31 rows at the fixture; bounded by the calendar at any SF)."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    value_cents = cents(F.col("value"))
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", value_cents))
            .cast("long")
            .alias("c_click"),
            F.sum(F.when(F.col("event_type") == "purchase", value_cents))
            .cast("long")
            .alias("c_purch"),
        )
        .filter(
            F.col("c_click").isNotNull() & F.col("c_purch").isNotNull()
        )
    )
    diffs = daily.select(
        (F.col("c_click") - F.col("c_purch")).alias("dv"),
        F.abs(F.col("c_click") - F.col("c_purch")).alias("ad"),
    ).filter(F.col("dv") != 0)
    w_rank = Window.orderBy(F.asc("ad"))
    w_tie = Window.partitionBy("ad")
    ranked = diffs.select(
        "dv",
        (
            2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1
        ).cast("long").alias("mid2"),
        F.count(F.lit(1)).over(w_tie).cast("long").alias("tsz"),
    )
    folds = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("dv") > 0, F.col("mid2")).otherwise(0))
        .cast("long")
        .alias("w2p"),
        F.sum(F.when(F.col("dv") < 0, F.col("mid2")).otherwise(0))
        .cast("long")
        .alias("w2m"),
        F.sum(F.col("tsz") * F.col("tsz") - 1).cast("long").alias("tie_cube"),
    )
    n = F.col("n")
    return folds.select(
        n.alias("n_pairs"),
        F.col("w2p").alias("w2_plus"),
        F.col("w2m").alias("w2_minus"),
        "tie_cube",
        F.round(
            (2 * F.col("w2p") - n * (n + 1)).cast("double")
            / (
                2.0
                * F.sqrt(
                    (
                        2.0 * n.cast("double") * (n + 1) * (2 * n + 1)
                        - F.col("tie_cube")
                    )
                    / 12.0
                )
            ),
            4,
        ).alias("z_r4"),
    )


def _arm_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, n, sy, syy) per A/B arm: users split by content-stable md5
    bucket (grp 0 = A), y each user's post-period int64 cents, syy in
    DECIMAL(38,0)."""
    from khose_spark.operators.curation import hash_bucket

    ev = t(spark, sf_dir, "events")
    value_cents = cents(F.col("value"))
    post = F.to_date("ts") >= F.lit("2024-01-16")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(post, value_cents)), F.lit(0))
        .cast("long")
        .alias("y"),
    ).select(
        F.when(hash_bucket(F.col("user_id")) < 50, 0).otherwise(1).alias("grp"),
        "y",
    )
    return per_user.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )


# SQL twin of :func:`_arm_sums`: the ``arm`` and ``g`` CTEs, the last
# left open.
_SQL_ARM_SUMS = f"""
    WITH arm AS (
      SELECT CASE WHEN ((
               (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 4096
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 256
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4, 1)) - 1)
             ) % 100) < 50 THEN 0 ELSE 1 END AS grp,
             CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                   THEN {sql_cents('value')} END), 0)
                  AS BIGINT) AS y
      FROM events GROUP BY user_id
    ), g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM arm GROUP BY grp"""


@query(
    "q_ml_power_mde",
    oracle=f"""
{_SQL_ARM_SUMS}
    ), fold AS (
      SELECT
        max(CASE WHEN grp = 0 THEN n END) AS n_a,
        max(CASE WHEN grp = 1 THEN n END) AS n_b,
        max(CASE WHEN grp = 0 THEN sy END) AS sy_a,
        (sum(CAST(syy AS DOUBLE))
         - sum(CAST(sy AS DOUBLE) * sy / n)) AS ss_pool
      FROM g
    ), stats AS (
      SELECT n_a, n_b, sy_a,
             ss_pool / (n_a + n_b - 2) AS s2
      FROM fold
    )
    SELECT n_a, n_b,
           CAST((2 * 1000 * CAST(sy_a AS HUGEINT) + n_a)
                // (2 * n_a) AS BIGINT) AS mean_a_milli,
           round(s2, 2) AS sigma2_r2,
           round((1.959963984540054e0 + 0.8416212335729143e0)
                 * sqrt(s2 * (1.0 / n_a + 1.0 / n_b)), 4) AS mde_cents_r4,
           round(1000.0 * (1.959963984540054e0 + 0.8416212335729143e0)
                 * sqrt(s2 * (1.0 / n_a + 1.0 / n_b))
                 / (CAST(sy_a AS DOUBLE) / n_a), 4) AS mde_rel_permille_r4,
           CAST(ceil(2.0 * s2
                 * (1.959963984540054e0 + 0.8416212335729143e0)
                 * (1.959963984540054e0 + 0.8416212335729143e0)
                 / ((0.05 * CAST(sy_a AS DOUBLE) / n_a)
                    * (0.05 * CAST(sy_a AS DOUBLE) / n_a)))
                AS BIGINT) AS n_req_5pct
    FROM stats
    """,
)
def q_ml_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis / minimum-detectable-effect for the two-arm
    experiment q_ml_cuped reads out - the OTHER side of the
    experimentation loop: BEFORE peeking at lift, what effect size
    could this traffic even detect? At alpha = 5% two-sided and 80%
    power the classical two-sample formula gives
    MDE = (z_0.975 + z_0.8) * sqrt(s2*(1/nA + 1/nB)) and the required
    per-arm n for a 5%-of-control-mean effect
    n = 2*s2*(z_a+z_b)^2 / delta^2 - the dashboard numbers that stop
    teams shipping underpowered tests.

    Determinism/exactness: the metric is the CUPED experiment-period
    per-user revenue (same arm assignment law - content-stable md5
    buckets); per-arm n, Sum(y), Sum(y^2) are exact (quadratic folded
    DECIMAL(38,0)/HUGEINT, cast inside the product - the cuped
    carrier); the pooled variance s2 = (SS_A + SS_B)/(n_A + n_B - 2)
    and both MDE forms evaluate as IDENTICAL double trees from those
    integers with the z constants pinned as 17-digit literals
    (1.959963984540054, 0.8416212335729143 - both engines parse the
    same IEEE double, so the tree is bit-identical); control mean
    reports as exact half-up milli-cents; n_req applies ceil to the
    identical double (no boundary float ever differs).

    Plan: one user-keyed conditional aggregate (the only corpus
    shuffle), a 2-row arm fold, a 1-row pivot. Constant-size past the
    first shuffle at any SF."""
    g = _arm_sums(spark, sf_dir)
    fold = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == 0, F.col("sy"))).alias("sy_a"),
        (
            F.sum(F.col("syy").cast("double"))
            - F.sum(F.col("sy").cast("double") * F.col("sy") / F.col("n"))
        ).alias("ss_pool"),
    )
    s2 = F.col("ss_pool") / (F.col("n_a") + F.col("n_b") - 2)
    zz = 1.959963984540054 + 0.8416212335729143
    mean_a = F.col("sy_a").cast("double") / F.col("n_a")
    mde = zz * F.sqrt(
        s2 * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return fold.select(
        "n_a",
        "n_b",
        F.expr(
            "CAST((2 * 1000 * CAST(sy_a AS DECIMAL(38,0)) + n_a)"
            " DIV (2 * n_a) AS BIGINT)"
        ).alias("mean_a_milli"),
        F.round(s2, 2).alias("sigma2_r2"),
        F.round(mde, 4).alias("mde_cents_r4"),
        # Mirror the oracle's left-associative trees exactly:
        # (1000.0*zz)*sqrt(...)/mean_a and delta=(0.05*sy_a)/n_a —
        # NOT 1000.0*(zz*sqrt) / 0.05*(sy_a/n_a), which can differ by
        # 1 ulp and flip the round()/ceil() boundary across engines.
        F.round(
            (1000.0 * zz)
            * F.sqrt(s2 * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
            / mean_a,
            4,
        ).alias("mde_rel_permille_r4"),
        F.ceil(
            2.0 * s2 * zz * zz
            / (
                (0.05 * F.col("sy_a").cast("double") / F.col("n_a"))
                * (0.05 * F.col("sy_a").cast("double") / F.col("n_a"))
            )
        )
        .cast("long")
        .alias("n_req_5pct"),
    )


@query(
    "q_ts_engle_granger",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CASE WHEN event_type = 'click'
                  THEN {sql_cents('value')}
                  END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN {sql_cents('value')}
                  END) AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
      HAVING count(CASE WHEN event_type = 'click' THEN 1 END) > 0
         AND count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
    ), ols AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy
      FROM daily
    ), coef AS (
      SELECT n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS beta,
             (CAST(sy AS DOUBLE)
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS alpha
      FROM ols
    ), resid AS (
      SELECT d.d,
             CAST(d.y AS DOUBLE) - c.alpha - c.beta * d.x AS e
      FROM daily d CROSS JOIN coef c
    ), lagged AS (
      SELECT e,
             lag(e) OVER (ORDER BY d) AS e0
      FROM resid
    ), df AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             sum(e0 * e0) AS s_ee,
             sum(e0 * (e - e0)) AS s_ed,
             sum((e - e0) * (e - e0)) AS s_dd
      FROM lagged WHERE e0 IS NOT NULL
    )
    SELECT CAST(c.n AS BIGINT) AS n_days,
           round(c.beta, 6) AS beta_r6,
           round(c.alpha, 4) AS alpha_r4,
           round(df.s_ed / df.s_ee, 6) AS rho_r6,
           round((df.s_ed / df.s_ee)
                 / (sqrt((df.s_dd - df.s_ed * df.s_ed / df.s_ee)
                         / (df.m - 1)) / sqrt(df.s_ee)), 4) AS t_df_r4,
           CAST(CASE WHEN (df.s_ed / df.s_ee)
                 / (sqrt((df.s_dd - df.s_ed * df.s_ed / df.s_ee)
                         / (df.m - 1)) / sqrt(df.s_ee)) < -3.37e0
                THEN 1 ELSE 0 END AS BIGINT) AS coint_5pct
    FROM coef c CROSS JOIN df
    """,
)
def q_ts_engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration test between the click and
    purchase daily-revenue series - the do-these-series-share-a-trend
    question that correlation (q_ts_cross_correlation) cannot answer:
    step 1 fits the long-run OLS relation y = alpha + beta*x in closed
    form; step 2 runs the Dickey-Fuller regression
    delta_e_t = rho * e_{t-1} on the residuals - if rho pulls
    deviations back (t_DF below the -3.37 Engle-Granger 5% critical
    value), the pair is cointegrated (prices co-move; a spread
    monitor / pairs signal is stable). Granger-lag1 asks who LEADS;
    this asks whether a LONG-RUN equilibrium ties the levels.

    Determinism/exactness: OLS sufficient statistics are exact
    (quadratics folded DECIMAL(38,0)/HUGEINT, cast inside the product
    - the cuped carrier; n*Sxy ~ 1e24 at the 3000x decade, 14 decades
    inside DECIMAL(38)); alpha/beta and the residuals
    e_t = y_t - alpha - beta*x_t are IDENTICAL double trees from
    those integers (a residual INTEGER carrier n*den*e_t would cross
    DECIMAL(38) at the events-10000x decade - measured ~1e38 - which
    is WHY the residual stage is double by design, not a wider
    integer); the DF sums fold <= 30 identical doubles (the KL-fold
    precedent) and rho/t_DF round at 6/4. The 5% flag compares the
    identical unrounded tree against the -3.37 literal in both
    engines.

    Plan: one pushed type-filtered (day) rollup - the only corpus
    shuffle - then 1-row OLS fold broadcast-crossed back, a lag window
    over the days-bounded residual relation, and a 1-row DF fold."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    value_cents = cents(F.col("value"))
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", value_cents))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", value_cents))
            .cast("long")
            .alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .transform(checkpoint)  # days-bounded; feeds OLS fold AND residuals
    )
    d38 = "decimal(38,0)"
    ols = daily.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    coef = ols.select(
        "n",
        beta.alias("beta"),
        (
            (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("alpha"),
    ).transform(checkpoint)  # 1 row; feeds residuals AND the output
    resid = daily.crossJoin(F.broadcast(coef)).select(
        "d",
        (
            F.col("y").cast("double")
            - F.col("alpha")
            - F.col("beta") * F.col("x")
        ).alias("e"),
    )
    w = Window.orderBy("d")
    lagged = resid.select(
        "e", F.lag("e").over(w).alias("e0")
    ).filter(F.col("e0").isNotNull())
    df = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("e0") * F.col("e0")).alias("s_ee"),
        F.sum(F.col("e0") * (F.col("e") - F.col("e0"))).alias("s_ed"),
        F.sum(
            (F.col("e") - F.col("e0")) * (F.col("e") - F.col("e0"))
        ).alias("s_dd"),
    )
    rho = F.col("s_ed") / F.col("s_ee")
    t_df = rho / (
        F.sqrt(
            (F.col("s_dd") - F.col("s_ed") * F.col("s_ed") / F.col("s_ee"))
            / (F.col("m") - 1)
        )
        / F.sqrt(F.col("s_ee"))
    )
    return coef.crossJoin(F.broadcast(df)).select(
        F.col("n").cast("long").alias("n_days"),
        F.round("beta", 6).alias("beta_r6"),
        F.round("alpha", 4).alias("alpha_r4"),
        F.round(rho, 6).alias("rho_r6"),
        F.round(t_df, 4).alias("t_df_r4"),
        F.when(t_df < -3.37, 1).otherwise(0).cast("long").alias("coint_5pct"),
    )


@query(
    "q_ml_tost",
    oracle=f"""
{_SQL_ARM_SUMS}
    ), fold AS (
      SELECT
        max(CASE WHEN grp = 0 THEN n END) AS n_a,
        max(CASE WHEN grp = 1 THEN n END) AS n_b,
        max(CASE WHEN grp = 0 THEN sy END) AS sy_a,
        max(CASE WHEN grp = 1 THEN sy END) AS sy_b,
        (sum(CAST(syy AS DOUBLE))
         - sum(CAST(sy AS DOUBLE) * sy / n)) AS ss_pool
      FROM g
    ), stats AS (
      SELECT n_a, n_b, sy_a, sy_b,
             CAST(sy_b AS DOUBLE) / n_b - CAST(sy_a AS DOUBLE) / n_a
               AS diff,
             0.05 * CAST(sy_a AS DOUBLE) / n_a AS delta,
             sqrt((ss_pool / (n_a + n_b - 2))
                  * (1.0 / n_a + 1.0 / n_b)) AS se
      FROM fold
    )
    SELECT n_a, n_b,
           round(diff, 4) AS diff_cents_r4,
           round(delta, 4) AS delta_cents_r4,
           round((diff + delta) / se, 4) AS t_lower_r4,
           round((delta - diff) / se, 4) AS t_upper_r4,
           CAST(CASE WHEN (diff + delta) / se > 1.6448536269514722e0
                      AND (delta - diff) / se > 1.6448536269514722e0
                THEN 1 ELSE 0 END AS BIGINT) AS equivalent_05
    FROM stats
    """,
)
def q_ml_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests) on the experiment
    arms - the third leg of the A/B family: chi2/welch DETECT an
    effect, power_mde asks what is detectable, TOST PROVES ABSENCE -
    "the arms are equivalent within +/-delta" (the claim every
    no-regression launch review actually needs; a non-significant
    t-test is NOT evidence of equivalence). Margin delta = 5% of the
    control mean; equivalence at alpha = 5% iff BOTH one-sided
    statistics (diff + delta)/se and (delta - diff)/se exceed
    z_0.95.

    Determinism/exactness: same metric and arm law as
    q_ml_cuped/q_ml_power_mde (content-stable md5 buckets, exact
    int64 cent sums, quadratics in DECIMAL(38,0)/HUGEINT with the
    cast inside the product - the shared cuped_quadratic margin law);
    diff, delta, the pooled se and both t's evaluate as IDENTICAL
    double trees with z_0.95 pinned as the 17-digit literal
    1.6448536269514722 (e0-suffixed in the oracle - the power_mde
    DECIMAL-folding lesson); the flag compares the identical trees in
    both engines.

    Plan: one user-keyed conditional aggregate (the only corpus
    shuffle), a 2-row arm fold, a 1-row pivot - the power_mde plan."""
    g = _arm_sums(spark, sf_dir)
    fold = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == 0, F.col("sy"))).alias("sy_a"),
        F.max(F.when(F.col("grp") == 1, F.col("sy"))).alias("sy_b"),
        (
            F.sum(F.col("syy").cast("double"))
            - F.sum(F.col("sy").cast("double") * F.col("sy") / F.col("n"))
        ).alias("ss_pool"),
    )
    diff = (
        F.col("sy_b").cast("double") / F.col("n_b")
        - F.col("sy_a").cast("double") / F.col("n_a")
    )
    delta = 0.05 * F.col("sy_a").cast("double") / F.col("n_a")
    se = F.sqrt(
        (F.col("ss_pool") / (F.col("n_a") + F.col("n_b") - 2))
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    z95 = 1.6448536269514722
    return fold.select(
        "n_a",
        "n_b",
        F.round(diff, 4).alias("diff_cents_r4"),
        F.round(delta, 4).alias("delta_cents_r4"),
        F.round((diff + delta) / se, 4).alias("t_lower_r4"),
        F.round((delta - diff) / se, 4).alias("t_upper_r4"),
        F.when(
            ((diff + delta) / se > z95) & ((delta - diff) / se > z95), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("equivalent_05"),
    )


@query(
    "q_ml_ridge_2f",
    oracle=f"""
{_SQL_OLS2_MOMENTS}
    ), corr AS (
      SELECT n, m1, m2, my, c11, c22, cyy,
             c12 / sqrt(c11 * c22) AS r12,
             c1y / sqrt(c11 * cyy) AS r1y,
             c2y / sqrt(c22 * cyy) AS r2y
      FROM alg
    ), std AS (
      SELECT n, m1, m2, my, c11, c22, cyy, r12, r1y, r2y,
             ((1.0 + 0.1) * r1y - r12 * r2y)
               / ((1.0 + 0.1) * (1.0 + 0.1) - r12 * r12) AS b1s,
             ((1.0 + 0.1) * r2y - r12 * r1y)
               / ((1.0 + 0.1) * (1.0 + 0.1) - r12 * r12) AS b2s,
             (r1y - r12 * r2y) / (1.0 - r12 * r12) AS b1s_ols,
             (r2y - r12 * r1y) / (1.0 - r12 * r12) AS b2s_ols
      FROM corr
    ), unstd AS (
      SELECT n, m1, m2, my, b1s, b2s, b1s_ols, b2s_ols,
             b1s * sqrt(cyy / c11) AS b1,
             b2s * sqrt(cyy / c22) AS b2
      FROM std
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(my - b1 * m1 - b2 * m2, 6) AS b0,
           round(b1, 6) AS b1,
           round(b2, 6) AS b2,
           round(b1s / b1s_ols, 6) AS shrink1_r6,
           round(b2s / b2s_ols, 6) AS shrink2_r6
    FROM unstd
    """,
)
def q_ml_ridge_2f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ridge regression in closed form — the regularized
    sibling of q_ml_linreg_2f on the SAME nine exact sufficient
    statistics (line count and total quantity predicting the order's
    whole-dollar total). Solved in the STANDARDIZED (correlation)
    basis, where the penalty is unit-free and replication-invariant:
    b_std = ((1+L)I + offdiag(r12))^-1 [r1y r2y] with the pinned
    L = 0.1, then unstandardized via sqrt(cyy/cjj). The shrink ratios
    b_ridge_std / b_ols_std report what the penalty bought — the
    number a feature-stability readout actually wants.

    Exactness: identical integer/DECIMAL(38,0) sufficient-statistic
    carriers as q_ml_linreg_2f (same CTE prefix, same widened s2y/syy
    — the 1000x overflow lesson inherited at registration); the
    correlation/ridge algebra folds ~15 identical double terms in both
    engines, round-6.

    Plan: identical to linreg_2f — one per-order feature agg (the only
    fact-scale shuffle), one join to orders, one 1-row reduce; the
    ridge solve is scalar algebra on the 1-row relation. No iteration,
    no driver-side solver, any corpus size."""
    alg = _ols2_moments(spark, sf_dir)
    corr = alg.select(
        "n", "m1", "m2", "my", "c11", "c22", "cyy",
        (F.col("c12") / F.sqrt(F.col("c11") * F.col("c22"))).alias("r12"),
        (F.col("c1y") / F.sqrt(F.col("c11") * F.col("cyy"))).alias("r1y"),
        (F.col("c2y") / F.sqrt(F.col("c22") * F.col("cyy"))).alias("r2y"),
    )
    lam = F.lit(1.0) + F.lit(0.1)
    rdet = lam * lam - F.col("r12") * F.col("r12")
    std = corr.select(
        "n", "m1", "m2", "my", "c11", "c22", "cyy", "r12", "r1y", "r2y",
        ((lam * F.col("r1y") - F.col("r12") * F.col("r2y")) / rdet).alias(
            "b1s"
        ),
        ((lam * F.col("r2y") - F.col("r12") * F.col("r1y")) / rdet).alias(
            "b2s"
        ),
        (
            (F.col("r1y") - F.col("r12") * F.col("r2y"))
            / (F.lit(1.0) - F.col("r12") * F.col("r12"))
        ).alias("b1s_ols"),
        (
            (F.col("r2y") - F.col("r12") * F.col("r1y"))
            / (F.lit(1.0) - F.col("r12") * F.col("r12"))
        ).alias("b2s_ols"),
    )
    unstd = std.select(
        "n", "m1", "m2", "my", "b1s", "b2s", "b1s_ols", "b2s_ols",
        (F.col("b1s") * F.sqrt(F.col("cyy") / F.col("c11"))).alias("b1"),
        (F.col("b2s") * F.sqrt(F.col("cyy") / F.col("c22"))).alias("b2"),
    )
    return unstd.select(
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("my")
            - F.col("b1") * F.col("m1")
            - F.col("b2") * F.col("m2"),
            6,
        ).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
        F.round(F.col("b1s") / F.col("b1s_ols"), 6).alias("shrink1_r6"),
        F.round(F.col("b2s") / F.col("b2s_ols"), 6).alias("shrink2_r6"),
    )
