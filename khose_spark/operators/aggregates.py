"""Aggregation operators (SURVEY.md §2.4).

All floating aggregates are wrapped in round(, 2) — Spark's partial-agg
summation order differs from DuckDB's, so unrounded doubles would break
the order-insensitive value-hash (SURVEY.md §4.2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.operators.curation import _sql_hash_bucket, hash_bucket
from khose_spark.registry import query
from khose_spark.sqlutil import (
    cents,
    dec_round,
    dec_sum,
    sql_cents,
    sql_dec_round,
    sql_dec_sum,
)
from khose_spark.tables import t


@query(
    "q_agg_flagship_pricing",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_dec_sum('l_quantity', 2)}                                          AS sum_qty,
      {sql_dec_sum('l_extendedprice', 2)}                                     AS sum_base_price,
      {sql_dec_sum('l_extendedprice * (1 - l_discount)', 4)}                  AS sum_disc_price,
      {sql_dec_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)}    AS sum_charge,
      round(avg(l_quantity), 2)                                               AS avg_qty,
      round(avg(l_extendedprice), 2)                                          AS avg_price,
      round(avg(l_discount), 2)                                               AS avg_disc,
      count(*)                                                                AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_flagship_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (= entry()): TPC-H Q1-shaped pricing summary over lineitem.

    Spark plan: parquet scan (predicate on l_shipdate pushed to the
    row-group level, only 7 columns read) -> partial hash-aggregate on
    each partition -> single shuffle on the 6-value group key -> final
    hash-aggregate. At 100 TB this stays a one-shuffle map-side-combine
    plan; the group-key cardinality (|returnflag|x|linestatus| = 6) makes
    the final stage trivially small.
    """
    li = t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(F.col("l_quantity"), 2).alias("sum_qty"),
            dec_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dec_sum(disc, 4).alias("sum_disc_price"),
            dec_sum(disc * (1 + F.col("l_tax")), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q_agg_count_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group — Spark plans the two-phase
    expand+aggregate; at 100 TB the partial distinct happens map-side."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query("q_agg_approx_distinct")  # rows-only: HLL estimate is engine-specific
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++). Declared rows-only
    (SURVEY.md §2.4): the estimate is not hash-comparable across engines.
    This is the 100 TB path for distinct-cardinality: one pass, fixed
    memory, no expand."""
    return t(spark, sf_dir, "events").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals; nation/region dims are broadcast."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(F.count(F.lit(1)).alias("n_cust"))


@query(
    "q_agg_cube",
    oracle=f"""
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
           count(*) AS n,
           {sql_dec_sum('value', 2)} AS sum_value
    FROM events
    GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day). Day rendered as an ISO string —
    date-typed outputs hash differently across engines (pandas dtype)."""
    e = t(spark, sf_dir, "events").withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
    return e.cube("event_type", "d").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(F.col("value"), 2).alias("sum_value"),
    )


@query(
    "q_agg_grouping_sets",
    oracle=f"""
    SELECT c_mktsegment, c_nationkey,
           count(*) AS n_cust,
           {sql_dec_sum('c_acctbal', 2)} AS sum_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL entry point (EP2, SURVEY.md §3.2)
    — DataFrame and SQL converge on the same logical plan."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("khose_customer_gs")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey,
               count(*) AS n_cust,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(28,2))), 2) AS DOUBLE) AS sum_bal
        FROM khose_customer_gs
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@query(
    "q_agg_filtered",
    oracle="""
    SELECT user_id,
           CAST(round(sum(CAST(value AS DECIMAL(28,2)))
                      FILTER (WHERE event_type = 'purchase'), 2) AS DOUBLE)
             AS purchase_value,
           count(*) FILTER (WHERE event_type = 'click') AS n_clicks,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (pivot-style) aggregates via sum(CASE WHEN ...)."""
    e = t(spark, sf_dir, "events")
    purchase = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.groupBy("user_id").agg(
        F.round(
            F.sum(purchase.cast("decimal(28,2)")), 2
        ).cast("double").alias("purchase_value"),
        F.count(F.when(F.col("event_type") == "click", F.lit(1))).alias("n_clicks"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 2)                 AS sd_qty,
           round(var_samp(l_extendedprice), 2)               AS var_price,
           round(corr(l_quantity, l_extendedprice), 4)       AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/var/corr/covar). Continuous values
    over large groups — plain round() is safe here (sqlutil law)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 2).alias("sd_qty"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qty_price"),
    )


@query(
    "q_agg_percentile",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation in both engines). Exact
    percentile needs the whole group; the approx_percentile sketch is the
    100 TB alternative when error tolerance allows."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
    )


@query(
    "q_agg_collect",
    oracle="""
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list -> sort_array -> array_join: deterministic string
    rendering of a per-group list (sorted => hashable, SURVEY.md §2.4)."""
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"))
    )


@query(
    "q_agg_min_max_by",
    oracle="""
    SELECT event_type, user_id AS top_user, event_id AS top_event
    FROM (
      SELECT event_type, user_id, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by with a (value, event_id) struct key — the struct tiebreak
    makes the argmax deterministic. Oracle uses the row_number idiom; the
    Spark side is a single-pass aggregate (no window, no second shuffle)."""
    e = t(spark, sf_dir, "events")
    key = F.struct(F.col("value"), F.col("event_id"))
    return e.groupBy("event_type").agg(
        F.max_by("user_id", key).alias("top_user"),
        F.max_by("event_id", key).alias("top_event"),
    )


@query(
    "q_agg_having",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_cust
    FROM customer
    GROUP BY c_mktsegment
    HAVING count(*) > 25
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = post-aggregation filter."""
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .filter(F.col("n_cust") > 25)
    )


@query(
    "q_agg_mode_det",
    oracle="""
    SELECT user_id, event_type AS mode_type, n AS mode_n
    FROM (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type ASC) AS rn
      FROM (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
      )
    ) WHERE rn = 1
    """,
)
def q_agg_mode_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: each user's most frequent event
    type, ties broken by type name ascending. Spark's mode() leaves tie
    order undefined, so the engine form is count + min_by over a
    (-count, type) struct — two shuffles on dense keys, no window over
    raw events (the oracle uses the row_number form only because DuckDB
    arg_min/arg_max reject struct keys)."""
    counts = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    key = F.struct((-F.col("n")).alias("neg_n"), F.col("event_type"))
    return counts.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("mode_type"),
        F.max("n").alias("mode_n"),
    )


@query(
    "q_agg_regression",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (least-squares slope/intercept/R²)
    of price on quantity per returnflag — the built-in regr_* family
    both engines compute from the same co-moment sums. Continuous
    outputs under round(4); single partial+final aggregation shuffle."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 4).alias("slope"),
        F.round(
            F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4
        ).alias("intercept"),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 4).alias("r2"),
        F.count("*").alias("n"),
    )


@query(
    "q_agg_moments",
    oracle="""
    WITH sums AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_quantity AS BIGINT)) AS s1,
             sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s2,
             sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT)) AS s3,
             sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, CAST(s1 AS BIGINT) AS s1,
           round((CAST(s3 AS DOUBLE)/n
                   - 3*(CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n)
                   + 2*pow(CAST(s1 AS DOUBLE)/n, 3))
                 / pow(CAST(s2 AS DOUBLE)/n - pow(CAST(s1 AS DOUBLE)/n, 2), 1.5),
                 4) AS skew,
           round((CAST(s4 AS DOUBLE)/n
                   - 4*(CAST(s1 AS DOUBLE)/n)*(CAST(s3 AS DOUBLE)/n)
                   + 6*pow(CAST(s1 AS DOUBLE)/n, 2)*(CAST(s2 AS DOUBLE)/n)
                   - 3*pow(CAST(s1 AS DOUBLE)/n, 4))
                 / pow(CAST(s2 AS DOUBLE)/n - pow(CAST(s1 AS DOUBLE)/n, 2), 2)
                 - 3, 4) AS kurt_excess
    FROM sums
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of quantity per
    returnflag, computed FROM EXACT INTEGER POWER SUMS (quantity is
    integral <= 50, so s1..s4 fit int64 exactly): both engines derive
    the moments from bit-identical integers with the same double
    formula, so the only divergence is final-ulp arithmetic — safely
    under round(4). This is also the distributed-stats pattern at
    100 TB: power sums are associative single-pass partial aggregates,
    where a naive two-pass central-moment computation would rescan."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    )
    sums = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
        F.sum(F.col("q") * F.col("q") * F.col("q")).alias("s3"),
        F.sum(F.col("q") * F.col("q") * F.col("q") * F.col("q")).alias("s4"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    m2r = F.col("s2").cast("double") / F.col("n")
    m3r = F.col("s3").cast("double") / F.col("n")
    m4r = F.col("s4").cast("double") / F.col("n")
    var = m2r - m1 * m1
    skew = (m3r - 3 * m1 * m2r + 2 * F.pow(m1, 3)) / F.pow(var, 1.5)
    kurt = (m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * F.pow(m1, 4)) / (
        var * var
    ) - 3
    return sums.select(
        "l_returnflag",
        "n",
        "s1",
        F.round(skew, 4).alias("skew"),
        F.round(kurt, 4).alias("kurt_excess"),
    )


@query(
    "q_agg_bitmap_distinct",
    oracle="""
    WITH words AS (
      SELECT event_type, user_id // 63 AS word_idx,
             bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS word
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(bit_count(word)) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_words
    FROM words GROUP BY event_type
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) via 63-bit bitmap words — the
    roaring-bitmap pattern: users hash into (word_idx = id div 63,
    bit = id mod 63) and each word is OR-folded map-side, so the
    shuffle carries one long per (type, word) instead of one row per
    distinct user and never goes through Spark's Expand rewrite (which
    q_agg_count_distinct exercises). At 100 TB with ~10^9 users this is
    ~16 MB of bitmap per event type — the standard audience-overlap /
    segmentation structure. 63 bits (not 64) keeps every shifted value
    positive, dodging DuckDB's signed-overflow checks.

    Both engines fold identical integer words, so even the per-type
    word counts hash-match exactly."""
    e = t(spark, sf_dir, "events")
    # Integer DIV, not double division + cast: both engines truncate
    # bigint division toward zero (Spark DIV == DuckDB //), and staying
    # in bigint space avoids double rounding past 2^57. PRECONDITION:
    # ids must be non-negative — for negative ids the SHIFT sides
    # diverge (Spark shiftleft masks the count to 0..63; DuckDB
    # 1::BIGINT << negative yields 0), so a production variant over
    # signed ids would bucket on abs() in both engines first.
    words = e.groupBy(
        "event_type", F.expr("user_id DIV 63").alias("word_idx")
    ).agg(
        F.expr(
            "bit_or(shiftleft(1L, CAST(user_id % 63 AS INT)))"
        ).alias("word")
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    )


@query(
    "q_agg_geomean",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(exp(avg(ln(l_extendedprice))), 4) AS geo_mean,
           round(count(*) / sum(1.0 / l_extendedprice), 4) AS harm_mean
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means of extended price per return flag —
    the two Pythagorean means SQL engines don't ship as builtins,
    composed from associative one-pass aggregates (avg of logs, sum of
    reciprocals): the standard distributed reformulation, map-side
    partial like any sum. Prices are strictly positive so ln is total.

    Both means are continuous ratios of transcendentals — never on a
    half-decimal boundary — so round(4) absorbs the partial-aggregation
    float-order noise (≤1e-12 relative at any scale)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.exp(F.avg(F.log("l_extendedprice"))), 4).alias("geo_mean"),
        F.round(
            F.count(F.lit(1)) / F.sum(F.lit(1.0) / F.col("l_extendedprice")),
            4,
        ).alias("harm_mean"),
    )


@query(
    "q_agg_mad",
    oracle=f"""
    WITH med AS (
      SELECT l_returnflag,
             {sql_dec_round('quantile_cont(l_extendedprice, 0.5)', 4)}
                 AS median_price
      FROM lineitem GROUP BY l_returnflag
    ), dev AS (
      SELECT li.l_returnflag, med.median_price,
             abs(li.l_extendedprice - med.median_price) AS adev
      FROM lineitem li JOIN med ON med.l_returnflag = li.l_returnflag
    )
    SELECT l_returnflag, count(*) AS n,
           {sql_dec_round('any_value(median_price)', 4)} AS median_price,
           {sql_dec_round('quantile_cont(adev, 0.5)', 4)} AS mad
    FROM dev GROUP BY l_returnflag
    """,
)
def q_agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion: median and median-absolute-deviation of
    extended price per return flag — the outlier-resistant stats pair
    (vs q_agg_stats' moment-based stddev) every data-quality monitor
    wants. Two exact-percentile passes with the median broadcast back
    between them.

    Determinism: exact interpolated medians of 2-decimal inputs land on
    half-digit boundaries (x.xx5) — the classic cross-engine rounding
    trap — so every emitted value goes through the DECIMAL-cast
    half-up round (sqlutil law): the 1-ulp interpolation difference
    between engines is far below the cast grid, and decimal rounding
    agrees exactly. Deviations are computed against the ROUNDED median
    so both engines measure from an identical reference point.

    Scale: percentile is a sort-based aggregate per group (3 groups) —
    at 100 TB this flips to approx_percentile (sketch, one pass,
    q_agg_approx_percentile is that twin); the shape (agg → broadcast
    join-back → agg) is unchanged."""
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        dec_round(
            F.expr("percentile(l_extendedprice, 0.5)"), 4
        ).alias("median_price")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "median_price",
        F.abs(F.col("l_extendedprice") - F.col("median_price")).alias("adev"),
    )
    return dev.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dec_round(F.first("median_price"), 4).alias("median_price"),
        dec_round(F.expr("percentile(adev, 0.5)"), 4).alias("mad"),
    )


@query(
    "q_agg_weighted_percentile",
    oracle="""
    WITH by_price AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, price, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY price) AS cum_w,
             sum(w) OVER (PARTITION BY l_returnflag) AS total_w
      FROM by_price
    )
    SELECT l_returnflag,
           CAST(any_value(total_w) AS BIGINT) AS total_weight,
           min(CASE WHEN 2 * cum_w >= total_w THEN price END)
               AS weighted_median_price
    FROM cum GROUP BY l_returnflag
    """,
)
def q_agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag (lower weighted
    median: the smallest price whose cumulative quantity weight reaches
    half the total) — the volume-aware robust center every pricing /
    inventory report wants, and an aggregate no SQL engine ships as a
    builtin.

    Exactness: quantities are integral (cast BIGINT), so the crossing
    test 2*cum_w >= total_w is pure integer arithmetic — ties at equal
    prices are collapsed into one (flag, price) row FIRST, making the
    cumulative sum order-unambiguous; the emitted median is a raw
    2-decimal input value, never an interpolation.

    Scale: one (flag, price) pre-aggregate shrinks the window input to
    the distinct-price domain; the cumulative window runs per flag over
    that reduced relation. At open-domain 100 TB the same shape runs
    over bucketed prices (the q_reshape_histogram grid) — weighted
    quantiles on a bounded grid, the standard production downgrade."""
    li = t(spark, sf_dir, "lineitem")
    by_price = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = by_price.select(
        "l_returnflag",
        "price",
        F.sum("w").over(w_cum).alias("cum_w"),
        F.sum("w").over(w_all).alias("total_w"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.first("total_w").cast("long").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cum_w") >= F.col("total_w"), F.col("price"))
        ).alias("weighted_median_price"),
    )


# Count-min sketch geometry: d=2 md5-seeded hash rows x w=1024 buckets.
_CMS_W = 1024


@query(
    "q_agg_countmin_audit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ), hashed AS (
      SELECT term,
             {_sql_hash_bucket("concat('0|', term)", _CMS_W)} AS b0,
             {_sql_hash_bucket("concat('1|', term)", _CMS_W)} AS b1
      FROM toks
    ), cms0 AS (
      SELECT b0 AS bucket, count(*) AS c FROM hashed GROUP BY b0
    ), cms1 AS (
      SELECT b1 AS bucket, count(*) AS c FROM hashed GROUP BY b1
    ), exact AS (
      SELECT term, count(*) AS exact_n,
             {_sql_hash_bucket("concat('0|', term)", _CMS_W)} AS b0,
             {_sql_hash_bucket("concat('1|', term)", _CMS_W)} AS b1
      FROM toks GROUP BY term
    )
    SELECT e.term, e.exact_n,
           CAST(least(c0.c, c1.c) AS BIGINT) AS cms_n,
           CAST(least(c0.c, c1.c) - e.exact_n AS BIGINT) AS over_n
    FROM exact e
    JOIN cms0 c0 ON c0.bucket = e.b0
    JOIN cms1 c1 ON c1.bucket = e.b1
    ORDER BY e.exact_n DESC, e.term ASC LIMIT 20
    """,
)
def q_agg_countmin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch with a DETERMINISTIC audit: a d=2 x w=1024 CMS
    over the corpus term stream is built from md5-seeded bucket hashes
    (engine-portable, so DuckDB reconstructs the identical sketch), and
    the top-20 terms compare their exact counts against the CMS
    estimate (min over rows) — the one-sided-overestimate guarantee
    measured, not assumed. The hash-checkable twin pattern
    (q_agg_count_distinct / q_agg_approx_distinct) applied to the
    second workhorse sketch.

    Plan: one token explode feeding three grid-bounded aggregates (two
    1024-bucket CMS rows + the vocabulary-bounded exact counts), then
    broadcast bucket lookups. At 100 TB the CMS aggregation is the
    whole point: 2x1024 cells of state regardless of stream size,
    map-side combined."""
    toks = t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("term")
    )
    b0 = hash_bucket(F.concat(F.lit("0|"), F.col("term")), _CMS_W)
    b1 = hash_bucket(F.concat(F.lit("1|"), F.col("term")), _CMS_W)
    hashed = toks.select("term", b0.alias("b0"), b1.alias("b1"))
    hashed = checkpoint(hashed)  # feeds cms0 + cms1 + exact
    cms0 = hashed.groupBy("b0").agg(F.count(F.lit(1)).alias("c0"))
    cms1 = hashed.groupBy("b1").agg(F.count(F.lit(1)).alias("c1"))
    exact = hashed.groupBy("term").agg(
        F.count(F.lit(1)).alias("exact_n"),
        F.min("b0").alias("b0"),
        F.min("b1").alias("b1"),
    )
    return (
        exact.join(F.broadcast(cms0), "b0")
        .join(F.broadcast(cms1), "b1")
        .select(
            "term",
            "exact_n",
            F.least(F.col("c0"), F.col("c1")).alias("cms_n"),
            (F.least(F.col("c0"), F.col("c1")) - F.col("exact_n")).alias(
                "over_n"
            ),
        )
        .orderBy(F.col("exact_n").desc(), F.col("term").asc())
        .limit(20)
    )


# Binned-quantile sketch geometry: the $1k AUC band grid; audited
# quantiles in permille.
_QBIN_CENTS = 100_000
_QBIN_QS = (500, 900, 990)


@query(
    "q_agg_quantile_bin_audit",
    oracle=f"""
    WITH cents AS (
      SELECT {sql_cents('o_totalprice')}
                 AS c
      FROM orders
    ), bands AS (
      SELECT c // {_QBIN_CENTS} AS band, count(*) AS n
      FROM cents GROUP BY 1
    ), cum AS (
      SELECT band,
             CAST(sum(n) OVER (ORDER BY band) AS BIGINT) AS cum_n,
             CAST(sum(n) OVER () AS BIGINT) AS n_total
      FROM bands
    ), grid AS (
      SELECT * FROM (VALUES {", ".join(f"({q})" for q in _QBIN_QS)})
        g(q_permille)
    ), est AS (
      SELECT g.q_permille,
             CAST(min(cum.band + 1) * {_QBIN_CENTS} AS BIGINT)
                 AS est_upper_cents
      FROM grid g JOIN cum
        ON cum.cum_n * 1000 >= g.q_permille * cum.n_total
      GROUP BY g.q_permille
    ), exact AS (
      SELECT {", ".join(
        f"CAST(round(quantile_cont(c, {q / 1000.0}), 0) AS BIGINT)"
        f" AS e{q}" for q in _QBIN_QS)}
      FROM cents
    )
    SELECT q_permille,
           CASE q_permille {" ".join(
               f"WHEN {q} THEN e{q}" for q in _QBIN_QS)} END
               AS exact_cents,
           est_upper_cents,
           abs(est_upper_cents - CASE q_permille {" ".join(
               f"WHEN {q} THEN e{q}" for q in _QBIN_QS)} END)
               AS abs_err_cents
    FROM est CROSS JOIN exact
    ORDER BY q_permille
    """,
)
def q_agg_quantile_bin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned-quantile sketch with a MEASURED error: p50/p90/p99 of the
    order total estimated from the fixed $1k-band histogram (estimate =
    upper bound of the first band whose cumulative count reaches the
    integer rank — the compare is cum·1000 >= q·n, never a float), set
    against the engines' certified-identical exact interpolated
    percentile, with the absolute error in cents. Completes the
    sketch-audit family (q_agg_countmin_audit, q_agg_approx_distinct's
    exact twin): at 100 TB only the grid-bounded histogram is
    maintainable incrementally; this key prices the accuracy you give
    up for that.

    Plan: one map-side banding + grid-bounded histogram + cumulative
    windows over ~500 bands + a 3-row quantile-grid join; the exact
    percentile runs beside it as the (already-certified) reference."""
    cents = t(spark, sf_dir, "orders").select(
        F.expr(
            sql_cents("o_totalprice")
        ).alias("c")
    ).transform(checkpoint)  # feeds the histogram + the exact reference
    bands = cents.groupBy(
        F.expr(f"c DIV {_QBIN_CENTS}").alias("band")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bands.select(
        "band",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n").over(w_all).alias("n_total"),
    )
    grid = spark.createDataFrame(
        [(q,) for q in _QBIN_QS], "q_permille bigint"
    )
    est = (
        F.broadcast(grid)
        .join(
            cum,
            cum.cum_n * 1000 >= F.col("q_permille") * cum.n_total,
        )
        .groupBy("q_permille")
        .agg(
            ((F.min("band") + 1) * _QBIN_CENTS).alias("est_upper_cents")
        )
    )
    exact = cents.agg(
        *[
            F.round(F.percentile("c", F.lit(q / 1000.0)), 0)
            .cast("long")
            .alias(f"e{q}")
            for q in _QBIN_QS
        ]
    )
    exact_case = "CASE q_permille " + " ".join(
        f"WHEN {q} THEN e{q}" for q in _QBIN_QS
    ) + " END"
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "q_permille",
            F.expr(exact_case).alias("exact_cents"),
            "est_upper_cents",
            F.expr(f"abs(est_upper_cents - {exact_case})").alias(
                "abs_err_cents"
            ),
        )
        .orderBy("q_permille")
    )


_PARETO_BAND_CENTS = 100_000  # $1k customer-revenue bands


@query(
    "q_agg_pareto",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS rev
      FROM orders GROUP BY o_custkey
    ), bands AS (
      SELECT rev // {_PARETO_BAND_CENTS} AS band,
             count(*) AS n, CAST(sum(rev) AS BIGINT) AS band_rev
      FROM per_cust GROUP BY 1
    ), cum AS (
      SELECT band, n, band_rev,
             CAST(sum(n) OVER w AS BIGINT) AS cum_n,
             CAST(sum(band_rev) OVER w AS BIGINT) AS cum_rev,
             CAST(sum(n) OVER () AS BIGINT) AS n_total,
             CAST(sum(band_rev) OVER () AS BIGINT) AS rev_total
      FROM bands
      WINDOW w AS (ORDER BY band DESC ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(min(n_total) AS BIGINT) AS n_customers,
           CAST(min(CASE WHEN cum_rev * 5 >= rev_total * 4
                         THEN cum_n END) AS BIGINT)
               AS n_top_for_80pct,
           (2 * 1000 * min(CASE WHEN cum_rev * 5 >= rev_total * 4
                                THEN cum_n END) + min(n_total))
             // (2 * min(n_total)) AS top_share_permille,
           (2 * 1000 * max(CASE WHEN cum_n * 10 <= n_total
                                THEN cum_rev ELSE 0 END)
              + min(rev_total)) // (2 * min(rev_total))
               AS top_decile_rev_permille
    FROM cum
    """,
)
def q_agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) revenue concentration over customers, computed
    entirely on the $1k revenue-band grid: how many top customers
    cover 80% of revenue (smallest descending-cumulative count whose
    revenue reaches 4/5, compared as cum·5 >= total·4 — no floats),
    what population share that is, and how much revenue the bands
    holding the top <= 10% of customers capture. Band quantization
    makes the answer grid-granular and SCALE-TRUE: no global per-
    customer ranking ever happens (the q_ml_gains_table law applied
    to concentration).

    Plan: customer rollup (one key shuffle) → grid-bounded band agg →
    cumulative windows over ~500 bands → 1-row fold."""
    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(cents(F.col("o_totalprice"))).alias("rev")
        )
    )
    bands = per_cust.groupBy(
        F.expr(f"rev DIV {_PARETO_BAND_CENTS}").alias("band")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("rev").alias("band_rev"))
    w_cum = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bands.select(
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("band_rev").over(w_cum).alias("cum_rev"),
        F.sum("n").over(w_all).alias("n_total"),
        F.sum("band_rev").over(w_all).alias("rev_total"),
    )
    return cum.agg(
        F.min("n_total").alias("n_customers"),
        F.min(
            F.when(
                F.col("cum_rev") * 5 >= F.col("rev_total") * 4,
                F.col("cum_n"),
            )
        ).alias("n_top_for_80pct"),
        F.expr(
            "(2 * 1000 * min(CASE WHEN cum_rev * 5 >= rev_total * 4"
            " THEN cum_n END) + min(n_total)) DIV (2 * min(n_total))"
        ).alias("top_share_permille"),
        F.expr(
            "(2 * 1000 * max(CASE WHEN cum_n * 10 <= n_total"
            " THEN cum_rev ELSE 0 END) + min(rev_total))"
            " DIV (2 * min(rev_total))"
        ).alias("top_decile_rev_permille"),
    )


@query(
    "q_agg_theil",
    oracle="""
    WITH rev AS (
      SELECT o.o_custkey,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS x,
             min(c.c_nationkey) AS nation
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY o.o_custkey
    ), grp AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS BIGINT) AS sx,
             sum(CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE))) AS sxlnx
      FROM rev GROUP BY nation
    ), tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(sx) AS BIGINT) AS sx_tot,
             sum(sxlnx) AS sxlnx_tot,
             count(*) AS n_groups
      FROM grp
    ), parts AS (
      SELECT t.n, t.n_groups,
             t.sxlnx_tot / t.sx_tot
               - ln(CAST(t.sx_tot AS DOUBLE) / t.n) AS theil_total,
             sum((CAST(g.sx AS DOUBLE) / t.sx_tot)
                 * ln((CAST(g.sx AS DOUBLE) / g.n_g)
                      / (CAST(t.sx_tot AS DOUBLE) / t.n)))
               AS theil_between
      FROM grp g CROSS JOIN tot t
      GROUP BY t.n, t.n_groups, t.sxlnx_tot, t.sx_tot
    )
    SELECT n AS n_customers, CAST(n_groups AS BIGINT) AS n_groups,
           round(theil_total, 4) AS theil_total,
           round(theil_between, 4) AS theil_between,
           round(theil_total - theil_between, 4) AS theil_within
    FROM parts
    """,
)
def q_agg_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of per-customer revenue, DECOMPOSED by nation
    — the property Gini famously lacks and Theil's whole point:
    total = between-nation + within-nation, so the one-pager answers
    "is revenue concentration a geography story or an inside-market
    story". Computed from group sufficient statistics only
    (T_g = Σx·ln x / Sx_g − ln μ_g), never a per-row second pass.

    Float discipline: Σ x·ln(x) accumulates doubles per ~600-row
    nation group (the doc-entropy precedent — reorder noise is ~1e-12
    against O(1) outputs, swallowed by round-4); everything else is
    exact int64 until the single final expression. Plan: customer
    rollup (one key shuffle) + 25-row group agg + 1-row fold."""
    rev = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(cents(F.col("o_totalprice"))).alias("x")
        )
        .join(
            F.broadcast(
                t(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("x", F.col("c_nationkey").alias("nation"))
    )
    grp = rev.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("x").alias("sx"),
        F.sum(
            F.col("x").cast("double")
            * F.log(F.col("x").cast("double"))
        ).alias("sxlnx"),
    )
    tot = grp.agg(
        F.sum("n_g").alias("n"),
        F.sum("sx").alias("sx_tot"),
        F.sum("sxlnx").alias("sxlnx_tot"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    parts = (
        grp.crossJoin(F.broadcast(tot))
        .groupBy("n", "n_groups", "sxlnx_tot", "sx_tot")
        .agg(
            F.sum(
                (F.col("sx").cast("double") / F.col("sx_tot"))
                * F.log(
                    (F.col("sx").cast("double") / F.col("n_g"))
                    / (F.col("sx_tot").cast("double") / F.col("n"))
                )
            ).alias("theil_between")
        )
        .withColumn(
            "theil_total",
            F.col("sxlnx_tot") / F.col("sx_tot")
            - F.log(F.col("sx_tot").cast("double") / F.col("n")),
        )
    )
    return parts.select(
        F.col("n").alias("n_customers"),
        F.col("n_groups").cast("long").alias("n_groups"),
        F.round("theil_total", 4).alias("theil_total"),
        F.round("theil_between", 4).alias("theil_between"),
        F.round(
            F.col("theil_total") - F.col("theil_between"), 4
        ).alias("theil_within"),
    )


@query(
    "q_agg_atkinson",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS x
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           round(1 - exp(sum(ln(CAST(x AS DOUBLE))) / count(*))
                     / (CAST(sum(x) AS DOUBLE) / count(*)), 4)
               AS atkinson_eps1
    FROM rev
    """,
)
def q_agg_atkinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index at aversion eps = 1 over per-customer
    revenue: 1 − geometric mean / arithmetic mean — the welfare-
    interpretable member of the concentration kit ("what share of
    total revenue could be given up for perfect equality at the same
    welfare"), completing Gini (rank view), Theil (decomposable view),
    and HHI (market view).

    Float discipline: Σ ln x accumulates doubles over the customer
    rollup (the Theil/doc-entropy law — reorder noise ~1e-12 against
    an O(1) output, swallowed by round-4); Σ x stays exact int64; one
    exp + divide + round-4 at the boundary. Plan: one customer-keyed
    rollup + a 1-row fold."""
    rev = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(cents(F.col("o_totalprice"))).alias("x")
        )
    )
    return rev.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            1
            - F.exp(
                F.sum(F.log(F.col("x").cast("double")))
                / F.count(F.lit(1))
            )
            / (F.sum("x").cast("double") / F.count(F.lit(1))),
            4,
        ).alias("atkinson_eps1"),
    )


# HyperLogLog audit geometry: m=64 registers from the top 6 bits of a
# 48-bit md5-derived hash; the remaining 42 bits feed the
# leading-zero rank. alpha_64 = 0.709 (Flajolet et al. 2007 constant
# for m=64), encoded as the exact rational 709/1000 so the estimate
# folds in integers end to end.
_HLL_M = 64
_HLL_WBITS = 42
_HLL_POW2W = 1 << _HLL_WBITS

# 48-bit value from the first 12 md5 hex chars, DuckDB-side (per-char
# hex lookup — the _sql_hash_bucket idiom widened to 12 chars; max sum
# 15 * 16^11 ~ 2.6e14, well inside int64).
_SQL_HLL_H = (
    "("
    + " + ".join(
        f"(instr('0123456789abcdef', substr(md5(term), {j}, 1)) - 1)"
        f" * {16 ** (12 - j)}"
        for j in range(1, 13)
    )
    + ")"
)


@query(
    "q_agg_hll_audit",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS term
      FROM documents
    ), hashed AS (
      SELECT term, {_SQL_HLL_H} AS h FROM toks
    ), regs AS (
      SELECT h % {_HLL_M} AS bucket,
             max({_HLL_WBITS + 1} - length(bin(h // {_HLL_M}))) AS rho
      FROM hashed GROUP BY 1
    ), grid AS (
      SELECT unnest(range({_HLL_M})) AS bucket
    ), filled AS (
      SELECT g.bucket, coalesce(r.rho, 0) AS rho
      FROM grid g LEFT JOIN regs r ON r.bucket = g.bucket
    ), s AS (
      SELECT CAST(sum(CAST(2 AS BIGINT) ** ({_HLL_WBITS} - rho)) AS BIGINT)
               AS denom,
             CAST(sum(rho) AS BIGINT) AS reg_checksum,
             CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_regs
      FROM filled
    ), e AS (
      SELECT (SELECT count(*) FROM toks) AS n_exact, s.* FROM s
    )
    SELECT CAST({_HLL_M} AS BIGINT) AS m, CAST(n_exact AS BIGINT) AS n_exact,
           CAST((2 * CAST(709 AS HUGEINT) * {_HLL_M * _HLL_M}
                 * {_HLL_POW2W} + 1000 * denom)
                // (2000 * denom) AS BIGINT) AS hll_est,
           CAST((2000 * abs((2 * CAST(709 AS HUGEINT) * {_HLL_M * _HLL_M}
                             * {_HLL_POW2W} + 1000 * denom)
                            // (2000 * denom) - n_exact) + n_exact)
                // (2 * n_exact) AS BIGINT) AS err_permille,
           reg_checksum, n_zero_regs
    FROM e
    """,
)
def q_agg_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with a DETERMINISTIC audit — the distinct-count
    sibling of q_agg_countmin_audit, completing the sketch-audit
    family: a 64-register HLL over the corpus VOCABULARY is built from
    engine-portable md5 hashes (bucket = h mod 64, rank = leading-zero
    count of the remaining 42 bits via the shared length(bin(w)) fold),
    the raw Flajolet estimate alpha_64 * m^2 / sum(2^-M_j) folds
    entirely in integers (alpha as the exact rational 709/1000, the
    2^-M sum pre-scaled by 2^42 so every term is an int, the first
    factor of the numerator widened to DECIMAL/HUGEINT per the r07
    overflow law — 709*4096*2^42 ~ 1.3e19 passes int64), and the
    result row pins the estimate, its signed-free permille error vs
    exact, AND the register checksum — so the hash check certifies the
    SKETCH, not just the one estimate. The q_agg_approx_distinct /
    q_agg_count_distinct twin pattern, now with the estimator itself
    auditable.

    Vocabulary sizes here (~thousands) sit far above the 2.5m = 160
    small-range-correction threshold, so the raw-estimate branch is
    the only one a corpus-scale run ever takes — the audit certifies
    the branch production uses.

    Plan: one token explode -> distinct -> 64-bucket aggregate; state
    is 64 cells regardless of corpus size, map-side combined. At
    100 TB the register relation is the only thing that moves."""
    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .distinct()
    )
    h = F.conv(F.substring(F.md5("term"), 1, 12), 16, 10).cast("long")
    regs = (
        toks.select(
            (h % _HLL_M).alias("bucket"),
            (
                F.lit(_HLL_WBITS + 1)
                - F.length(F.bin((h / _HLL_M).cast("long")))
            ).alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    grid = spark.range(_HLL_M).select(F.col("id").cast("long").alias("bucket"))
    filled = (
        F.broadcast(grid)
        .join(regs, "bucket", "left")
        .select(F.coalesce(F.col("rho"), F.lit(0)).alias("rho"))
    )
    s = filled.agg(
        F.sum(
            F.pow(F.lit(2), F.lit(_HLL_WBITS) - F.col("rho")).cast("long")
        ).alias("denom"),
        F.sum("rho").alias("reg_checksum"),
        F.sum((F.col("rho") == 0).cast("int")).alias("n_zero_regs"),
    )
    n_exact = toks.agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.expr(
        f"CAST((2 * CAST(709 AS DECIMAL(38,0)) * {_HLL_M * _HLL_M}"
        f" * {_HLL_POW2W} + 1000 * denom) DIV (2000 * denom) AS BIGINT)"
    )
    return (
        s.crossJoin(F.broadcast(n_exact))
        .select(
            F.lit(_HLL_M).cast("long").alias("m"),
            F.col("n_exact").cast("long").alias("n_exact"),
            est.alias("hll_est"),
            F.expr(
                f"CAST((2000 * abs((2 * CAST(709 AS DECIMAL(38,0))"
                f" * {_HLL_M * _HLL_M} * {_HLL_POW2W} + 1000 * denom)"
                f" DIV (2000 * denom) - n_exact) + n_exact)"
                f" DIV (2 * n_exact) AS BIGINT)"
            ).alias("err_permille"),
            F.col("reg_checksum").cast("long").alias("reg_checksum"),
            F.col("n_zero_regs").cast("long").alias("n_zero_regs"),
        )
    )


@query(
    "q_agg_skyline_2d",
    oracle=f"""
    WITH pts AS (
      SELECT p_size AS s,
             {sql_cents('p_retailprice')}
               AS c
      FROM part
    ), flagged AS (
      SELECT s, c,
             max(s) OVER (ORDER BY c
                          RANGE BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS best_cheaper,
             max(s) OVER (PARTITION BY c) AS best_same_price
      FROM pts
    )
    SELECT s AS size, c AS price_cents,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM flagged
    WHERE (best_cheaper IS NULL OR s > best_cheaper)
      AND s = best_same_price
    GROUP BY s, c
    ORDER BY s
    """,
)
def q_agg_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over parts -- minimize price,
    maximize size: the multi-criteria shortlist operator ("no other
    part is both cheaper AND at least as large"). The textbook forms
    are both 100 TB-fatal -- NOT EXISTS self-join is quadratic, the
    cumulative-max window is a GLOBAL single-partition sort -- so the
    registered plan exploits the BOUNDED dominance dimension instead:
    roll up to per-size minimum price (one fact shuffle, <=50 rows),
    take the suffix-min over sizes ABOVE each level (a window over the
    50-row rollup, not the fact), and a point (s, m(s)) survives iff
    no size above it reaches a price <= m(s). Works for any attribute
    with bounded cardinality (sizes, ratings, tiers) -- the common
    production case; the oracle certifies it against the completely
    different direct-definition window form.

    Exactness: pure int64 size/cents arithmetic; dominance strictness
    (cheaper-OR-larger with ties surviving) is pinned by the two
    formulations agreeing row-for-row.

    Plan: one (size,cents) fact rollup + 50-row windows + broadcast
    filter join. At 100 TB: one shuffle bounded by the (size x price)
    domain, never the row count."""
    pts = t(spark, sf_dir, "part").select(
        F.col("p_size").alias("s"),
        F.expr(
            sql_cents("p_retailprice")
        ).alias("c"),
    )
    # the only fact-sized shuffle: domain-bounded (size, cents) points
    point_counts = (
        pts.groupBy("s", "c")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .transform(checkpoint)
    )
    per_size = point_counts.groupBy("s").agg(F.min("c").alias("mc"))
    # suffix min over the <=50-row size ladder: cheapest price among
    # all STRICTLY larger sizes (window input is the rollup, not facts)
    w_above = (
        Window.orderBy(F.col("s").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ladder = per_size.select(
        "s", "mc", F.min("mc").over(w_above).alias("best_above")
    )
    sky = ladder.filter(
        F.col("best_above").isNull()
        | (F.col("best_above") > F.col("mc"))
    ).select(F.col("s").alias("sky_s"), F.col("mc").alias("sky_mc"))
    return (
        point_counts.join(
            F.broadcast(sky),
            (F.col("s") == F.col("sky_s")) & (F.col("c") == F.col("sky_mc")),
        )
        .select(
            F.col("s").alias("size"),
            F.col("c").alias("price_cents"),
            "n_parts",
        )
        .orderBy("size")
    )


@query(
    "q_agg_cm_join_estimate",
    oracle=f"""
    WITH rkeys AS (
      SELECT l_partkey AS k FROM lineitem
    ), skeys AS (
      SELECT p_partkey AS k FROM part WHERE p_size >= 25
    ), rh AS (
      SELECT k,
             {_sql_hash_bucket("concat('0|', CAST(k AS VARCHAR))", _CMS_W)} AS b0,
             {_sql_hash_bucket("concat('1|', CAST(k AS VARCHAR))", _CMS_W)} AS b1
      FROM rkeys
    ), sh AS (
      SELECT k,
             {_sql_hash_bucket("concat('0|', CAST(k AS VARCHAR))", _CMS_W)} AS b0,
             {_sql_hash_bucket("concat('1|', CAST(k AS VARCHAR))", _CMS_W)} AS b1
      FROM skeys
    ), r0 AS (SELECT b0 AS b, count(*) AS c FROM rh GROUP BY 1),
    r1 AS (SELECT b1 AS b, count(*) AS c FROM rh GROUP BY 1),
    s0 AS (SELECT b0 AS b, count(*) AS c FROM sh GROUP BY 1),
    s1 AS (SELECT b1 AS b, count(*) AS c FROM sh GROUP BY 1),
    est AS (
      SELECT
        (SELECT sum(r0.c * s0.c) FROM r0 JOIN s0 ON s0.b = r0.b) AS j0,
        (SELECT sum(r1.c * s1.c) FROM r1 JOIN s1 ON s1.b = r1.b) AS j1,
        (SELECT sum(c * c) FROM r0) AS f0,
        (SELECT sum(c * c) FROM r1) AS f1
    ), truth AS (
      SELECT
        (SELECT count(*) FROM rkeys r JOIN skeys s ON s.k = r.k)
          AS exact_join,
        (SELECT sum(c * c) FROM
           (SELECT count(*) AS c FROM rkeys GROUP BY k)) AS exact_f2
    )
    SELECT CAST(exact_join AS BIGINT) AS exact_join_rows,
           CAST(least(j0, j1) AS BIGINT) AS cm_join_est,
           CAST((2 * 1000 * (least(j0, j1) - exact_join) + exact_join)
                // (2 * exact_join) AS BIGINT) AS join_over_permille,
           CAST(exact_f2 AS BIGINT) AS exact_selfjoin_f2,
           CAST(least(f0, f1) AS BIGINT) AS cm_f2_est,
           CAST((2 * 1000 * (least(f0, f1) - exact_f2) + exact_f2)
                // (2 * exact_f2) AS BIGINT) AS f2_over_permille
    FROM est, truth
    """,
)
def q_agg_cm_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from count-min sketches — the query
    optimizer's question ("how many rows will lineitem ⋈ filtered-part
    produce?") answered from 2×1024-cell sketch state instead of a
    join, audited against the exact answer: the CM inner product
    Σ_b cR(b)·cS(b) per hash row (min over rows) estimates
    |R ⋈_k S| = Σ_k fR(k)·fS(k), and the same machinery's self inner
    product estimates the self-join size / second frequency moment F2.
    Both estimates are one-sided overestimates (collision mass only) —
    the audit reports each alongside its exact value and half-up
    permille overestimate, completing the sketch-audit family
    (countmin point queries, HLL distinct, quantile bins).

    Exactness: md5-seeded buckets are engine-portable (the
    q_agg_countmin_audit contract) so DuckDB rebuilds the identical
    sketches; everything is integer (counts, products ≈ 3.4e12 at
    100×, 3.4e14 at 1000× — four decades inside int64).

    Plan: each stream's WHOLE d×w sketch builds in ONE map-side-
    combined shuffle — rows explode to (seed, bucket) pairs and
    aggregate on that 2×1024-cell grid — then bucket-cell joins are
    broadcast; the exact-truth join/F2 aggregates (two more fact
    shuffles) exist only because this is the audit. At 100 TB
    production keeps the 1-shuffle sketch path and drops the truth
    path."""
    rkeys = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k")
    )
    skeys = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_size") >= 25)
        .select(F.col("p_partkey").alias("k"))
    )

    def sketch(df: DataFrame) -> DataFrame:
        """2×1024-cell CM sketch in ONE shuffle: explode each row to
        its (seed, bucket) pair for both hash rows, aggregate on the
        grid key — constant state at any volume."""
        cells = F.array(
            *[
                F.struct(
                    F.lit(seed).alias("seed"),
                    hash_bucket(
                        F.concat(
                            F.lit(f"{seed}|"), F.col("k").cast("string")
                        ),
                        _CMS_W,
                    ).alias("b"),
                )
                for seed in (0, 1)
            ]
        )
        return (
            df.select(F.explode(cells).alias("x"))
            .select("x.seed", "x.b")
            .groupBy("seed", "b")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    r = sketch(rkeys).transform(checkpoint)  # 2048 cells: feeds j + f2
    s = sketch(skeys).withColumnRenamed("c", "cs")
    j = (
        r.join(F.broadcast(s), ["seed", "b"])
        .groupBy("seed")
        .agg(F.sum(F.col("c") * F.col("cs")).alias("j"))
    )
    f2 = r.groupBy("seed").agg(F.sum(F.col("c") * F.col("c")).alias("f"))
    est = (
        j.groupBy()
        .pivot("seed", [0, 1])
        .agg(F.first("j"))
        .select(F.col("0").alias("j0"), F.col("1").alias("j1"))
        .crossJoin(
            f2.groupBy()
            .pivot("seed", [0, 1])
            .agg(F.first("f"))
            .select(F.col("0").alias("f0"), F.col("1").alias("f1"))
        )
    )
    exact_join = rkeys.join(skeys, "k").agg(
        F.count(F.lit(1)).alias("exact_join")
    )
    exact_f2 = (
        rkeys.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("exact_f2"))
    )
    half_up = lambda num, den: F.expr(  # noqa: E731
        f"CAST((2 * 1000 * ({num}) + {den}) DIV (2 * {den}) AS BIGINT)"
    )
    return (
        est.crossJoin(F.broadcast(exact_join))
        .crossJoin(F.broadcast(exact_f2))
        .select(
            F.col("exact_join").cast("long").alias("exact_join_rows"),
            F.least("j0", "j1").cast("long").alias("cm_join_est"),
            half_up(
                "least(j0, j1) - exact_join", "exact_join"
            ).alias("join_over_permille"),
            F.col("exact_f2").cast("long").alias("exact_selfjoin_f2"),
            F.least("f0", "f1").cast("long").alias("cm_f2_est"),
            half_up("least(f0, f1) - exact_f2", "exact_f2").alias(
                "f2_over_permille"
            ),
        )
    )
