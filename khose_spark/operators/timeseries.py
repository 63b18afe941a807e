"""Hypertable-style multi-resolution time rollup (the continuous-
aggregate pattern): aggregate events once at the finest resolution
(hour), then derive every coarser level (day, month) FROM the hourly
aggregate — never rescanning the raw table.

That derivation is the 100 TB point: raw events are petabytes, the
hourly rollup is megabytes, so daily/monthly cost ~nothing and stay
exactly consistent with the hourly level because the re-aggregated
measures (counts, decimal sums) are associative and exact. In a live
deployment the hourly level is maintained incrementally by the
streaming runtime (tumbling-window agg, §2.9) and this module's
derivation runs on top — the batch/stream split of a TimescaleDB-style
continuous aggregate.

Money law: hourly sums stay UNROUNDED decimals internally; rounding to
double happens only at the output edge, per level — re-aggregating a
rounded double would drift from the oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.registry import query
from khose_spark.sqlutil import (
    cents,
    dec_round,
    dec_sum,
    sql_cents,
    sql_dec_sum,
)
from khose_spark.tables import t

_DEC = "decimal(28,2)"


def _day_idx() -> Column:
    """Whole days from the events fixture's 2024-01-01 origin to ``ts``."""
    return F.datediff(F.to_date("ts"), F.lit("2024-01-01")).cast("long")


def _events_daily_cents(
    spark: SparkSession, sf_dir: str, day: Column
) -> DataFrame:
    """(event_type, d, cents): exact int64 spend per event type and
    ``day`` — the per-type rollup every daily series starts from."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type", day.alias("d"))
        .agg(F.sum(cents(F.col("value"))).alias("cents"))
    )


def _orders_daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, d, cents): exact int64 order revenue per order date, with
    ``d`` the whole days since 1992-01-01."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderdate").alias("day"),
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
            .cast("long")
            .alias("d"),
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("cents"))
    )


# SQL twin of _day_idx().
_SQL_DAY_IDX = "CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)"


def _sql_events_daily_cents(day: str, alias: str = "d") -> str:
    """SQL twin of :func:`_events_daily_cents`: a ``daily`` CTE body
    grouped by event type and ``day`` (named ``alias``)."""
    return f"""
      SELECT event_type, {day} AS {alias},
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2"""


def _sql_indexed_daily(shift: str = "") -> str:
    """SQL twin of :func:`_indexed_daily`: the ``daily`` and ``idxd``
    CTEs, the last left open; ``shift`` " - 1" makes the index 0-based."""
    return f"""
    WITH daily AS ({_sql_events_daily_cents("CAST(ts AS DATE)")}
    ), idxd AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY d){shift}
               AS i
      FROM daily"""


def _indexed_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, cents, i): the per-type daily series by date with
    its 1-based observed-day index."""
    return _events_daily_cents(spark, sf_dir, F.col("ts").cast("date")).select(
        "event_type",
        "cents",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .alias("i"),
    )


@query(
    "q_ts_multires_rollup",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             count(*) AS n,
             sum(CAST(value AS DECIMAL(28,2))) AS s
      FROM events GROUP BY 1
    )
    SELECT 'hour' AS resolution,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket,
           n AS n_events,
           CAST(round(s, 2) AS DOUBLE) AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day', strftime(date_trunc('day', h), '%Y-%m-%d %H:%M:%S'),
           CAST(sum(n) AS BIGINT), CAST(round(sum(s), 2) AS DOUBLE)
    FROM hourly GROUP BY 2
    UNION ALL
    SELECT 'month', strftime(date_trunc('month', h), '%Y-%m-%d %H:%M:%S'),
           CAST(sum(n) AS BIGINT), CAST(round(sum(s), 2) AS DOUBLE)
    FROM hourly GROUP BY 2
    """,
)
def q_ts_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-resolution event rollup (hour/day/month) where day and
    month are re-aggregated from the hourly level. The oracle derives
    all levels from the same hourly CTE — hash-matching proves the
    derived levels are exactly consistent, which only holds because
    counts and decimal sums are associative (doubles wouldn't be)."""
    e = t(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(_DEC)).alias("s"),
        )
        # The materialized continuous aggregate: without this, each
        # union branch re-scans raw events and re-runs the hourly
        # shuffle — exactly what the hypertable pattern exists to avoid.
        # Footprint is one row per distinct hour (tiny at any sf).
        .persist()
    )

    def level(df: DataFrame, name: str, bucket_col) -> DataFrame:
        return df.select(
            F.lit(name).alias("resolution"),
            F.date_format(bucket_col, "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            F.col("n").cast("long").alias("n_events"),
            F.round("s", 2).cast("double").alias("sum_value"),
        )

    def reagg(res: str) -> DataFrame:
        coarse = (
            hourly.groupBy(F.date_trunc(res, "h").alias("b"))
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        )
        return level(coarse, res, F.col("b"))

    levels = [level(hourly, "hour", F.col("h")), reagg("day"), reagg("month")]
    out = reduce(DataFrame.unionAll, levels).transform(checkpoint)
    hourly.unpersist()
    return out


@query(
    "q_ts_user_similarity",
    oracle="""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s
      FROM events WHERE user_id < 300 GROUP BY 1, 2
    )
    SELECT user_a, user_b, n_days, c AS activity_corr FROM (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             count(*) AS n_days,
             round(corr(a.s, b.s), 4) AS c
      FROM daily a JOIN daily b ON a.d = b.d AND a.user_id < b.user_id
      GROUP BY 1, 2
    ) WHERE c >= 0.5
    """,
)
def q_ts_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (the distributed-similarity family
    of EDBT'19/'20 in PAPERS.md): users whose DAILY spend series
    correlate >= 0.5 over their co-active days. Series alignment is an
    equi-join on the day bucket; Pearson correlation is the similarity
    measure; daily sums are exact decimals cast to double so both
    engines correlate identical inputs. The search cohort is capped at
    user_id < 300: all-pairs-per-day is quadratic in daily active
    users, so the full-corpus form must go through the pivot-to-vector
    blocked-GEMM path, not this join.

    Scale posture: the day-bucket join has bounded width (users active
    per day), and the pair aggregation shuffles on the dense (user_a,
    user_b) key. At 100 TB the day join is the skew point — the
    production form pre-pivots each user's series into a vector column
    and runs the blocked-GEMM path of q_llm_cosine_topk_blocked."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    daily = (
        e.groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("s"))
    )
    a = daily.select(F.col("user_id").alias("user_a"), "d", F.col("s").alias("sa"))
    b = daily.select(F.col("user_id").alias("user_b"), "d", F.col("s").alias("sb"))
    pairs = (
        a.join(b, ["d"])
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.corr("sa", "sb"), 4).alias("activity_corr"),
        )
    )
    return pairs.filter(F.col("activity_corr") >= 0.5)


@query(
    "q_ts_twa",
    oracle=f"""
    WITH seg AS (
      SELECT user_id,
             {sql_cents('value')} AS cents,
             epoch_us(lead(ts) OVER w) // 1000000
               - epoch_us(ts) // 1000000 AS dt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), agg AS (
      SELECT user_id,
             sum(cents * dt) AS num,
             sum(dt) AS den,
             count(*) AS n_segments
      FROM seg WHERE dt IS NOT NULL AND dt > 0
      GROUP BY user_id
    )
    SELECT user_id,
           CAST((2 * num + den) // (2 * den) AS BIGINT) / 100.0 AS twa,
           CAST(den AS BIGINT) AS total_secs,
           n_segments
    FROM agg
    """,
)
def q_ts_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user — THE continuous-aggregate
    primitive of hypertable engines: each observation holds its value
    until the next one (last-observation-carried-forward), so the mean
    weights each value by its holding duration, not by sample count.

    Every input is made exact before any arithmetic: values become
    integer cents via the decimal-cast law, durations are whole epoch
    seconds from a lead() over the unique (ts, event_id) ordering. The
    weighted mean is then rounded to 2 decimals entirely in int64
    ((2N + D) div 2D on cent-seconds — the same exact-integer half-up
    idiom as q_win_distribution), so no engine ever rounds a float.
    One window shuffle + one aggregation, both keyed on user_id."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = t(spark, sf_dir, "events").select(
        "user_id",
        cents(F.col("value")).alias("cents"),
        (
            F.unix_timestamp(F.lead("ts").over(w))
            - F.unix_timestamp("ts")
        ).alias("dt"),
    )
    agg = (
        seg.filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
        .groupBy("user_id")
        .agg(
            F.sum(F.col("cents") * F.col("dt")).alias("num"),
            F.sum("dt").alias("den"),
            F.count("*").alias("n_segments"),
        )
    )
    return agg.select(
        "user_id",
        (F.expr("(2 * num + den) div (2 * den)") / F.lit(100.0)).alias("twa"),
        F.col("den").alias("total_secs"),
        "n_segments",
    )


@query(
    "q_ts_ohlc",
    oracle=f"""
    WITH base AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS h,
             ts, event_id, value
      FROM events
    ), rk AS (
      SELECT *,
             row_number() OVER (PARTITION BY h
                                ORDER BY ts, event_id) AS rno,
             row_number() OVER (PARTITION BY h
                                ORDER BY ts DESC, event_id DESC) AS rnc
      FROM base
    )
    SELECT h,
           max(CASE WHEN rno = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rnc = 1 THEN value END) AS close,
           count(*) AS n_ticks,
           {sql_dec_sum('value', 2)} AS volume
    FROM rk GROUP BY h
    """,
)
def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars over the event stream — the canonical financial
    downsampling query of a time-series engine. Open/close are the
    first/last tick by the unique (ts, event_id) order; high/low/volume
    are plain extrema/decimal-exact sums (2-decimal inputs, nothing to
    round). Both row_numbers share one hour-keyed window shuffle, and
    the conditional max picks the rn=1 tick without a second join."""
    ev = t(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("h"),
        "ts",
        "event_id",
        "value",
    )
    w_open = Window.partitionBy("h").orderBy("ts", "event_id")
    w_close = Window.partitionBy("h").orderBy(F.desc("ts"), F.desc("event_id"))
    rk = ev.select(
        "h",
        "value",
        F.row_number().over(w_open).alias("rno"),
        F.row_number().over(w_close).alias("rnc"),
    )
    return rk.groupBy("h").agg(
        F.max(F.when(F.col("rno") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rnc") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n_ticks"),
        dec_sum(F.col("value"), 2).alias("volume"),
    )


@query(
    "q_ts_ewma",
    oracle="""
    WITH b AS (
      SELECT user_id, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS lv
      FROM events
    )
    SELECT user_id, event_id,
           round(list_sum(list_transform(range(1, len(lv)+1),
                   i -> lv[i] * pow(0.5, len(lv)-i)))
                 / list_sum(list_transform(range(1, len(lv)+1),
                   i -> pow(0.5, len(lv)-i))), 4) AS ewma
    FROM b
    """,
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 0.5, last 8 ticks)
    of each user's value series — the standard smoothing operator of a
    streaming metrics engine. EWMA's recursive definition doesn't map to
    a plain window aggregate, so the frame is materialized as an ORDERED
    array (collect_list over a rows frame) and the weighted sum runs as
    an array-lambda fold — both engines fold the identical array in the
    identical order, making the continuous result round(4)-stable. One
    user-keyed window shuffle; the arrays are frame-bounded (<= 8)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, 0)
    )
    lv = F.collect_list("value").over(w)
    n = F.size(F.col("lv"))
    wsum = F.aggregate(
        F.transform(
            "lv",
            lambda x, i: x * F.pow(F.lit(0.5), (n - 1 - i).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wtot = F.aggregate(
        F.transform(
            "lv",
            lambda x, i: F.pow(F.lit(0.5), (n - 1 - i).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .withColumn("lv", lv)
        .select(
            "user_id",
            "event_id",
            F.round(wsum / wtot, 4).alias("ewma"),
        )
    )


_ETYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q_ts_interpolate",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events
    ), spine AS (
        SELECT et.event_type, h.hr
        FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
              FROM bounds) h
        CROSS JOIN (SELECT DISTINCT event_type FROM events) et
    ), hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ), joined AS (
        SELECT s.event_type, s.hr, hourly.v,
               CAST(floor(epoch(s.hr) / 3600) AS BIGINT) AS idx
        FROM spine s LEFT JOIN hourly
          ON s.event_type = hourly.event_type AND s.hr = hourly.hr
    ), ctx AS (
        SELECT event_type, hr, v, idx,
          last_value(v IGNORE NULLS) OVER (
            PARTITION BY event_type ORDER BY hr
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
          last_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER (
            PARTITION BY event_type ORDER BY hr
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_i,
          first_value(v IGNORE NULLS) OVER (
            PARTITION BY event_type ORDER BY hr
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
          first_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER (
            PARTITION BY event_type ORDER BY hr
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_i
        FROM joined
    )
    SELECT event_type, hr,
           CAST(round(CAST(
             CASE WHEN v IS NOT NULL THEN v
                  WHEN prev_v IS NULL THEN next_v
                  WHEN next_v IS NULL THEN prev_v
                  ELSE prev_v + (next_v - prev_v)
                       * (CAST(idx - prev_i AS DOUBLE) / (next_i - prev_i))
             END AS DECIMAL(18,8)), 6) AS DOUBLE) AS v_filled,
           CAST(v IS NULL AS INT) AS was_gap
    FROM ctx
    """,
)
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of gaps in the hourly per-type spend series:
    build the full hour spine (explode(sequence) — never a cartesian of
    raw rows), left-join the hourly exact-decimal sums, then fill each
    missing hour from its nearest non-null neighbors with
    ``last/first(... ignorenulls)`` frames, weighted by integer hour
    distance.  Boundary gaps clamp to the nearest real value.

    Determinism: hourly sums are exact decimals (no float-ordering
    drift), hour indices are integers, so every interpolated value is an
    exact rational computed from bit-identical doubles on both engines;
    the DECIMAL(18,8)-cast rounding (sqlutil law) makes the final
    round(6) HALF_UP-stable even when a dyadic fraction lands exactly on
    the half grid.  Both window passes share one hash partitioning by
    event_type; the spine join keys on (event_type, hr) — at 100 TB the
    raw scan aggregates first (hours ≪ events), so the window input is
    tiny."""
    ev = t(spark, sf_dir, "events")

    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )
    types = ev.select("event_type").distinct()
    spine = hours.crossJoin(F.broadcast(types))

    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(
            F.sum(F.col("value").cast("decimal(28,2)"))
            .cast("double")
            .alias("v")
        )
    )
    joined = spine.join(hourly, ["event_type", "hr"], "left").withColumn(
        "idx", F.floor(F.unix_timestamp("hr") / 3600).cast("long")
    )

    w_back = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    idx_if_v = F.when(F.col("v").isNotNull(), F.col("idx"))
    ctx = joined.select(
        "event_type",
        "hr",
        "v",
        "idx",
        F.last("v", ignorenulls=True).over(w_back).alias("prev_v"),
        F.last(idx_if_v, ignorenulls=True).over(w_back).alias("prev_i"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("next_v"),
        F.first(idx_if_v, ignorenulls=True).over(w_fwd).alias("next_i"),
    )
    frac = (F.col("idx") - F.col("prev_i")).cast("double") / (
        F.col("next_i") - F.col("prev_i")
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
        )
    )
    return ctx.select(
        "event_type",
        "hr",
        F.round(filled.cast("decimal(18,8)"), 6)
        .cast("double")
        .alias("v_filled"),
        F.col("v").isNull().cast("int").alias("was_gap"),
    )


@query(
    "q_ts_corr_matrix",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d,
               {", ".join(
                   f'''CAST(sum(CAST(value AS DECIMAL(28,2)))
                       FILTER (WHERE event_type = '{e}') AS DOUBLE)
                       AS {e}''' for e in _ETYPES
               )}
        FROM events GROUP BY 1
    )
    {" UNION ALL ".join(
        f'''SELECT '{a}' AS metric_a, '{b}' AS metric_b,
            round(corr({a}, {b}), 4) AS corr_ab, count(*) AS n_days
            FROM daily'''
        for i, a in enumerate(_ETYPES) for b in _ETYPES[i + 1:]
    )}
    """,
)
def q_ts_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix between the five per-type daily spend
    series (do error spikes track purchase dips?).  The raw log
    collapses to one exact-decimal row per day FIRST (conditional
    aggregation, one shuffle), then all 10 upper-triangle correlations
    compute in a single global aggregate over the ~30-row daily frame
    and transpose to long form with ``stack()`` — the 100 TB cost is one
    scan + one tiny shuffle, identical to the hourly-rollup pattern.
    corr is continuous under round(4) (sqlutil law)."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        *[
            F.sum(
                F.when(F.col("event_type") == e, F.col("value")).cast(
                    "decimal(28,2)"
                )
            )
            .cast("double")
            .alias(e)
            for e in _ETYPES
        ]
    )
    pairs = [
        (a, b) for i, a in enumerate(_ETYPES) for b in _ETYPES[i + 1:]
    ]
    one = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        *[
            F.round(F.corr(a, b), 4).alias(f"corr__{a}__{b}")
            for a, b in pairs
        ],
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', corr__{a}__{b}" for a, b in pairs
    )
    return one.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (metric_a, metric_b, corr_ab)",
        "n_days",
    ).select("metric_a", "metric_b", "corr_ab", "n_days")


@query(
    "q_ts_seasonality",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS hr,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
                 AS cents
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, sum(cents) AS tot_cents FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.hr, h.n,
           CAST(round(CAST(h.cents AS DECIMAL(28,4)) / 100, 2) AS DOUBLE)
               AS sum_value,
           CAST((2 * h.cents * 1000 + t.tot_cents)
                // (2 * t.tot_cents) AS BIGINT) AS spend_permille
    FROM hourly h JOIN tot t ON t.event_type = h.event_type
    """,
)
def q_ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: event count,
    exact-decimal spend, and each hour's half-up permille share of the
    type's total spend — the diurnal-load heatmap behind capacity
    planning and anomaly baselines (q_ts_anomaly's spiritual sibling on
    the time axis instead of the user axis).

    Plan: one shuffle to the (type, hour) grid (cardinality 120 — fixed
    regardless of input size), then the type totals come from a window
    over the POST-AGG rows (24 rows per partition, never the raw
    events). Shares are computed in integer cent space with the same
    half-up idiom as q_scan_key_skew's permille — no float ratio ever
    exists, so the hash is exact at any scale."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents(F.col("value"))).alias("cents"),
    )
    w_type = Window.partitionBy("event_type")
    shared = hourly.withColumn("tot_cents", F.sum("cents").over(w_type))
    return shared.select(
        "event_type",
        "hr",
        "n",
        F.round(
            (F.col("cents").cast("decimal(28,4)") / 100), 2
        ).cast("double").alias("sum_value"),
        F.expr(
            "CAST((2 * cents * 1000 + tot_cents) DIV (2 * tot_cents)"
            " AS BIGINT)"
        ).alias("spend_permille"),
    )


@query(
    "q_ts_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
             {sql_dec_sum('value', 4)} AS spend
      FROM events GROUP BY 1, 2
    ), centered AS (
      SELECT event_type, d, spend,
             avg(spend) OVER (PARTITION BY event_type) AS mu,
             count(*) OVER (PARTITION BY event_type) AS n_days
      FROM daily
    ), cusum AS (
      SELECT event_type, d, spend, n_days,
             round(abs(sum(spend - mu) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
               AS c_abs
      FROM centered
    ), cp AS (
      SELECT event_type, d AS cp_day, c_abs, n_days FROM (
        SELECT *, row_number() OVER (
          PARTITION BY event_type ORDER BY c_abs DESC, d ASC) AS rn
        FROM cusum
      ) WHERE rn = 1
    )
    SELECT c.event_type, cp_day, round(c_abs, 4) AS cusum_max,
           CAST(c.n_days AS BIGINT) AS n_days,
           CAST((2 * sum(CASE WHEN y.d <= cp_day THEN cents ELSE 0 END)
                 + count(CASE WHEN y.d <= cp_day THEN 1 END))
                // (2 * count(CASE WHEN y.d <= cp_day THEN 1 END))
                AS BIGINT) AS mean_before_cents,
           CASE WHEN count(CASE WHEN y.d > cp_day THEN 1 END) = 0 THEN NULL
                ELSE CAST((2 * sum(CASE WHEN y.d > cp_day THEN cents ELSE 0 END)
                           + count(CASE WHEN y.d > cp_day THEN 1 END))
                          // (2 * count(CASE WHEN y.d > cp_day THEN 1 END))
                          AS BIGINT) END AS mean_after_cents
    FROM cp c
    JOIN (SELECT event_type, d, spend,
                 CAST(round(spend * 100, 0) AS BIGINT) AS cents
          FROM daily) y
      ON y.event_type = c.event_type
    GROUP BY 1, 2, 3, 4
    """,
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint estimation per event type: the day
    t* = argmax |sum_{i<=t}(x_i - mean)| of the cumulative deviation
    path is the classic single-changepoint estimator (the
    at-most-one-change CUSUM statistic), reported with the level before
    and after the break — the mean-shift audit a metrics pipeline runs
    over every series after a deploy.

    Determinism: daily totals go through the decimal-cast law so both
    engines feed identical doubles into the running sum; the argmax
    compares the |CUSUM| ROUNDED to 6 with day tiebreak; and the
    before/after levels are HALF-UP INTEGER CENTS via the integer
    division idiom — an avg() of exact 2-decimal money lands exactly
    on 4-decimal halves (sum/n is a small-denominator rational), the
    one case round() genuinely diverges on, caught by the sf0.01
    sweep. Plan: one (type, day) aggregation shuffle, then everything
    is windows over the same type partitioning (mean + count as
    full-frame windows, the deviation path as a running frame, argmax
    as row_number) plus one broadcast join-back for the before/after
    levels — per-series sequential state expressed as windows, no
    recursion, no UDF."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(dec_sum(F.col("value"), 4).alias("spend"))
    )
    w_type = Window.partitionBy("event_type")
    w_run = w_type.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cusum = (
        daily.withColumn("mu", F.avg("spend").over(w_type))
        .withColumn("n_days", F.count(F.lit(1)).over(w_type))
        .withColumn(
            "c_abs",
            F.round(F.abs(F.sum(F.col("spend") - F.col("mu")).over(w_run)), 6),
        )
    )
    cp = (
        cusum.withColumn(
            "rn",
            F.row_number().over(w_type.orderBy(F.desc("c_abs"), F.asc("d"))),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("event_type").alias("cp_type"),
            F.col("d").alias("cp_day"),
            "c_abs",
            "n_days",
        )
    )
    before = F.col("d") <= F.col("cp_day")
    cents = F.round(F.col("spend") * 100, 0).cast("bigint")
    return (
        daily.join(F.broadcast(cp), daily.event_type == F.col("cp_type"))
        .groupBy(
            "event_type", "cp_day",
            F.round("c_abs", 4).alias("cusum_max"),
            F.col("n_days").cast("long").alias("n_days"),
        )
        .agg(
            F.sum(F.when(before, cents).otherwise(F.lit(0))).alias("s_b"),
            F.count(F.when(before, F.lit(1))).alias("n_b"),
            F.sum(F.when(~before, cents).otherwise(F.lit(0))).alias("s_a"),
            F.count(F.when(~before, F.lit(1))).alias("n_a"),
        )
        .select(
            "event_type", "cp_day", "cusum_max", "n_days",
            F.expr("CAST((2 * s_b + n_b) DIV (2 * n_b) AS BIGINT)")
            .alias("mean_before_cents"),
            F.expr(
                "CASE WHEN n_a = 0 THEN NULL ELSE "
                "CAST((2 * s_a + n_a) DIV (2 * n_a) AS BIGINT) END"
            ).alias("mean_after_cents"),
        )
    )


_LTTB_B = 8  # interior buckets (downsampled series = B + first + last)


def _lttb_oracle() -> str:
    """Unrolled LTTB twin: one CTE per interior bucket, each selecting
    the candidate maximizing the ALL-INTEGER scaled triangle area with
    the previously selected point and the next bucket's (cnt-scaled)
    centroid. Multiplying the classic area formula through by the next
    bucket's count keeps every term in int64 — the argmax is exact, no
    float enters any comparison."""
    bucket = "1 + (rn - 2) * %d // (n - 2)" % _LTTB_B
    ctes = [
        f"""pts AS (
      SELECT event_type, h, rn, n, cents FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n,
               cents
        FROM (
          SELECT event_type, strftime(date_trunc('hour', ts),
                                      '%Y-%m-%d %H') AS h,
                 CAST(sum(CAST(value AS DECIMAL(28,2))) * 100 AS BIGINT)
                   AS cents
          FROM events GROUP BY 1, 2
        )
      )
    )""",
        "firstp AS (SELECT * FROM pts WHERE rn = 1)",
        "lastp AS (SELECT * FROM pts WHERE rn = n)",
        f"""cent AS (
      SELECT event_type, {bucket} AS bucket, count(*) AS cnt,
             sum(rn) AS sx, sum(cents) AS sy
      FROM pts WHERE rn > 1 AND rn < n GROUP BY 1, 2
    )""",
        "sel0 AS (SELECT event_type, rn, h, cents FROM firstp)",
    ]
    for b in range(1, _LTTB_B + 1):
        if b < _LTTB_B:
            nxt = f"JOIN cent nx ON nx.event_type = c.event_type AND nx.bucket = {b + 1}"
            area = (
                "abs((p.rn * nx.cnt - nx.sx) * (c.cents - p.cents)"
                " - (p.rn - c.rn) * (nx.sy - p.cents * nx.cnt))"
            )
        else:
            nxt = "JOIN lastp nx ON nx.event_type = c.event_type"
            area = (
                "abs((p.rn - nx.rn) * (c.cents - p.cents)"
                " - (p.rn - c.rn) * (nx.cents - p.cents))"
            )
        ctes.append(f"""sel{b} AS (
      SELECT event_type, rn, h, cents FROM (
        SELECT c.event_type, c.rn, c.h, c.cents,
               row_number() OVER (PARTITION BY c.event_type
                                  ORDER BY {area} DESC, c.rn ASC) AS k
        FROM pts c
        JOIN sel{b - 1} p ON p.event_type = c.event_type
        {nxt}
        WHERE c.rn > 1 AND c.rn < c.n
          AND 1 + (c.rn - 2) * {_LTTB_B} // (c.n - 2) = {b}
      ) WHERE k = 1
    )""")
    unions = "\n    UNION ALL ".join(
        f"SELECT event_type, CAST(rn AS BIGINT) AS rn, h, "
        f"CAST(cents AS BIGINT) AS val_cents FROM sel{b}"
        for b in range(_LTTB_B + 1)
    )
    unions += (
        "\n    UNION ALL SELECT event_type, CAST(rn AS BIGINT) AS rn, h, "
        "CAST(cents AS BIGINT) AS val_cents FROM lastp"
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + unions


@query("q_ts_lttb_downsample", oracle=_lttb_oracle())
def q_ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB (Largest-Triangle-Three-Buckets) downsampling of each event
    type's hourly spend series to first + 8 + last points — THE
    standard dashboard/viz downsampling algorithm: each interior bucket
    keeps the point forming the largest triangle with the previously
    KEPT point and the next bucket's centroid, preserving visual
    extremes that averaging would flatten.

    This is the documented applyInPandas case (SURVEY §4.2): LTTB's
    prev-point dependency is a per-series LINEAR SCAN, so the operator
    groups by series key and runs the scan in one Arrow batch per
    series — one aggregation shuffle (hourly cents) + one group
    shuffle, two jobs total, versus 8 sequential join/broadcast stages
    for the unrolled-window form (measured 5× slower). At 100 TB with
    millions of short series each group is one task's work and the
    plan is embarrassingly parallel; a single pathological series
    would shard via the same bucket decomposition the oracle uses.

    Determinism: values are exact integer cents; the triangle area is
    the classic formula multiplied through by the next bucket's count
    — arbitrary-precision Python ints, argmax with rn tiebreak — so
    the result is bit-identical to the all-integer unrolled CTE chain
    the DuckDB oracle runs (hash-checked at sf0.001/0.01/0.1)."""
    e = t(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH").alias("h"),
        )
        .agg(
            (F.sum(F.col("value").cast("decimal(28,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    n_buckets = _LTTB_B

    def lttb(pdf):
        import pandas as pd

        pdf = pdf.sort_values("h").reset_index(drop=True)
        n = len(pdf)
        rns = list(range(1, n + 1))
        cents = [int(c) for c in pdf["cents"]]
        if n <= n_buckets + 2:
            keep = list(range(n))
        else:
            # interior rn in 2..n-1 -> bucket 1..B (same formula as the
            # oracle CTE): bucket = 1 + (rn-2)*B // (n-2)
            buckets: dict[int, list[int]] = {}
            for i in range(1, n - 1):
                b = 1 + (rns[i] - 2) * n_buckets // (n - 2)
                buckets.setdefault(b, []).append(i)
            keep = [0]
            prev = 0
            for b in range(1, n_buckets + 1):
                idxs = buckets.get(b, [])
                if not idxs:
                    continue
                if b < n_buckets and buckets.get(b + 1):
                    nxt = buckets[b + 1]
                    cnt = len(nxt)
                    sx = sum(rns[j] for j in nxt)
                    sy = sum(cents[j] for j in nxt)
                else:  # last interior bucket aims at the final point
                    cnt, sx, sy = 1, rns[n - 1], cents[n - 1]
                best, best_area = None, -1
                for i in idxs:
                    area = abs(
                        (rns[prev] * cnt - sx) * (cents[i] - cents[prev])
                        - (rns[prev] - rns[i]) * (sy - cents[prev] * cnt)
                    )
                    if area > best_area:  # strict: ties keep smaller rn
                        best, best_area = i, area
                keep.append(best)
                prev = best
            keep.append(n - 1)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[keep],
                "rn": [rns[i] for i in keep],
                "h": pdf["h"].iloc[keep],
                "val_cents": [cents[i] for i in keep],
            }
        )

    return hourly.groupBy("event_type").applyInPandas(
        lttb, "event_type string, rn long, h string, val_cents long"
    )


_ACF_LAGS = [1, 2, 3]


@query(
    "q_ts_acf",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS spend
      FROM events GROUP BY 1, 2
    ), lags AS (
      SELECT unnest([{", ".join(str(g) for g in _ACF_LAGS)}]) AS lag
    )
    SELECT a.event_type, l.lag,
           count(*) AS n_pairs,
           round(corr(a.spend, b.spend), 4) AS acf
    FROM daily a
    CROSS JOIN lags l
    JOIN daily b ON b.event_type = a.event_type AND b.d = a.d + l.lag
    GROUP BY 1, 2
    """,
)
def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation (Pearson form over lagged day pairs) of
    each event type's daily spend series at lags 1..3 — the
    periodicity/persistence diagnostic run before any forecasting model
    (and the ACF half of a Box-Jenkins identification step).

    Pairing is by CALENDAR day arithmetic (join on d+lag), not row
    adjacency, so missing days pair with nothing instead of silently
    pairing across gaps — both engines join the identical exact-decimal
    day grid. corr over identical double inputs is continuous under
    round(4) (sqlutil law, same posture as q_ts_corr_matrix).

    Scale: raw events collapse to one row per (type, day) FIRST (one
    shuffle, map-side partial decimal sums); the lagged self-join and
    the final (type, lag) aggregate run on the tiny rollup (days ×
    types rows) — at 100 TB the rollup is megabytes, so the join is a
    broadcast and total cost is one scan + one shuffle."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("d")
        )
        .agg(
            F.sum(F.col("value").cast("decimal(28,2)"))
            .cast("double")
            .alias("spend")
        )
        .persist()
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(g) for g in _ACF_LAGS])).alias("lag")
    )
    a = daily.alias("a").crossJoin(F.broadcast(lags).alias("l"))
    b = daily.alias("b")
    paired = a.join(
        F.broadcast(b),
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.d") == F.expr("date_add(a.d, l.lag)")),
    )
    out = (
        paired.groupBy(
            F.col("a.event_type").alias("event_type"), F.col("l.lag").alias("lag")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("a.spend", "b.spend"), 4).alias("acf"),
        )
        .transform(checkpoint)  # (type, lag) rows; release the daily rollup
    )
    daily.unpersist()
    return out


_WINSOR_LO = 0.05
_WINSOR_HI = 0.95


@query(
    "q_ts_winsorize",
    oracle=f"""
    WITH cuts AS (
      SELECT event_type,
             CAST(round(CAST(quantile_cont(value, {_WINSOR_LO}) AS DECIMAL(18,6)), 4) AS DOUBLE) AS p05,
             CAST(round(CAST(quantile_cont(value, {_WINSOR_HI}) AS DECIMAL(18,6)), 4) AS DOUBLE) AS p95
      FROM events GROUP BY event_type
    ), clipped AS (
      SELECT e.event_type, c.p05, c.p95, e.value,
             least(greatest(e.value, c.p05), c.p95) AS w
      FROM events e JOIN cuts c ON c.event_type = e.event_type
    )
    SELECT event_type, count(*) AS n,
           any_value(p05) AS p05, any_value(p95) AS p95,
           CAST(sum(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           CAST((2 * CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
                 + count(*)) // (2 * count(*)) AS DOUBLE) / 100.0 AS mean_before,
           CAST((2 * CAST(sum(CAST(w AS DECIMAL(18,4)) * 10000) AS BIGINT)
                 + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0 AS mean_after
    FROM clipped GROUP BY event_type
    """,
)
def q_ts_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust scaling audit: clip each event type's value at
    its own exact p05/p95, reporting cut points, clip counts, and the
    mean before/after — the outlier-capping preprocessing step (and its
    QA report) run before any mean-based downstream statistic.

    Determinism: interpolated percentiles of 2-decimal inputs are exact
    4-decimal values (the interpolation fraction has 2 decimals), so
    both engines recover them through the DECIMAL(18,6)->round(4) cast
    (sqlutil law); clipping compares identical doubles. Both means use
    the all-integer half-up idiom — values scaled to exact integer
    cents (before) / 1e-4 units (after), summed as int64, divided
    half-up in integer space — so no float division ever happens.

    Scale: percentile is a per-group sort-based aggregate (5 groups) —
    the approx_percentile sketch is the 100 TB stand-in, same shape
    (q_agg_approx_percentile documents that twin); the clip pass itself
    is map-side against broadcast cut points plus one final shuffle."""
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    cuts = ev.groupBy("event_type").agg(
        dec_round(
            F.expr(f"percentile(value, {_WINSOR_LO})"), 6, 4
        ).alias("p05"),
        dec_round(
            F.expr(f"percentile(value, {_WINSOR_HI})"), 6, 4
        ).alias("p95"),
    )
    clipped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "value",
        "p05",
        "p95",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
            "w"
        ),
    )
    agg = clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.first("p05").alias("p05"),
        F.first("p95").alias("p95"),
        F.sum((F.col("value") < F.col("p05")).cast("long")).alias("n_clip_lo"),
        F.sum((F.col("value") > F.col("p95")).cast("long")).alias("n_clip_hi"),
        F.sum(cents(F.col("value"))).alias(
            "_sum_c"
        ),
        F.sum((F.col("w").cast("decimal(18,4)") * 10000).cast("long")).alias(
            "_sum_q"
        ),
    )
    return agg.select(
        "event_type",
        "n",
        "p05",
        "p95",
        "n_clip_lo",
        "n_clip_hi",
        (
            F.expr("(2 * _sum_c + n) DIV (2 * n)").cast("double") / 100.0
        ).alias("mean_before"),
        (
            F.expr("(2 * _sum_q + n) DIV (2 * n)").cast("double") / 10000.0
        ).alias("mean_after"),
    )


@query(
    "q_ts_theil_sen",
    oracle=f"""
    WITH daily AS ({_sql_events_daily_cents(_SQL_DAY_IDX, "x")}
    ), slopes AS (
      SELECT a.event_type,
             CAST(b.cents - a.cents AS DOUBLE) / (b.x - a.x) AS slope,
             a.x AS xi, b.x AS xj
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.x > a.x
    ), ranked AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope, xi, xj) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_pairs
      FROM slopes
    )
    SELECT r.event_type,
           d.n_days,
           any_value(r.n_pairs) AS n_pairs,
           round(min(CASE WHEN rn = (n_pairs + 1) // 2 THEN slope END), 6)
               AS theil_sen_slope_cents
    FROM ranked r
    JOIN (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1) d
      ON d.event_type = r.event_type
    GROUP BY 1, 2
    """,
)
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimate per event type: the LOWER MEDIAN
    of all pairwise day-to-day slopes of the daily spend series (in
    cents/day) — the outlier-proof alternative to least-squares trend
    (one wild day corrupts regr_slope; it moves a rank-median slope by
    at most one position).

    Determinism: slopes are ratios of exact integers (cents delta /
    day delta) — identical doubles in both engines; the median is a
    pure ORDER STATISTIC (row_number = (n+1) DIV 2 with (slope, xi, xj)
    total order), never an interpolation, so no rounding law is even
    needed; round(6) only trims the printed ratio.

    Scale: raw events collapse to one row per (type, day) first; the
    pairwise slope join runs on the tiny rollup (days^2/2 pairs per
    type — ~500 at a month horizon, invariant in row count). For
    multi-year horizons the standard downgrade is Siegel's repeated
    median or a windowed Theil–Sen over bounded lag pairs — same
    rollup-first shape."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            _day_idx().alias("x"),
        )
        .agg(F.sum(cents(F.col("value"))).alias("cents"))
        .persist()
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        F.broadcast(b),
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.x") > F.col("a.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / (F.col("b.x") - F.col("a.x"))
        ).alias("slope"),
        F.col("a.x").alias("xi"),
        F.col("b.x").alias("xj"),
    )
    w_rank = Window.partitionBy("event_type").orderBy("slope", "xi", "xj")
    w_all = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_pairs"),
    )
    n_days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    out = (
        ranked.groupBy("event_type")
        .agg(
            F.first("n_pairs").alias("n_pairs"),
            F.round(
                F.min(
                    F.when(
                        F.col("rn") == F.expr("(n_pairs + 1) DIV 2"),
                        F.col("slope"),
                    )
                ),
                6,
            ).alias("theil_sen_slope_cents"),
        )
        .join(F.broadcast(n_days), "event_type")
        .select(
            "event_type", "n_days", "n_pairs", "theil_sen_slope_cents"
        )
        .transform(checkpoint)  # per-type rows; release the daily rollup
    )
    daily.unpersist()
    return out


_M4_BUCKETS = 16


@query(
    "q_ts_m4_downsample",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                            date_trunc('hour', ts)) AS BIGINT) AS h,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
                 AS cents
      FROM events GROUP BY 1, 2
    ), spans AS (
      SELECT event_type, min(h) AS h_lo, max(h) AS h_hi
      FROM hourly GROUP BY 1
    ), bucketed AS (
      SELECT hr.event_type,
             least(({_M4_BUCKETS} * (hr.h - s.h_lo))
                   // greatest(s.h_hi - s.h_lo + 1, 1),
                   {_M4_BUCKETS - 1}) AS bucket,
             hr.h, hr.cents
      FROM hourly hr JOIN spans s ON s.event_type = hr.event_type
    )
    SELECT event_type, bucket,
           count(*) AS n_points,
           min(cents) AS min_cents,
           max(cents) AS max_cents,
           min(CASE WHEN h = h_first THEN cents END) AS first_cents,
           min(CASE WHEN h = h_last THEN cents END) AS last_cents
    FROM (
      SELECT *, min(h) OVER (PARTITION BY event_type, bucket) AS h_first,
                max(h) OVER (PARTITION BY event_type, bucket) AS h_last
      FROM bucketed
    )
    GROUP BY 1, 2
    """,
)
def q_ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB'14): each
    series' hourly cents stream reduced to {_M4_BUCKETS} pixel-column
    buckets carrying min/max/first/last — the four values that make a
    line chart render pixel-identically to the full series. The
    width-proportional bucket index is pure integer arithmetic
    (16*(h-lo) // span, clamped), first/last resolve through the
    bucket's min/max HOUR (unique per series — hours are the grain), so
    there is zero float surface anywhere.

    LTTB (q_ts_lttb_downsample) keeps perceptually-important points;
    M4 is the error-free rasterization guarantee — engines ship both.

    Scale: one (type, hour) rollup shuffle, a 5-row span aggregate
    joined broadcast, then one (type, bucket) window+agg over the tiny
    rollup. Raw events are touched exactly once."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (
            F.floor(
                (
                    F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
                    - F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
                )
                / 3600
            )
        ).cast("long").alias("h"),
    ).agg(F.sum(cents(F.col("value"))).alias("cents"))
    spans = hourly.groupBy("event_type").agg(
        F.min("h").alias("h_lo"), F.max("h").alias("h_hi")
    )
    bucketed = hourly.join(F.broadcast(spans), "event_type").select(
        "event_type",
        "h",
        "cents",
        F.least(
            F.expr(
                f"({_M4_BUCKETS} * (h - h_lo))"
                " DIV greatest(h_hi - h_lo + 1, 1)"
            ),
            F.lit(_M4_BUCKETS - 1),
        ).alias("bucket"),
    )
    w = Window.partitionBy("event_type", "bucket")
    marked = bucketed.select(
        "event_type",
        "bucket",
        "h",
        "cents",
        F.min("h").over(w).alias("h_first"),
        F.max("h").over(w).alias("h_last"),
    )
    return marked.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.min(
            F.when(F.col("h") == F.col("h_first"), F.col("cents"))
        ).alias("first_cents"),
        F.min(
            F.when(F.col("h") == F.col("h_last"), F.col("cents"))
        ).alias("last_cents"),
    )


@query(
    "q_ts_wow_growth",
    oracle="""
    WITH weekly AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) // 7
                 AS week,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
                 AS cents
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, week, cents,
             lag(cents) OVER (PARTITION BY event_type ORDER BY week)
                 AS prev_cents
      FROM weekly
    )
    SELECT event_type, week, cents, prev_cents,
           CAST((2000 * (cents - prev_cents)
                 + sign(cents - prev_cents) * prev_cents)
                // (2 * prev_cents) AS BIGINT) AS growth_permille
    FROM lagged WHERE prev_cents IS NOT NULL
    """,
)
def q_ts_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type in half-up integer permille
    — the period-over-period reporting primitive every dashboard tile
    wants, composed from the rollup-then-window pattern (q_win_lag_lead
    applied to a calendar bucket instead of a raw row).

    Negative growth stays exact: the half-up idiom gains a
    sign(delta) term so rounding is half-AWAY-FROM-ZERO symmetrically,
    and both engines' integer division truncates toward zero
    identically (Spark DIV == DuckDB //, verified in the round-4
    ADVICE). Weekly cents are exact int64; no float exists anywhere.

    Scale: one (type, week) rollup shuffle over raw events, then a
    window over the tiny rollup — the continuous-aggregate shape."""
    ev = t(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type",
        F.expr(
            "CAST(datediff(to_date(ts), DATE '2024-01-01') AS BIGINT) DIV 7"
        ).alias("week"),
    ).agg(F.sum(cents(F.col("value"))).alias("cents"))
    w = Window.partitionBy("event_type").orderBy("week")
    lagged = weekly.select(
        "event_type",
        "week",
        "cents",
        F.lag("cents").over(w).alias("prev_cents"),
    ).filter(F.col("prev_cents").isNotNull())
    return lagged.select(
        "event_type",
        "week",
        "cents",
        "prev_cents",
        F.expr(
            "CAST((2000 * (cents - prev_cents)"
            " + CAST(sign(cents - prev_cents) AS BIGINT) * prev_cents)"
            " DIV (2 * prev_cents) AS BIGINT)"
        ).alias("growth_permille"),
    )


_XCORR_LAGS = [-2, -1, 0, 1, 2]
_XCORR_A = "purchase"
_XCORR_B = "view"


@query(
    "q_ts_cross_correlation",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS spend
      FROM events
      WHERE event_type IN ('{_XCORR_A}', '{_XCORR_B}')
      GROUP BY 1, 2
    ), lags AS (
      SELECT unnest([{", ".join(str(g) for g in _XCORR_LAGS)}]) AS lag
    )
    SELECT l.lag,
           count(*) AS n_pairs,
           round(corr(a.spend, b.spend), 4) AS xcorr
    FROM daily a
    CROSS JOIN lags l
    JOIN daily b ON b.event_type = '{_XCORR_B}'
              AND a.event_type = '{_XCORR_A}'
              AND b.d = a.d + l.lag
    GROUP BY 1
    """,
)
def q_ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between two series (daily purchase vs
    view spend) at lags −2..+2 — the lead/lag detector that answers
    "does viewing activity LEAD purchasing, and by how many days?"
    (peak at a negative lag = views lead). Pairs with q_ts_acf, which
    correlates a series with itself; together they're the Box-Jenkins
    identification pair.

    Same determinism posture as ACF: exact-decimal daily totals, the
    engines' two-pass corr over identical inputs, round(4). Plan: one
    filtered daily rollup (tiny), a 5-row lag dimension broadcast-
    crossed in, and a calendar-shifted self-join on the rollup — all
    rollup-sized; the fact scan is the only data-sized stage."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_XCORR_A, _XCORR_B)
    )
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(28,2)"))
        .cast("double")
        .alias("spend")
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(g) for g in _XCORR_LAGS])).alias("lag")
    )
    a = daily.filter(F.col("event_type") == _XCORR_A).alias("a")
    b = daily.filter(F.col("event_type") == _XCORR_B).alias("b")
    paired = (
        a.crossJoin(F.broadcast(lags).alias("l"))
        .join(
            F.broadcast(b),
            F.col("b.d") == F.expr("date_add(a.d, l.lag)"),
        )
    )
    return paired.groupBy(F.col("l.lag").alias("lag")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.corr("a.spend", "b.spend"), 4).alias("xcorr"),
    )


_HAMPEL_DAILY_SQL = """
      SELECT o_orderdate AS day,
             CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01'
                  AS BIGINT) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2"""


@query(
    "q_ts_hampel",
    oracle=f"""
    WITH daily AS ({_HAMPEL_DAILY_SQL}
    ), offsets AS (
      SELECT * FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) v(off)
    ), contrib AS (
      SELECT daily.d + off AS center, cents FROM daily CROSS JOIN offsets
    ), med AS (
      SELECT center, CAST(median(cents) AS BIGINT) AS med_cents
      FROM contrib GROUP BY center HAVING count(*) = 7
    ), mad AS (
      SELECT c.center,
             CAST(median(abs(c.cents - m.med_cents)) AS BIGINT)
                 AS mad_cents
      FROM contrib c JOIN med m ON m.center = c.center
      GROUP BY c.center
    )
    SELECT daily.day, daily.cents, m.med_cents, a.mad_cents,
           abs(daily.cents - m.med_cents) - 3 * a.mad_cents AS excess,
           abs(daily.cents - m.med_cents) - 3 * a.mad_cents > 0
               AS is_outlier
    FROM daily
    JOIN med m ON m.center = daily.d
    JOIN mad a ON a.center = daily.d
    ORDER BY excess DESC, daily.day ASC
    LIMIT 10
    """,
)
def q_ts_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over the daily order-revenue series: each day with
    a full ±3-day neighborhood is scored against the rolling MEDIAN and
    rolling MAD (median absolute deviation), and flagged when
    |x − med| > 3·MAD — the robust spike detector that, unlike the
    z-score (q_ts_anomaly), is not itself corrupted by the spike. The
    top-10 days by threshold excess are emitted, flag included, so the
    output is non-empty even on a quiet series.

    Exactness: 7-element medians of int64 cents are order statistics
    (odd count — never interpolated), so med, MAD, and the excess are
    exact integers in both engines. The ±3 window is materialized as an
    explode-to-center equi-join (7 rows per day), never a range self-
    join: one shuffle on the center key, aggregates bounded by the day
    grid. The raw fact collapses to the daily rollup first — the only
    data-sized stage at 100 TB."""
    daily = _orders_daily_cents(spark, sf_dir).persist()
    contrib = daily.select(
        "d",
        "cents",
        F.explode(F.array(*[F.lit(i) for i in range(-3, 4)])).alias(
            "off"
        ),
    ).select((F.col("d") + F.col("off")).alias("center"), "cents")
    med = (
        contrib.groupBy("center")
        .agg(
            F.count(F.lit(1)).alias("n7"),
            F.expr("CAST(percentile(cents, 0.5) AS BIGINT)").alias(
                "med_cents"
            ),
        )
        .filter(F.col("n7") == 7)
        .select(F.col("center").alias("mcenter"), "med_cents")
    )
    mad = (
        contrib.join(med, contrib.center == med.mcenter)
        .select(
            F.col("mcenter").alias("c2"),
            F.abs(F.col("cents") - F.col("med_cents")).alias("dev"),
        )
        .groupBy("c2")
        .agg(
            F.expr("CAST(percentile(dev, 0.5) AS BIGINT)").alias(
                "mad_cents"
            )
        )
    )
    excess = F.abs(F.col("cents") - F.col("med_cents")) - 3 * F.col(
        "mad_cents"
    )
    out = (
        daily.join(med, daily.d == med.mcenter)
        .join(mad, daily.d == F.col("c2"))
        .select(
            "day",
            "cents",
            "med_cents",
            "mad_cents",
            excess.alias("excess"),
            (excess > 0).alias("is_outlier"),
        )
        .orderBy(F.col("excess").desc(), F.col("day").asc())
        .limit(10)
        .transform(checkpoint)  # 10 rows; release the daily rollup
    )
    daily.unpersist()
    return out


@query(
    "q_ts_drawdown",
    oracle=f"""
    WITH daily AS ({_HAMPEL_DAILY_SQL}
    ), cum AS (
      SELECT day, d,
             CAST(sum(cents) OVER w AS BIGINT) AS cum_cents
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), curve AS (
      SELECT day, cum_cents,
             CAST(max(cum_cents) OVER w AS BIGINT) AS peak_cents
      FROM cum
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT day, cum_cents, peak_cents,
           peak_cents - cum_cents AS dd_cents,
           (2 * 1000 * (peak_cents - cum_cents) + peak_cents)
             // (2 * peak_cents) AS dd_permille
    FROM curve
    ORDER BY dd_cents DESC, day ASC
    LIMIT 5
    """,
)
def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of cumulative daily order revenue: running
    total, running peak, and the gap between them per day, with the
    top-5 deepest drawdown days (absolute cents + half-up permille of
    the peak) — the canonical "how far below the high-water mark did
    the curve sink" risk statistic.

    All-integer: the cumulative sum, running max, gap, and permille
    never leave int64 (cumulative revenue at sf0.1 is ~2·10^12 cents;
    2000x that is still safely inside int64). Plan: the fact collapses
    to the ~2,400-row daily rollup first; both windows and the top-5
    run on that tiny relation. The sequential-scan prefix structure is
    inherent to the statistic — at 100 TB the rollup is still the only
    shuffle."""
    daily = _orders_daily_cents(spark, sf_dir)
    w_cum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day", "d", F.sum("cents").over(w_cum).alias("cum_cents")
    )
    curve = cum.select(
        "day",
        "cum_cents",
        F.max("cum_cents").over(w_cum).alias("peak_cents"),
    )
    return (
        curve.select(
            "day",
            "cum_cents",
            "peak_cents",
            (F.col("peak_cents") - F.col("cum_cents")).alias("dd_cents"),
            F.expr(
                "(2 * 1000 * (peak_cents - cum_cents) + peak_cents)"
                " DIV (2 * peak_cents)"
            ).alias("dd_permille"),
        )
        .orderBy(F.col("dd_cents").desc(), F.col("day").asc())
        .limit(5)
    )


@query(
    "q_ts_ar1",
    oracle=f"""
    WITH daily AS ({_sql_events_daily_cents(_SQL_DAY_IDX)}
    ), lagged AS (
      SELECT event_type, cents AS y,
             lag(cents) OVER (PARTITION BY event_type ORDER BY d) AS x,
             lag(d) OVER (PARTITION BY event_type ORDER BY d) AS d_prev,
             d
      FROM daily
    ), pairs AS (
      SELECT event_type, y, x FROM lagged
      WHERE x IS NOT NULL AND d = d_prev + 1
    ), moments AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(x AS DECIMAL(19,0)) * x) AS sxx,
             sum(CAST(x AS DECIMAL(19,0)) * y) AS sxy
      FROM pairs GROUP BY event_type
    )
    SELECT event_type, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
             AS phi,
           CAST(round((CAST(sy AS DOUBLE)
                 - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 0)
                AS BIGINT) AS intercept_cents
    FROM moments ORDER BY event_type
    """,
)
def q_ts_ar1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) fit per event type on the daily spend series: phi and the
    intercept of the one-step autoregression y_t = c + phi·y_{t-1},
    estimated by OLS over CONSECUTIVE-day pairs only (a gap breaks the
    pair — lagging across gaps would regress on the wrong horizon).
    The mean-reversion/persistence diagnostic that decides whether
    yesterday predicts today; pairs with q_ts_acf (which measures
    correlation at fixed lags) and q_ts_holt_forecast (which assumes
    trend persistence).

    Exactness: sx/sy accumulate in int64 (daily cents ≈1e9 at 100×,
    ×29 pairs ≈ 1e10 — nine digits of headroom); the QUADRATIC sums
    sxx/sxy widen their first factor to DECIMAL(19,0) before the
    multiply (measured r08 at 100×: x² ≈ 1e18 folds to sxx ≈ 3.2e18 —
    int64 would survive this decade with only 2.9× margin and die at
    the next, so the accumulator is decimal by law); the Cramer
    products n·sxx and sx·sx (≈9.3e19 at 100× — PAST int64, the r08
    sweep caught exactly this) fold as per-factor-cast doubles, each
    step a correctly-rounded IEEE op on identical inputs in both
    engines; one round-4 tail (the linreg-2f law). Plan: fact
    collapses to the per-type daily rollup, one lag window per type,
    a 5-row moment fold."""
    daily = _events_daily_cents(spark, sf_dir, _day_idx())
    w_lag = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        F.col("cents").alias("y"),
        F.lag("cents").over(w_lag).alias("x"),
        F.lag("d").over(w_lag).alias("d_prev"),
        "d",
    )
    pairs = lagged.filter(
        F.col("x").isNotNull() & (F.col("d") == F.col("d_prev") + 1)
    )
    moments = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
    )
    slope = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return moments.select(
        "event_type",
        "n",
        F.expr(f"round({slope}, 4)").alias("phi"),
        F.expr(
            f"CAST(round((CAST(sy AS DOUBLE) - {slope}"
            f" * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 0)"
            f" AS BIGINT)"
        ).alias("intercept_cents"),
    ).orderBy("event_type")


@query(
    "q_ts_sax",
    oracle=f"""
    WITH daily AS ({_sql_events_daily_cents(_SQL_DAY_IDX)}
    ), lettered AS (
      SELECT event_type, d,
             chr(CAST(96 + ntile(4) OVER (PARTITION BY event_type
                 ORDER BY cents, d) AS INTEGER)) AS letter
      FROM daily
    )
    SELECT event_type,
           string_agg(CASE WHEN rn <= 10 THEN letter END, ''
                      ORDER BY d) AS sax10,
           CAST(sum(CASE WHEN letter = 'a' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN letter = 'b' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN letter = 'c' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_c,
           CAST(sum(CASE WHEN letter = 'd' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_d
    FROM (
      SELECT event_type, d, letter,
             row_number() OVER (PARTITION BY event_type ORDER BY d)
                 AS rn
      FROM lettered
    )
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based SAX symbolization of the daily spend series: each
    day's total maps to a quartile letter a-d via ntile over the
    (cents, day) total order — rank cuts, not Gaussian breakpoints, so
    the alphabet assignment is integer-decided with no z-score float
    surface (the q_llm_ccnet_buckets tercile idiom). Emits each type's
    first-10-day motif string plus the letter histogram — the
    discretization that makes series comparable by string distance.

    Plan: fact → per-type daily rollup (the only data-sized stage),
    one ntile window + one row_number window per type over the ~30-row
    series, 5-row agg. The motif string is a bounded 10-char
    projection, never an unbounded concat."""
    daily = _events_daily_cents(spark, sf_dir, _day_idx())
    w_rank = Window.partitionBy("event_type").orderBy("cents", "d")
    w_day = Window.partitionBy("event_type").orderBy("d")
    lettered = daily.select(
        "event_type",
        "d",
        F.chr(F.ntile(4).over(w_rank) + 96).alias("letter"),
    ).withColumn("rn", F.row_number().over(w_day))
    return (
        lettered.groupBy("event_type")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "CASE WHEN rn <= 10 THEN struct(d, letter) END)),"
                " x -> x.letter), '')"
            ).alias("sax10"),
            F.sum(F.when(F.col("letter") == "a", 1).otherwise(0)).alias(
                "n_a"
            ),
            F.sum(F.when(F.col("letter") == "b", 1).otherwise(0)).alias(
                "n_b"
            ),
            F.sum(F.when(F.col("letter") == "c", 1).otherwise(0)).alias(
                "n_c"
            ),
            F.sum(F.when(F.col("letter") == "d", 1).otherwise(0)).alias(
                "n_d"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q_ts_forecast_eval",
    oracle=f"""
    WITH daily AS ({_sql_events_daily_cents(_SQL_DAY_IDX)}
    ), lagged AS (
      SELECT event_type, d, cents,
             lag(cents, 1) OVER w AS naive_hat,
             lag(d, 1) OVER w AS d1,
             lag(cents, 7) OVER w AS snaive_hat,
             lag(d, 7) OVER w AS d7
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ), stacked AS (
      SELECT event_type, 'naive_lag1' AS method,
             abs(cents - naive_hat) AS ae, cents
      FROM lagged WHERE naive_hat IS NOT NULL AND d = d1 + 1
      UNION ALL
      SELECT event_type, 'seasonal_lag7' AS method,
             abs(cents - snaive_hat) AS ae, cents
      FROM lagged WHERE snaive_hat IS NOT NULL AND d = d7 + 7
    )
    SELECT event_type, method, count(*) AS n_days,
           CAST((2 * sum(ae) + count(*)) // (2 * count(*)) AS BIGINT)
               AS mae_cents,
           CAST((2 * 1000 * sum(ae) + sum(cents))
                // (2 * sum(cents)) AS BIGINT) AS wape_permille
    FROM stacked GROUP BY 1, 2 ORDER BY event_type, method
    """,
)
def q_ts_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest per event type: the naive (yesterday repeats)
    and seasonal-naive (last week's same weekday repeats) baselines are
    scored against the realized daily spend with half-up MAE in cents
    and WAPE permille (Σ|err| / Σactual — ONE rational, unlike MAPE's
    per-day division, so it stays integer-exact and is robust to small
    denominators). Forecasts only count when the lag really is 1 (or
    7) calendar days — gaps break the pair, the q_ts_ar1 law. The
    benchmark every fancier model (Holt, AR(1)) must beat.

    Plan: fact → per-type daily rollup, ONE lag window per type
    computing both horizons, a stacked union of the two scored views,
    and a 10-row aggregate. One data-sized stage at any scale."""
    daily = _events_daily_cents(spark, sf_dir, _day_idx())
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "d",
        "cents",
        F.lag("cents", 1).over(w).alias("naive_hat"),
        F.lag("d", 1).over(w).alias("d1"),
        F.lag("cents", 7).over(w).alias("snaive_hat"),
        F.lag("d", 7).over(w).alias("d7"),
    ).transform(checkpoint)  # feeds both stacked branches
    naive = lagged.filter(
        F.col("naive_hat").isNotNull() & (F.col("d") == F.col("d1") + 1)
    ).select(
        "event_type",
        F.lit("naive_lag1").alias("method"),
        F.abs(F.col("cents") - F.col("naive_hat")).alias("ae"),
        "cents",
    )
    snaive = lagged.filter(
        F.col("snaive_hat").isNotNull()
        & (F.col("d") == F.col("d7") + 7)
    ).select(
        "event_type",
        F.lit("seasonal_lag7").alias("method"),
        F.abs(F.col("cents") - F.col("snaive_hat")).alias("ae"),
        "cents",
    )
    return (
        naive.unionAll(snaive)
        .groupBy("event_type", "method")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr(
                "CAST((2 * sum(ae) + count(1)) DIV (2 * count(1))"
                " AS BIGINT)"
            ).alias("mae_cents"),
            F.expr(
                "CAST((2 * 1000 * sum(ae) + sum(cents))"
                " DIV (2 * sum(cents)) AS BIGINT)"
            ).alias("wape_permille"),
        )
        .orderBy("event_type", "method")
    )


@query(
    "q_ts_peaks",
    oracle=f"""
    WITH daily AS ({_HAMPEL_DAILY_SQL}
    ), framed AS (
      SELECT day, d, cents,
             lag(cents) OVER w AS prev_c, lag(d) OVER w AS prev_d,
             lead(cents) OVER w AS next_c, lead(d) OVER w AS next_d
      FROM daily WINDOW w AS (ORDER BY d)
    )
    SELECT day, cents,
           cents - greatest(prev_c, next_c) AS prominence_cents
    FROM framed
    WHERE prev_c IS NOT NULL AND next_c IS NOT NULL
      AND d = prev_d + 1 AND next_d = d + 1
      AND cents > prev_c AND cents > next_c
    ORDER BY prominence_cents DESC, day ASC
    LIMIT 10
    """,
)
def q_ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peak detection on the daily revenue series: a day
    is a peak when it strictly exceeds BOTH calendar neighbors (gaps
    disqualify — comparing across a missing day is not a local
    maximum), ranked by prominence against the higher neighbor, top-10.
    The event-shaped complement to q_ts_hampel's distribution-shaped
    outlier test: Hampel asks "far from the rolling median", this asks
    "strictly above both neighbors".

    All-integer (cents, integer day keys); one lag/lead window over
    the tiny daily rollup. The fact scan is the only data-sized stage
    at any scale."""
    daily = _orders_daily_cents(spark, sf_dir)
    w = Window.orderBy("d")
    framed = daily.select(
        "day",
        "d",
        "cents",
        F.lag("cents").over(w).alias("prev_c"),
        F.lag("d").over(w).alias("prev_d"),
        F.lead("cents").over(w).alias("next_c"),
        F.lead("d").over(w).alias("next_d"),
    )
    return (
        framed.filter(
            F.col("prev_c").isNotNull()
            & F.col("next_c").isNotNull()
            & (F.col("d") == F.col("prev_d") + 1)
            & (F.col("next_d") == F.col("d") + 1)
            & (F.col("cents") > F.col("prev_c"))
            & (F.col("cents") > F.col("next_c"))
        )
        .select(
            "day",
            "cents",
            (
                F.col("cents")
                - F.greatest(F.col("prev_c"), F.col("next_c"))
            ).alias("prominence_cents"),
        )
        .orderBy(F.col("prominence_cents").desc(), F.col("day").asc())
        .limit(10)
    )


@query(
    "q_ts_outage_gaps",
    oracle="""
    WITH stamped AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ), gapped AS (
      SELECT event_type,
             es - lag(es) OVER (PARTITION BY event_type ORDER BY es)
                 AS gap_s
      FROM stamped
    )
    SELECT event_type, count(gap_s) AS n_gaps,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s,
           CAST((2 * sum(gap_s) + count(gap_s))
                // (2 * count(gap_s)) AS BIGINT) AS mean_gap_s,
           CAST(sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gaps_over_1h
    FROM gapped WHERE gap_s IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_ts_outage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap monitor per stream: consecutive-event gaps in
    whole seconds (unix_timestamp floor law), with the max gap (the
    worst silence), half-up mean gap, and the count of gaps exceeding
    the 1-hour SLA — the "was the producer ever down" audit pairing
    with q_dq_freshness's "is it stale right now" view.

    Exact integers throughout (epoch seconds, integer differences).
    Plan: map-side stamping, one lag window per event type (partition
    count = stream count), a 5-row aggregate. Ties in ts order inside
    one type produce gap 0 regardless of tiebreak, so the unordered-
    duplicate window is still hash-stable."""
    stamped = t(spark, sf_dir, "events").select(
        "event_type", F.unix_timestamp("ts").alias("es")
    )
    w = Window.partitionBy("event_type").orderBy("es")
    gapped = stamped.select(
        "event_type",
        (F.col("es") - F.lag("es").over(w)).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return (
        gapped.groupBy("event_type")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.max("gap_s").alias("max_gap_s"),
            F.expr(
                "CAST((2 * sum(gap_s) + count(gap_s))"
                " DIV (2 * count(gap_s)) AS BIGINT)"
            ).alias("mean_gap_s"),
            F.sum(
                F.when(F.col("gap_s") > 3600, 1).otherwise(0)
            ).alias("n_gaps_over_1h"),
        )
        .orderBy("event_type")
    )


@query(
    "q_ts_rolling_wau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d
      FROM events
    ), days AS (
      SELECT DISTINCT d FROM du
    ), contrib AS (
      SELECT du.user_id, du.d + v.off AS center
      FROM du CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6))
        v(off)
    ), wau AS (
      SELECT c.center, count(DISTINCT c.user_id) AS wau
      FROM contrib c JOIN days ON days.d = c.center
      GROUP BY c.center
    ), dau AS (
      SELECT d, count(*) AS dau FROM du GROUP BY d
    ), bounds AS (
      SELECT min(d) AS d0 FROM du
    )
    SELECT dau.d AS day_idx, CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           (2 * 1000 * dau.dau + wau.wau) // (2 * wau.wau)
               AS stickiness_permille
    FROM dau JOIN wau ON wau.center = dau.d CROSS JOIN bounds
    WHERE dau.d >= bounds.d0 + 6
    ORDER BY dau.d
    """,
)
def q_ts_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users (WAU) against same-day distinct
    users (DAU) with the DAU/WAU stickiness permille — the engagement
    dashboard primitive. Rolling COUNT DISTINCT is not a window
    aggregate in any engine; the scale shape is the explode-to-center
    trick (each (user, day) pair contributes to the 7 trailing window
    anchors it belongs to), then one distinct-count per anchor — a
    constant 7x expansion of the DEDUPED pair relation, never of the
    raw event stream. Warm-up days (first 6) are excluded.

    All-integer. Plan: distinct (user, day) pairs (one shuffle — the
    only data-sized stage), 7x map-side explode, anchor-keyed distinct
    count, tiny DAU re-agg, 1-row min-day broadcast cross."""
    du = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            _day_idx().alias("d"),
        )
        .distinct()
        .transform(checkpoint)  # feeds contrib, days, dau, bounds
    )
    days = du.select("d").distinct()
    contrib = du.select(
        "user_id",
        F.explode(F.array(*[F.lit(i) for i in range(7)])).alias("off"),
        "d",
    ).select("user_id", (F.col("d") + F.col("off")).alias("center"))
    wau = (
        contrib.join(
            days.withColumnRenamed("d", "center"), "center", "left_semi"
        )
        .groupBy("center")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    bounds = du.agg(F.min("d").alias("d0"))
    return (
        dau.join(wau, dau.d == wau.center)
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("d") >= F.col("d0") + 6)
        .select(
            F.col("d").alias("day_idx"),
            "dau",
            "wau",
            F.expr(
                "(2 * 1000 * dau + wau) DIV (2 * wau)"
            ).alias("stickiness_permille"),
        )
        .orderBy("day_idx")
    )


@query(
    "q_ts_intraday_profile",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) % 86400 // 3600 AS hod,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
                 AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(hod AS BIGINT) AS hour_of_day, n, cents,
           CAST((2 * 1000 * n + sum(n) OVER (PARTITION BY event_type))
                // (2 * sum(n) OVER (PARTITION BY event_type))
                AS BIGINT) AS share_permille,
           CAST(max(n) OVER (PARTITION BY event_type) = n AS BOOLEAN)
               AS is_peak_hour
    FROM hourly ORDER BY event_type, hour_of_day
    """,
)
def q_ts_intraday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday load profile per stream: events and spend by UTC
    hour-of-day (epoch % 86400 DIV 3600 — pure integer arithmetic, no
    engine hour() timezone surface), each hour's permille share of its
    stream, and the peak-hour flag — capacity planning's first
    question, and the shape the ingest autoscaler consumes.

    Plan: map-side hour keying + a (type x 24)-bounded aggregate + two
    windows over that 120-cell grid. One pass at any scale."""
    hourly = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "unix_timestamp(ts) % 86400 DIV 3600"
            ).alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("cents"),
        )
    )
    w_type = Window.partitionBy("event_type")
    return (
        hourly.select(
            "event_type",
            "hour_of_day",
            "n",
            "cents",
            F.expr(
                "CAST((2 * 1000 * n + sum(n) OVER (PARTITION BY"
                " event_type)) DIV (2 * sum(n) OVER (PARTITION BY"
                " event_type)) AS BIGINT)"
            ).alias("share_permille"),
            (F.max("n").over(w_type) == F.col("n")).alias(
                "is_peak_hour"
            ),
        )
        .orderBy("event_type", "hour_of_day")
    )


@query(
    "q_ts_seasonal_index",
    oracle=f"""
    WITH keyed AS (
      SELECT ((CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01'
               AS BIGINT) + 2) % 7) + 1 AS iso_dow,
             {sql_cents('o_totalprice')}
                 AS cents
      FROM orders
    ), per_dow AS (
      SELECT iso_dow, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM keyed GROUP BY iso_dow
    )
    SELECT CAST(iso_dow AS BIGINT) AS iso_dow, n,
           CAST((2 * 1000 * CAST(s AS HUGEINT) * sum(n) OVER ()
                 + CAST(n AS HUGEINT) * sum(s) OVER ())
                // (2 * CAST(n AS HUGEINT) * sum(s) OVER ())
                AS BIGINT) AS seasonal_index_permille
    FROM per_dow ORDER BY iso_dow
    """,
)
def q_ts_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-overall-average seasonal index per ISO weekday (1000 =
    an average day): the classical multiplicative seasonality factor a
    demand planner divides out before trending. The ratio of two
    averages collapses to ONE integer rational —
    (s_d/n_d)/(S/N) = s_d·N / (n_d·S) — so the half-up permille is
    exact; weekday numbering rides the portable epoch-anchor law
    (q_fn_dow_portable). Pairs with q_ts_seasonality (which measures
    whether seasonality exists) by quantifying each day's factor.

    The 2000·s_d·N numerator overflows int64 already at sf0.1 (the
    defensive sweep caught Spark's ANSI overflow) — widened to
    DECIMAL(38)/HUGEINT per the Gini/HHI law. Plan: map-side
    keying + 7-row agg + windows over 7 rows."""
    keyed = t(spark, sf_dir, "orders").select(
        (
            (
                F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
                .cast("long")
                + 2
            )
            % 7
            + 1
        ).alias("iso_dow"),
        F.expr(
            sql_cents("o_totalprice")
        ).alias("cents"),
    )
    per_dow = keyed.groupBy("iso_dow").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    w_all = Window.orderBy("iso_dow").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_dow.select(
            "iso_dow",
            "n",
            F.expr(
                "CAST((2 * 1000 * CAST(s AS DECIMAL(38,0))"
                " * sum(n) OVER (ROWS BETWEEN UNBOUNDED PRECEDING"
                " AND UNBOUNDED FOLLOWING)"
                " + CAST(n AS DECIMAL(38,0)) * sum(s) OVER (ROWS"
                " BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED"
                " FOLLOWING)) DIV (2 * CAST(n AS DECIMAL(38,0))"
                " * sum(s) OVER (ROWS BETWEEN UNBOUNDED PRECEDING"
                " AND UNBOUNDED FOLLOWING)) AS BIGINT)"
            ).alias("seasonal_index_permille"),
        )
        .orderBy("iso_dow")
    )


@query(
    "q_ts_burstiness",
    oracle="""
    WITH types AS (
      SELECT DISTINCT event_type FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-31 00:00:00'
    ), spine AS (
      SELECT t.event_type, s.gs AS h
      FROM types t CROSS JOIN (
        SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                      TIMESTAMP '2024-01-30 23:00:00',
                                      INTERVAL 1 HOUR)) AS gs) s
    ), hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-31 00:00:00'
      GROUP BY 1, 2
    ), cells AS (
      SELECT s.event_type, coalesce(hourly.c, 0) AS c
      FROM spine s LEFT JOIN hourly
        ON hourly.event_type = s.event_type AND hourly.h = s.h
    ), m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS ss,
             CAST(max(c) AS BIGINT) AS peak
      FROM cells GROUP BY event_type
    )
    SELECT event_type, n AS n_hours, s AS n_events, peak AS peak_hour,
           CAST((2 * 1000 * (n * ss - s * s) + n * s)
                // (2 * n * s) AS BIGINT) AS fano_milli,
           CAST((2 * 1000 * n * peak + s) // (2 * s) AS BIGINT)
               AS peak_ratio_milli
    FROM m ORDER BY event_type
    """,
)
def q_ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type traffic burstiness over the ZERO-FILLED hour
    spine (round 7): Fano factor (population variance / mean of hourly
    counts — 1000‰ for a Poisson-flat stream, higher = bursty) and
    peak-to-mean ratio, both as half-up milli units. The ops metric a
    streaming-ingest operator actually alarms on: it distinguishes "10×
    more events" (mean moves, Fano stable) from "same volume arriving
    in spikes" (Fano explodes) — and the burst stress test's hot-hour
    pattern is exactly what this measures.

    Exactness: counts are integers, the spine is the FIXED fixture
    month (720 hours — constant at any corpus scale, zero-count hours
    included), and both ratios fold from (n, Σc, Σc², max) int64
    moments with one half-up integer division each — no float surface
    at all. Row universe: both engines derive the type dimension from
    the SAME January-window scan (ADVICE r07 — an off-window type must
    be absent from both, not a zero-row in one and missing in the
    other, where the oracle's 2·n·s denominator would hit 0). Margin
    law (measured, r08 — the full NUMERATOR is the bound, not Σc²
    alone): Σc² ≈ 5.7e7 at 10× data, so the fano numerator
    2000·n·Σc² ≈ 8e13 (n = 720 fixed); counts scale linearly so Σc²
    grows ×10⁴ per decade → numerator ≈ 8e17 at 100×, one order under
    int64 — the key's last safe decade without a DECIMAL widening.
    Plan: one fact scan → (type, hour) count; everything
    after lives on the 3.6k-cell spine (5 types × 720 hours, built as
    a generator explode crossed with the broadcast 5-row type dim)."""
    ev = t(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-01 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-31 00:00:00").cast("timestamp"))
    )
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        ).agg(F.count(F.lit(1)).alias("c"))
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(
        F.broadcast(
            ev.sparkSession.range(1).select(
                F.explode(
                    F.sequence(
                        F.lit("2024-01-01 00:00:00").cast("timestamp"),
                        F.lit("2024-01-30 23:00:00").cast("timestamp"),
                        F.expr("INTERVAL 1 HOUR"),
                    )
                ).alias("h")
            )
        )
    )
    cells = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    m = cells.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.max("c").alias("peak"),
    )
    return m.select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.col("s").alias("n_events"),
        F.col("peak").alias("peak_hour"),
        F.expr(
            "CAST((2 * 1000 * (n * ss - s * s) + n * s)"
            " DIV (2 * n * s) AS BIGINT)"
        ).alias("fano_milli"),
        F.expr(
            "CAST((2 * 1000 * n * peak + s) DIV (2 * s) AS BIGINT)"
        ).alias("peak_ratio_milli"),
    ).orderBy("event_type")


# Shared zero-filled daily spine for the CUSUM / DTW pair: per-type
# daily revenue cents on the (type x observed-day) grid, with
# row_number day rank r (1-based) so both operators agree on the series
# index without trusting calendar contiguity. Day id d is the epoch-day
# offset from the fixture's 2024-01-01 origin; absent (type, day) cells
# zero-fill (the q_ts_burstiness spine discipline). All-integer.
_SPINE_DAILY_SQL = f"""
    days AS (
      SELECT DISTINCT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
               AS d
      FROM events
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), daily_raw AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(sum({sql_cents('value')})
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), spine AS (
      SELECT t.event_type, dd.d,
             CAST(row_number() OVER (PARTITION BY t.event_type
                                     ORDER BY dd.d) AS BIGINT) AS r,
             coalesce(dr.cents, 0) AS cents
      FROM types t CROSS JOIN days dd
      LEFT JOIN daily_raw dr
        ON dr.event_type = t.event_type AND dr.d = dd.d
    )"""

_CUSUM_BASE_DAYS = 10  # baseline window: first 10 observed days


def _daily_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SPINE_DAILY_SQL: (event_type, d, r, cents)."""
    e = t(spark, sf_dir, "events")
    daily_raw = (
        e.select(
            "event_type",
            _day_idx().alias("d"),
            cents(F.col("value")).alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("cents").alias("cents"))
    )
    days = daily_raw.select("d").distinct()
    types = daily_raw.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(days))
        .join(daily_raw, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("d"))
            .cast("long")
            .alias("r"),
            F.coalesce(F.col("cents"), F.lit(0)).cast("long").alias("cents"),
        )
    )
    return spine


@query(
    "q_ts_cusum",
    oracle=f"""
    WITH {_SPINE_DAILY_SQL}, base AS (
      SELECT event_type,
             (2 * sum(cents) + count(*)) // (2 * count(*)) AS mu
      FROM spine WHERE r <= {_CUSUM_BASE_DAYS} GROUP BY 1
    ), mon AS (
      SELECT s.event_type, s.d, b.mu,
             s.cents - b.mu - (b.mu // 20) AS y
      FROM spine s JOIN base b USING (event_type)
      WHERE s.r > {_CUSUM_BASE_DAYS}
    ), pre AS (
      SELECT event_type, d, mu, CAST(sum(y) OVER w AS BIGINT) AS p
      FROM mon
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), cusum AS (
      SELECT event_type, d, mu,
             p - least(0, min(p) OVER w) AS s
      FROM pre
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           CAST(min(mu) AS BIGINT) AS mu_cents,
           CAST(min(mu) // 20 AS BIGINT) AS slack_cents,
           CAST(max(s) AS BIGINT) AS max_cusum_cents,
           CAST(min(CASE WHEN s > mu // 4 THEN d END) AS BIGINT)
             AS first_breach_d,
           CAST(sum(CASE WHEN s > mu // 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_breach_days
    FROM cusum GROUP BY 1 ORDER BY 1
    """,
)
def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift monitor per event type: the baseline mean
    mu (half-up cents over the first 10 observed days) plus a 5% slack
    k = mu/20 defines the in-control band; the monitor window's
    classic recurrence S_t = max(0, S_{t-1} + x_t - mu - k) flags
    sustained upward drift, with breach threshold h = mu/4.

    The recurrence looks inherently sequential, but the closed form
    S_t = P_t - min(0, min_{{j<=t}} P_j) (P = prefix sums of the
    deviations) turns it into TWO stacked window scans — fully
    declarative in both engines, no recursion, no UDF. Everything is
    int64: mu is a half-up integer mean over a constant-width window,
    slack and threshold are integer divisions of mu, deviations /
    prefix sums / running minima never leave cents.

    Plan: one fact aggregation to the (type, day) grid, a broadcast
    zero-fill spine, then windows over <=30 rows per type. At 100 TB
    the daily rollup is the only shuffle; the CUSUM scan runs on a
    kilobyte relation. first_breach_d is NULL for types that never
    breach (both engines agree on the empty-min convention)."""
    spine = _daily_spine(spark, sf_dir).transform(checkpoint)
    base = (
        spine.filter(F.col("r") <= _CUSUM_BASE_DAYS)
        .groupBy("event_type")
        .agg(
            F.expr(
                "(2 * sum(cents) + count(*)) DIV (2 * count(*))"
            ).alias("mu")
        )
    )
    mon = (
        spine.filter(F.col("r") > _CUSUM_BASE_DAYS)
        .join(F.broadcast(base), "event_type")
        .select(
            "event_type",
            "d",
            "mu",
            (
                F.col("cents") - F.col("mu") - F.expr("mu DIV 20")
            ).alias("y"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = mon.select(
        "event_type", "d", "mu", F.sum("y").over(w).alias("p")
    )
    cusum = pre.select(
        "event_type",
        "d",
        "mu",
        (
            F.col("p") - F.least(F.lit(0), F.min("p").over(w))
        ).alias("s"),
    )
    return (
        cusum.groupBy("event_type")
        .agg(
            F.min("mu").cast("long").alias("mu_cents"),
            F.expr("CAST(min(mu) DIV 20 AS BIGINT)").alias("slack_cents"),
            F.max("s").cast("long").alias("max_cusum_cents"),
            F.expr(
                "CAST(min(CASE WHEN s > mu DIV 4 THEN d END) AS BIGINT)"
            ).alias("first_breach_d"),
            F.expr(
                "CAST(sum(CASE WHEN s > mu DIV 4 THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_breach_days"),
        )
        .orderBy("event_type")
    )


@query(
    "q_ts_dtw",
    oracle=f"""
    WITH RECURSIVE {_SPINE_DAILY_SQL}, cost AS (
      SELECT s1.event_type AS type_a, s2.event_type AS type_b,
             s1.r AS i, s2.r AS j,
             abs(s1.cents - s2.cents) AS c
      FROM spine s1 JOIN spine s2 ON s1.event_type < s2.event_type
    ), nmax AS (
      SELECT max(r) AS n FROM spine
    ), dp AS (
      SELECT type_a, type_b, i, j, c AS dsum, 0 AS age
      FROM cost WHERE i = 1 AND j = 1
      UNION ALL
      SELECT * FROM (
        SELECT b.type_a, b.type_b, b.i, b.j,
               b.c + min(s.dsum) AS dsum, 0 AS age
        FROM cost b JOIN dp s
          ON s.type_a = b.type_a AND s.type_b = b.type_b AND (
               (s.age = 0 AND ((s.i = b.i - 1 AND s.j = b.j)
                               OR (s.i = b.i AND s.j = b.j - 1)))
            OR (s.age = 1 AND s.i = b.i - 1 AND s.j = b.j - 1))
        GROUP BY b.type_a, b.type_b, b.i, b.j, b.c
        UNION ALL
        SELECT type_a, type_b, i, j, dsum, 1 AS age FROM dp
        WHERE age = 0
      )
    ), l1 AS (
      SELECT s1.event_type AS type_a, s2.event_type AS type_b,
             CAST(sum(abs(s1.cents - s2.cents)) AS BIGINT) AS l1_cents
      FROM spine s1 JOIN spine s2
        ON s1.event_type < s2.event_type AND s1.r = s2.r
      GROUP BY 1, 2
    )
    SELECT d.type_a, d.type_b, CAST(nmax.n AS BIGINT) AS n_days,
           CAST(d.dsum AS BIGINT) AS dtw_cents, l1.l1_cents
    FROM dp d
    CROSS JOIN nmax
    JOIN l1 ON l1.type_a = d.type_a AND l1.type_b = d.type_b
    WHERE d.i = nmax.n AND d.j = nmax.n AND d.age = 0
    ORDER BY d.type_a, d.type_b
    """,
)
def q_ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Time Warping distance between every pair of event types'
    daily revenue series — the alignment-tolerant series distance Spark
    has no built-in for, and the documented applyInPandas case: the
    O(n^2) DP has a hard sequential dependency per pair, so each
    (type_a, type_b) group ships both zero-filled series as ONE Arrow
    batch and runs the DP in numpy int64. The aligned L1 distance rides
    along as the no-warp upper bound (DTW <= L1 by construction —
    the diagonal is one admissible path).

    Determinism: series are exact integer cents on the shared
    _SPINE_DAILY_SQL day grid, costs are integer |a_i - b_j|, and the
    DP folds in int64 (worst case ~59 cells x 6e8 cents at the 100x
    materialization — two orders inside int64), so the result is
    bit-identical to the oracle's anti-diagonal recursive-CTE DP (the
    working set carries diagonals k-1 and k as age-1/age-0 rows; each
    round joins the 3 predecessors and re-emits the frontier — the
    LTTB unrolled-DP precedent, made recursive).

    Scale: the fact collapses to the (type, day) rollup first — ONE
    shuffle; the pair table is dimension^2 x series-length rows
    (10 pairs x 30 days here), each group one task. For long series
    the production parameterization adds a Sakoe-Chiba band (cost rows
    with |i-j| <= w), which drops the per-pair DP to O(nw) without
    changing this plan shape; series length is bounded by the rollup
    resolution, never by fact cardinality."""
    spine = _daily_spine(spark, sf_dir).transform(checkpoint)
    s1 = spine.select(
        F.col("event_type").alias("type_a"),
        F.col("r").alias("r"),
        F.col("cents").alias("ca"),
    )
    s2 = spine.select(
        F.col("event_type").alias("type_b"),
        F.col("r").alias("rb"),
        F.col("cents").alias("cb"),
    )
    aligned = s1.join(
        s2,
        (F.col("type_a") < F.col("type_b")) & (F.col("r") == F.col("rb")),
    ).select("type_a", "type_b", "r", "ca", "cb")

    def dtw(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("r")
        a = pdf["ca"].to_numpy(dtype="int64")
        b = pdf["cb"].to_numpy(dtype="int64")
        n = len(a)
        big = np.iinfo(np.int64).max // 4
        d = np.full((n + 1, n + 1), big, dtype="int64")
        d[0, 0] = 0
        for i in range(1, n + 1):
            ci = np.abs(a[i - 1] - b)  # row of costs vs all j
            for j in range(1, n + 1):
                d[i, j] = ci[j - 1] + min(
                    d[i - 1, j], d[i, j - 1], d[i - 1, j - 1]
                )
        return pd.DataFrame(
            {
                "type_a": [pdf["type_a"].iloc[0]],
                "type_b": [pdf["type_b"].iloc[0]],
                "n_days": [n],
                "dtw_cents": [int(d[n, n])],
                "l1_cents": [int(np.abs(a - b).sum())],
            }
        )

    return (
        aligned.groupBy("type_a", "type_b")
        .applyInPandas(
            dtw,
            "type_a string, type_b string, n_days long,"
            " dtw_cents long, l1_cents long",
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_ts_bollinger",
    oracle=f"""
    WITH daily AS ({_sql_events_daily_cents("CAST(ts AS DATE)")}
    ), framed AS (
      SELECT event_type, d, cents,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(cents) OVER w AS BIGINT) AS s,
             sum(CAST(cents AS DECIMAL(19,0))
                 * CAST(cents AS DECIMAL(19,0))) OVER w AS q
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ), tested AS (
      SELECT event_type,
             CAST(7 AS DECIMAL(19,0)) * cents
               - CAST(s AS DECIMAL(19,0)) AS dev7,
             4 * (7 * q - CAST(s AS DECIMAL(19,0))
                          * CAST(s AS DECIMAL(19,0))) AS rhs
      FROM framed WHERE n = 7
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN dev7 > 0 AND dev7 * dev7 > rhs
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_hi,
           CAST(sum(CASE WHEN dev7 < 0 AND dev7 * dev7 > rhs
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_lo
    FROM tested GROUP BY event_type
    """,
)
def q_ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breach audit over per-type daily revenue — the
    volatility-band member of the ts family (moving_avg reports the
    centerline; this reports WHEN the series escapes ±2σ of its own
    trailing week, the alert condition every ops dashboard draws).
    Trailing 7-OBSERVED-day frame (trading-day convention — gaps
    compress, matching the moving_avg frame semantics), evaluated only
    on full frames (n = 7).

    Exactness law: the band test never takes a square root — with n
    pinned at 7, x > μ + 2σ ⇔ (7x − S)² > 4·(7Q − S²) over the frame
    sums S = Σx, Q = Σx² in integer cents; the quadratic forms run as
    DECIMAL(19,0)×DECIMAL(19,0) → 38-digit products (MEASURED by
    scripts/margin_audit.py r09: max quadratic form 1.6e17 at 100×,
    1.6e19 at 1000× — int64 crosses at the 1000× decade, one decade
    later than the pre-r09 estimate; the decimal carrier holds 18+
    decades of headroom at both).  Every output is an int64 count.

    Plan: one (type,day) rollup (the only fact-sized shuffle,
    map-side combined), a type-partitioned 7-row window and a
    type-grouped fold over the ≤ types×days bounded relation.  At
    100 TB the post-rollup relation is ≤ 5×720 rows at any scale."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("d")
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    framed = daily.select(
        "event_type",
        "cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cents").over(w).alias("s"),
        F.sum(dec(F.col("cents")) * dec(F.col("cents")))
        .over(w)
        .alias("q"),
    ).filter(F.col("n") == 7)
    tested = framed.select(
        "event_type",
        (dec(F.lit(7)) * F.col("cents") - dec(F.col("s"))).alias("dev7"),
        (
            4 * (7 * F.col("q") - dec(F.col("s")) * dec(F.col("s")))
        ).alias("rhs"),
    )
    breach = F.col("dev7") * F.col("dev7") > F.col("rhs")
    return tested.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(
            F.when((F.col("dev7") > 0) & breach, 1).otherwise(0)
        ).alias("n_breach_hi"),
        F.sum(
            F.when((F.col("dev7") < 0) & breach, 1).otherwise(0)
        ).alias("n_breach_lo"),
    )


def _acf_rho(
    spark: SparkSession, sf_dir: str, lags: tuple[int, ...]
) -> DataFrame:
    """(event_type, lag, r, n): the exact-carrier autocorrelation ρ of
    each type's daily cents series at every lag in ``lags`` — centered
    u = n·x − S in int64, lag products and Σu² in DECIMAL(38,0), one
    double ratio per ρ (q_ts_ljung_box's docstring has the law)."""
    idxd = _indexed_daily(spark, sf_dir).transform(checkpoint)
    stats = idxd.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    centered = idxd.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "i",
        (F.col("n") * F.col("cents") - F.col("s"))
        .cast("long")
        .alias("u"),
        "n",
    )
    udec = F.col("u").cast("decimal(19,0)")
    denom = centered.groupBy("event_type").agg(
        F.sum(udec * udec).alias("ssu")
    )
    lag_dim = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in lags])).alias("lag")
    )
    a = centered.alias("a").crossJoin(F.broadcast(lag_dim))
    b = centered.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.i") == F.col("a.i") + F.col("lag")),
        )
        .join(F.broadcast(denom.alias("d")), "event_type")
        .groupBy(F.col("a.event_type").alias("event_type"), "lag")
        .agg(
            (
                F.sum(
                    F.col("a.u").cast("decimal(19,0)")
                    * F.col("b.u").cast("decimal(19,0)")
                ).cast("double")
                / F.max("d.ssu").cast("double")
            ).alias("r"),
            F.max("a.n").alias("n"),
        )
    )



def _sql_acf_rho(lags: tuple[int, ...]) -> str:
    """SQL twin of :func:`_acf_rho`: the CTEs from ``daily`` to ``rho``,
    the last left open."""
    return f"""{_sql_indexed_daily()}
    ), stats2 AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM idxd GROUP BY event_type
    ), centered AS (
      -- u_i = n*x_i - S: the mean-centered series scaled by n, an
      -- EXACT int64 (the n^2 factors cancel in every rho ratio)
      SELECT i.event_type, i.i,
             CAST(s.n * i.cents - s.s AS BIGINT) AS u, s.n
      FROM idxd i JOIN stats2 s ON i.event_type = s.event_type
    ), denom AS (
      SELECT event_type,
             sum(CAST(u AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0)))
               AS ssu
      FROM centered GROUP BY 1
    ), rho AS (
      SELECT a.event_type, g.lag,
             CAST(sum(CAST(a.u AS DECIMAL(19,0))
                      * CAST(b.u AS DECIMAL(19,0))) AS DOUBLE)
               / CAST(max(d.ssu) AS DOUBLE) AS r,
             max(a.n) AS n
      FROM centered a
      JOIN (SELECT unnest([{", ".join(map(str, lags))}]) AS lag) g ON true
      JOIN centered b ON b.event_type = a.event_type
                     AND b.i = a.i + g.lag
      JOIN denom d ON d.event_type = a.event_type
      GROUP BY a.event_type, g.lag"""

@query(
    "q_ts_ljung_box",
    oracle=f"""
{_sql_acf_rho((1, 2, 3))}
    ), wide AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             max(CASE WHEN lag = 1 THEN r END) AS r1,
             max(CASE WHEN lag = 2 THEN r END) AS r2,
             max(CASE WHEN lag = 3 THEN r END) AS r3
      FROM rho GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           round(n * (n + 2.0)
                 * (r1 * r1 / (n - 1) + r2 * r2 / (n - 2)
                    + r3 * r3 / (n - 3)), 4) AS q_lb
    FROM wide
    """,
)
def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test Q(3) on each event type's daily
    spend series — the is-it-white-noise gate a forecasting pipeline
    runs AFTER fitting (on residuals) and the companion to q_ts_acf:
    acf reports the individual ρ_k, this folds them into the joint
    test statistic Q = n(n+2)·Σ_{k≤3} ρ²_k/(n−k) with the standard
    full-series-denominator ACF estimator (ρ_k = Σc_i·c_{i+k} / Σc²,
    index adjacency over OBSERVED days — the trading-day convention
    shared with q_ts_bollinger).

    Determinism (exact-carrier form, ADVICE r08 item 3): the series
    collapses to exact int64 daily CENTS; centering is carried as
    u_i = n·x_i − S — an exact int64 (|u| ≲ n·x_max ≈ 5e11 at 1000×)
    whose implicit 1/n scale cancels in every ρ ratio — and both the
    lag numerators Σu_i·u_{i+k} and the denominator Σu² fold in
    DECIMAL(38,0) (≈2.5e23 per term at 1000×, 14 orders inside the
    38-digit carrier).  Each ρ_k is then ONE double ratio of two
    exact decimals, and Q folds the 3 ρ² terms in a FIXED pivoted
    expression order — no order-sensitive double accumulation
    anywhere, so round(4) is guaranteed stable, not probabilistic.

    Plan: one (type,day) rollup — the only fact-sized shuffle — then
    index window, u self-join on (type, i+lag) and a ≤3-row
    per-type pivot, all on the days×types-bounded rollup.  At 100 TB
    the rollup is kilobytes; everything after it broadcasts."""
    rho = _acf_rho(spark, sf_dir, (1, 2, 3))
    # Pivot the 3 lags to columns so the Q fold is a FIXED expression
    # tree (t1 + t2 + t3), not an order-unpinned 3-row sum().
    wide = rho.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("r"))).alias("r3"),
    )
    q_terms = (
        F.col("r1") * F.col("r1") / (F.col("n") - 1)
        + F.col("r2") * F.col("r2") / (F.col("n") - 2)
        + F.col("r3") * F.col("r3") / (F.col("n") - 3)
    )
    return wide.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(
            F.col("n") * (F.col("n") + F.lit(2.0)) * q_terms, 4
        ).alias("q_lb"),
    )


@query(
    "q_ts_realized_vol",
    oracle=f"""
    WITH daily AS ({_sql_events_daily_cents(_SQL_DAY_IDX)}
    ), lagged AS (
      SELECT event_type, cents,
             lag(cents) OVER (PARTITION BY event_type ORDER BY d)
               AS prev,
             lag(d) OVER (PARTITION BY event_type ORDER BY d)
               AS d_prev,
             d
      FROM daily
    ), rets AS (
      SELECT event_type,
             ln(CAST(cents AS DOUBLE) / CAST(prev AS DOUBLE)) AS r
      FROM lagged
      WHERE prev IS NOT NULL AND prev > 0 AND cents > 0
        AND d = d_prev + 1
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rets,
           round(sqrt(sum(r * r)), 6) AS realized_vol,
           round(sum(r), 6) AS total_log_return
    FROM rets GROUP BY event_type ORDER BY event_type
    """,
)
def q_ts_realized_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized volatility per event type: sqrt of the sum of squared
    daily log returns over consecutive-day pairs (a calendar gap
    breaks the pair -- the q_ts_ar1 adjacency convention), plus the
    telescoping total log return. The risk/variability diagnostic a
    monitoring pipeline computes alongside the AR(1) persistence fit.

    Determinism: the series collapses to exact int64 daily cents
    first; each return is ONE ln of one double division of exact
    int64s (identical inputs -> identical doubles cross-engine);
    the per-type fold sums ~29 identical doubles (PSI posture),
    sqrt is IEEE-correctly-rounded, round-6 once per output.

    Plan: the (type,day) rollup is the only fact-sized shuffle; lag
    window and fold run over the <=days-per-type relation. At 100 TB
    the rollup is kilobytes."""
    daily = _events_daily_cents(spark, sf_dir, _day_idx())
    w_lag = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "cents",
        F.lag("cents").over(w_lag).alias("prev"),
        F.lag("d").over(w_lag).alias("d_prev"),
        "d",
    )
    rets = lagged.filter(
        F.col("prev").isNotNull()
        & (F.col("prev") > 0)
        & (F.col("cents") > 0)
        & (F.col("d") == F.col("d_prev") + 1)
    ).select(
        "event_type",
        F.log(
            F.col("cents").cast("double") / F.col("prev").cast("double")
        ).alias("r"),
    )
    return (
        rets.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rets"),
            F.round(F.sqrt(F.sum(F.col("r") * F.col("r"))), 6).alias(
                "realized_vol"
            ),
            F.round(F.sum("r"), 6).alias("total_log_return"),
        )
        .orderBy("event_type")
    )


@query(
    "q_ts_pacf2",
    oracle=f"""
{_sql_acf_rho((1, 2))}
    ), wide AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
             max(CASE WHEN lag = 1 THEN r END) AS r1,
             max(CASE WHEN lag = 2 THEN r END) AS r2
      FROM rho GROUP BY event_type
    )
    SELECT event_type, n_days, round(r1, 4) AS rho1,
           round(r2, 4) AS rho2,
           round((r2 - r1 * r1) / (1 - r1 * r1), 4) AS pacf2
    FROM wide ORDER BY event_type
    """,
)
def q_ts_pacf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lag 2 via the Durbin-Levinson closed
    form phi_22 = (rho_2 - rho_1^2) / (1 - rho_1^2) -- the diagnostic
    that separates a true AR(2) memory from lag-1 correlation echoing
    through (rho_2 ~ rho_1^2 means NO direct lag-2 effect; pacf2 ~ 0).
    Completes the identification trio: q_ts_acf reads raw correlation,
    q_ts_ljung_box tests joint whiteness, this picks the AR order.

    Determinism (exact-carrier form, ADVICE r08 item 3 — shared with
    q_ts_ljung_box): daily series as exact int64 CENTS, centering
    carried as u_i = n·x_i − S (exact int64, scale cancels), lag
    numerators and the Σu² denominator folded in DECIMAL(38,0), each
    ρ one double ratio of exact decimals; ρ feeds the
    Durbin-Levinson ratio UNROUNDED, one round(4) per output —
    nothing order-sensitive remains.

    Plan: one (type,day) rollup (the only fact-sized shuffle) + index
    window + u self-join on (type, i+lag) + per-type pivot to
    one row -- everything post-rollup is days x types-bounded."""
    rho = _acf_rho(spark, sf_dir, (1, 2))
    wide = rho.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_days"),
        F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
    )
    return wide.select(
        "event_type",
        "n_days",
        F.round("r1", 4).alias("rho1"),
        F.round("r2", 4).alias("rho2"),
        F.round(
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (1 - F.col("r1") * F.col("r1")),
            4,
        ).alias("pacf2"),
    ).orderBy("event_type")


# cos/sin(2*pi*k/7) as shortest round-trip literals: both engines parse
# the SAME decimal string to the SAME nearest double, so the weekly DFT
# basis is bit-identical cross-engine with ZERO libm trig calls.
_DFT7_COS = {
    0: "1.0",
    1: "0.6234898018587336",
    2: "-0.22252093395631434",
    3: "-0.900968867902419",
    4: "-0.9009688679024191",
    5: "-0.2225209339563146",
    6: "0.6234898018587334",
}
_DFT7_SIN = {
    0: "0.0",
    1: "0.7818314824680298",
    2: "0.9749279121818236",
    3: "0.43388373911755823",
    4: "-0.433883739117558",
    5: "-0.9749279121818236",
    6: "-0.7818314824680299",
}


def _dft7_dot(prefix: str, table: dict) -> str:
    """Fixed left-to-right 7-term dot product of the exact per-residue
    bins against the literal basis — the SAME expression tree in both
    engines, so there is no order-sensitive accumulation at all."""
    return " + ".join(
        f"CAST({prefix}{k} AS DOUBLE) * ({table[k]})" for k in range(7)
    )


@query(
    "q_ts_dft_power",
    oracle=f"""
{_sql_indexed_daily(" - 1")}
    ), stats2 AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM idxd GROUP BY event_type
    ), scaled AS (
      -- u_i = n*x_i - S (exact int64; the 1/n scale cancels at the end)
      SELECT x.event_type, x.i % 7 AS j,
             CAST(st.n * x.cents - st.s AS BIGINT) AS u, st.n
      FROM idxd x JOIN stats2 st ON st.event_type = x.event_type
    ), bins AS (
      SELECT event_type, max(n) AS n,
             {", ".join(
                 f"CAST(sum(CASE WHEN j = {k} THEN u ELSE 0 END)"
                 f" AS BIGINT) AS w{k}" for k in range(7)
             )},
             sum(CAST(u AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0)))
               AS ssu
      FROM scaled GROUP BY event_type
    ), proj AS (
      SELECT event_type, n,
             {_dft7_dot("w", _DFT7_COS)} AS ncs,
             {_dft7_dot("w", _DFT7_SIN)} AS nsn,
             CAST(ssu AS DOUBLE) AS nss
      FROM bins
    )
    SELECT event_type, n AS n_days,
           round(2.0 * sqrt(ncs * ncs + nsn * nsn)
                 / (CAST(n AS DOUBLE) * n), 2)
             AS weekly_amplitude_cents,
           round((ncs * ncs + nsn * nsn) / (CAST(n AS DOUBLE) / 2)
                 / nss, 6)
             AS weekly_power_share
    FROM proj ORDER BY event_type
    """,
)
def q_ts_dft_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-bin discrete Fourier transform at the weekly frequency:
    per event type, project the mean-centered daily series onto
    cos/sin(2*pi*i/7) and report the implied weekly amplitude (cents)
    and the share of total variance the weekly bin explains -- the
    targeted periodogram question ("is there day-of-week structure,
    how strong") that q_ts_seasonality answers by grouping and this
    answers spectrally. Indexing is over observed days (the house
    trading-day convention).

    Determinism (exact-carrier form, ADVICE r08 item 3): the 14 basis
    values are shortest-round-trip DOUBLE LITERALS keyed by i % 7 --
    both engines parse the same string to the same bits, ZERO libm
    trig anywhere.  The centered series is carried as u_i = n·x_i − S
    (exact int64) and FIRST folded into the 7 per-residue integer
    bins w_j = Σ_(i≡j mod 7) u_i (exact; ≈5e13 at 1000×), so each
    projection is a FIXED 7-term literal dot product — no
    order-sensitive double accumulation survives anywhere; Σu² folds
    in DECIMAL(38,0).  The 1/n scale cancels in both outputs.

    Plan: one (type,day) rollup (the only fact-sized shuffle) + index
    window + one 7-bin fold over the days x types-bounded relation."""
    daily = _events_daily_cents(spark, sf_dir, F.col("ts").cast("date"))
    idxd = daily.select(
        "event_type",
        "cents",
        (
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("d"))
            - 1
        ).alias("i"),
    ).transform(checkpoint)
    stats = idxd.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    scaled = idxd.join(F.broadcast(stats), "event_type").select(
        "event_type",
        (F.col("i") % 7).alias("j"),
        (F.col("n") * F.col("cents") - F.col("s"))
        .cast("long")
        .alias("u"),
        "n",
    )
    udec = F.col("u").cast("decimal(19,0)")
    bins = scaled.groupBy("event_type").agg(
        F.max("n").alias("n"),
        *[
            F.sum(F.when(F.col("j") == k, F.col("u")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"w{k}")
            for k in range(7)
        ],
        F.sum(udec * udec).alias("ssu"),
    )

    def dot(table: dict):
        out = F.col("w0").cast("double") * F.lit(float(table[0]))
        for k in range(1, 7):
            out = out + F.col(f"w{k}").cast("double") * F.lit(
                float(table[k])
            )
        return out

    proj = bins.select(
        "event_type",
        "n",
        dot(_DFT7_COS).alias("ncs"),
        dot(_DFT7_SIN).alias("nsn"),
        F.col("ssu").cast("double").alias("nss"),
    )
    return proj.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(
            2.0
            * F.sqrt(
                F.col("ncs") * F.col("ncs") + F.col("nsn") * F.col("nsn")
            )
            / (F.col("n").cast("double") * F.col("n")),
            2,
        ).alias("weekly_amplitude_cents"),
        F.round(
            (F.col("ncs") * F.col("ncs") + F.col("nsn") * F.col("nsn"))
            / (F.col("n").cast("double") / 2)
            / F.col("nss"),
            6,
        ).alias("weekly_power_share"),
    ).orderBy("event_type")


@query(
    "q_ts_spc_rules",
    oracle=f"""
{_sql_indexed_daily()}
    ), base AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(cents) AS BIGINT) AS sb,
             sum(CAST(cents AS DECIMAL(19,0))
                 * CAST(cents AS DECIMAL(19,0))) AS qb
      FROM idxd WHERE i <= 10 GROUP BY event_type
    ), scored AS (
      SELECT x.event_type, x.i,
             CAST(b.nb * x.cents - b.sb AS BIGINT) AS dd,
             b.nb * b.qb - CAST(b.sb AS DECIMAL(19,0))
               * CAST(b.sb AS DECIMAL(19,0)) AS v
      FROM idxd x JOIN base b ON b.event_type = x.event_type
      WHERE x.i > 10
    ), flags AS (
      SELECT event_type, i,
             CASE WHEN dd > 0 THEN 1 ELSE 0 END AS pos,
             CASE WHEN CAST(dd AS DECIMAL(19,0))
                       * CAST(dd AS DECIMAL(19,0)) > 9 * v
                  THEN 1 ELSE 0 END AS b3,
             CASE WHEN CAST(dd AS DECIMAL(19,0))
                       * CAST(dd AS DECIMAL(19,0)) > 4 * v
                  THEN 1 ELSE 0 END AS b2,
             CASE WHEN CAST(dd AS DECIMAL(19,0))
                       * CAST(dd AS DECIMAL(19,0)) > v
                  THEN 1 ELSE 0 END AS b1
      FROM scored
    ), wind AS (
      SELECT event_type, i, b3,
             sum(b2 * pos) OVER w3 AS p2,
             sum(b2 * (1 - pos)) OVER w3 AS m2,
             count(*) OVER w3 AS c3,
             sum(b1 * pos) OVER w5 AS p1,
             sum(b1 * (1 - pos)) OVER w5 AS m1,
             count(*) OVER w5 AS c5,
             sum(pos) OVER w8 AS p8,
             count(*) OVER w8 AS c8
      FROM flags
      WINDOW
        w3 AS (PARTITION BY event_type ORDER BY i
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        w5 AS (PARTITION BY event_type ORDER BY i
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        w8 AS (PARTITION BY event_type ORDER BY i
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(b3) AS BIGINT) AS n_r1,
           CAST(sum(CASE WHEN c3 = 3 AND (p2 >= 2 OR m2 >= 2)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_r2,
           CAST(sum(CASE WHEN c5 = 5 AND (p1 >= 4 OR m1 >= 4)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_r3,
           CAST(sum(CASE WHEN c8 = 8 AND (p8 = 8 OR p8 = 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_r4
    FROM wind GROUP BY event_type ORDER BY event_type
    """,
)
def q_ts_spc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western-Electric SPC rules over each type's daily revenue — the
    control-chart companion to q_ts_cusum (drift) and q_ts_bollinger
    (volatility bands): baseline μ/σ from the first 10 observed days,
    then per evaluation day the four classic rules — R1 point beyond
    3σ, R2 two-of-three consecutive beyond 2σ same side, R3
    four-of-five beyond 1σ same side, R4 eight consecutive on one side
    of μ — counted per type.

    Exactness: ZERO square roots and zero doubles — every test is the
    squared integer form (nb·x − Sb)² > k²·(nb·Qb − Sb²) over exact
    int64/DECIMAL(38,0) carriers (the bollinger law: D ≈ 7e11 and
    D² ≈ 5e23 at 1000×, inside the 38-digit ceiling per
    scripts/margin_audit.py's acf_u/ssu measurements), and side/rule
    logic is pure integer window arithmetic — the hash check certifies
    the whole chart.

    Plan: one (type,day) rollup (the only fact-sized shuffle), one
    10-row baseline fold, three ROWS-frame windows over the ≤720-row
    per-type relation, one 5-row rollup. At 100 TB everything
    post-rollup is kilobytes."""
    idxd = _indexed_daily(spark, sf_dir).transform(checkpoint)
    cdec = F.col("cents").cast("decimal(19,0)")
    base = (
        idxd.filter(F.col("i") <= 10)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum("cents").cast("long").alias("sb"),
            F.sum(cdec * cdec).alias("qb"),
        )
    )
    scored = (
        idxd.filter(F.col("i") > 10)
        .join(F.broadcast(base), "event_type")
        .select(
            "event_type",
            "i",
            (F.col("nb") * F.col("cents") - F.col("sb"))
            .cast("long")
            .alias("dd"),
            (
                F.col("nb") * F.col("qb")
                - F.col("sb").cast("decimal(19,0)")
                * F.col("sb").cast("decimal(19,0)")
            ).alias("v"),
        )
    )
    d2 = F.col("dd").cast("decimal(19,0)") * F.col("dd").cast(
        "decimal(19,0)"
    )
    flags = scored.select(
        "event_type",
        "i",
        F.when(F.col("dd") > 0, 1).otherwise(0).alias("pos"),
        F.when(d2 > 9 * F.col("v"), 1).otherwise(0).alias("b3"),
        F.when(d2 > 4 * F.col("v"), 1).otherwise(0).alias("b2"),
        F.when(d2 > F.col("v"), 1).otherwise(0).alias("b1"),
    )
    w3 = (
        Window.partitionBy("event_type").orderBy("i").rowsBetween(-2, 0)
    )
    w5 = (
        Window.partitionBy("event_type").orderBy("i").rowsBetween(-4, 0)
    )
    w8 = (
        Window.partitionBy("event_type").orderBy("i").rowsBetween(-7, 0)
    )
    wind = flags.select(
        "event_type",
        "b3",
        F.sum(F.col("b2") * F.col("pos")).over(w3).alias("p2"),
        F.sum(F.col("b2") * (1 - F.col("pos"))).over(w3).alias("m2"),
        F.count(F.lit(1)).over(w3).alias("c3"),
        F.sum(F.col("b1") * F.col("pos")).over(w5).alias("p1"),
        F.sum(F.col("b1") * (1 - F.col("pos"))).over(w5).alias("m1"),
        F.count(F.lit(1)).over(w5).alias("c5"),
        F.sum("pos").over(w8).alias("p8"),
        F.count(F.lit(1)).over(w8).alias("c8"),
    )
    return (
        wind.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum("b3").cast("long").alias("n_r1"),
            F.sum(
                F.when(
                    (F.col("c3") == 3)
                    & ((F.col("p2") >= 2) | (F.col("m2") >= 2)),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_r2"),
            F.sum(
                F.when(
                    (F.col("c5") == 5)
                    & ((F.col("p1") >= 4) | (F.col("m1") >= 4)),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_r3"),
            F.sum(
                F.when(
                    (F.col("c8") == 8)
                    & ((F.col("p8") == 8) | (F.col("p8") == 0)),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_r4"),
        )
        .orderBy("event_type")
    )


def _stl_seasonal_ss(prefix_s: str, prefix_n: str) -> str:
    """Fixed 7-term Σ_r S_r²/n_r chain (residue classes pivoted to
    columns — same determinism posture as the DFT literal dot)."""
    return " + ".join(
        f"(CASE WHEN {prefix_n}{r} > 0 THEN"
        f" CAST({prefix_s}{r} AS DOUBLE) * {prefix_s}{r} / {prefix_n}{r}"
        f" ELSE 0.0 END)"
        for r in range(7)
    )


@query(
    "q_ts_stl_strength",
    oracle=f"""
{_sql_indexed_daily()}
    ), trended AS (
      SELECT event_type, i, cents,
             sum(cents) OVER w AS t7,
             count(*) OVER w AS cw
      FROM idxd
      WINDOW w AS (PARTITION BY event_type ORDER BY i
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), ev AS (
      SELECT event_type, i % 7 AS r,
             CAST(7 * cents - t7 AS BIGINT) AS dd,
             CAST(7 * cents AS BIGINT) AS x7
      FROM trended WHERE cw = 7
    ), res AS (
      SELECT event_type, r, CAST(count(*) AS BIGINT) AS nr,
             CAST(sum(dd) AS BIGINT) AS sr
      FROM ev GROUP BY 1, 2
    ), resw AS (
      SELECT event_type,
             {", ".join(
               f"max(CASE WHEN r = {r} THEN nr ELSE 0 END) AS n{r}, "
               f"max(CASE WHEN r = {r} THEN sr ELSE 0 END) AS s{r}"
               for r in range(7)
             )}
      FROM res GROUP BY event_type
    ), tots AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(dd) AS BIGINT) AS sd,
             sum(CAST(dd AS DECIMAL(19,0)) * CAST(dd AS DECIMAL(19,0)))
               AS sdd,
             CAST(sum(x7) AS BIGINT) AS sx,
             sum(CAST(x7 AS DECIMAL(19,0)) * CAST(x7 AS DECIMAL(19,0)))
               AS sxx
      FROM ev GROUP BY 1
    )
    SELECT t.event_type, t.m AS n_eval,
           round(greatest(0.0, 1.0 -
             (t.m * CAST(t.sdd AS DOUBLE)
              - CAST(t.sd AS DOUBLE) * t.sd)
             / (t.m * CAST(t.sxx AS DOUBLE)
                - CAST(t.sx AS DOUBLE) * t.sx)), 4) AS trend_strength,
           round(greatest(0.0, 1.0 -
             (CAST(t.sdd AS DOUBLE)
              - ({_stl_seasonal_ss("w.s", "w.n")}))
             / (CAST(t.sdd AS DOUBLE)
                - CAST(t.sd AS DOUBLE) * t.sd / t.m)), 4)
             AS seasonal_strength
    FROM tots t JOIN resw w ON w.event_type = t.event_type
    ORDER BY t.event_type
    """,
)
def q_ts_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style decomposition strengths per event type — the two
    numbers an STL run is usually FOR: trend strength
    1 − Var(detrended)/Var(series) and seasonal strength
    1 − Var(residual)/Var(detrended), with trend = centered 7-day
    moving average (full windows only) and seasonal = per-residue
    (i mod 7, the observed-day convention) means of the detrended
    series — the Hyndman F_T/F_S measures, clamped at 0.

    Exactness: everything folds in EXACT carriers — the detrended
    series is carried ×7 (D_i = 7x_i − T7_i, int64 ≈ 5e9 cents at
    1000×; the /7 scale cancels in every variance ratio), ΣD² and
    Σ(7x)² in DECIMAL(38,0) (≈1e25 at 1000×, inside the bollinger/
    margin-audit law class), residue sums pivot to 7 FIXED columns so
    Σ_r S_r²/n_r is a fixed 7-term expression chain, and each strength
    is a ratio of such terms — the ljung_box/dft posture: no
    order-sensitive accumulation anywhere, one round(4) per output.

    Plan: one (type,day) rollup (the only fact-sized shuffle) + one
    7-row centered window + two bounded aggregates over the
    days×types relation + a 7-column pivot join. At 100 TB everything
    post-rollup is kilobytes."""
    idxd = _indexed_daily(spark, sf_dir)
    w7 = (
        Window.partitionBy("event_type").orderBy("i").rowsBetween(-3, 3)
    )
    ev = (
        idxd.select(
            "event_type",
            "i",
            "cents",
            F.sum("cents").over(w7).alias("t7"),
            F.count(F.lit(1)).over(w7).alias("cw"),
        )
        .filter(F.col("cw") == 7)
        .select(
            "event_type",
            (F.col("i") % 7).alias("r"),
            (7 * F.col("cents") - F.col("t7")).cast("long").alias("dd"),
            (7 * F.col("cents")).cast("long").alias("x7"),
        )
        .transform(checkpoint)
    )
    res = ev.groupBy("event_type", "r").agg(
        F.count(F.lit(1)).alias("nr"),
        F.sum("dd").cast("long").alias("sr"),
    )
    resw = res.groupBy("event_type").agg(
        *[
            F.max(F.when(F.col("r") == r, F.col("nr")).otherwise(0)).alias(
                f"n{r}"
            )
            for r in range(7)
        ],
        *[
            F.max(F.when(F.col("r") == r, F.col("sr")).otherwise(0)).alias(
                f"s{r}"
            )
            for r in range(7)
        ],
    )
    ddec = F.col("dd").cast("decimal(19,0)")
    xdec = F.col("x7").cast("decimal(19,0)")
    tots = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dd").cast("long").alias("sd"),
        F.sum(ddec * ddec).alias("sdd"),
        F.sum("x7").cast("long").alias("sx"),
        F.sum(xdec * xdec).alias("sxx"),
    )

    def seasonal_ss():
        out = None
        for r in range(7):
            term = F.when(
                F.col(f"n{r}") > 0,
                F.col(f"s{r}").cast("double")
                * F.col(f"s{r}")
                / F.col(f"n{r}"),
            ).otherwise(F.lit(0.0))
            out = term if out is None else out + term
        return out

    joined = tots.join(F.broadcast(resw), "event_type")
    trend = F.greatest(
        F.lit(0.0),
        1.0
        - (
            F.col("m") * F.col("sdd").cast("double")
            - F.col("sd").cast("double") * F.col("sd")
        )
        / (
            F.col("m") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        ),
    )
    seasonal = F.greatest(
        F.lit(0.0),
        1.0
        - (F.col("sdd").cast("double") - seasonal_ss())
        / (
            F.col("sdd").cast("double")
            - F.col("sd").cast("double") * F.col("sd") / F.col("m")
        ),
    )
    return joined.select(
        "event_type",
        F.col("m").alias("n_eval"),
        F.round(trend, 4).alias("trend_strength"),
        F.round(seasonal, 4).alias("seasonal_strength"),
    ).orderBy("event_type")


def _pe_rank_sql(me: str, a: str, b: str, mi: int, ia: int, ib: int) -> str:
    """Bandt-Pompe rank of element ``me`` among the ordered triple —
    strictly-smaller plus equal-with-earlier-index comparisons, pure
    integer CASE arithmetic (identical text in both engines)."""
    def lt(x, ix, y, iy):
        return (
            f"(CASE WHEN {x} < {y} OR ({x} = {y} AND {ix} < {iy})"
            f" THEN 1 ELSE 0 END)"
        )

    return lt(a, ia, me, mi) + " + " + lt(b, ib, me, mi)


_PE_PATTERNS = (12, 21, 102, 120, 201, 210)  # r0*100 + r1*10 + r2


def _pe_entropy_sql() -> str:
    """Fixed 6-term −Σ p·ln p chain over the pivoted pattern counts,
    normalized by ln 6 (the q_ml_info_gain p·ln p posture)."""
    terms = " + ".join(
        f"(CASE WHEN c{pid} > 0 THEN"
        f" -(CAST(c{pid} AS DOUBLE) / m) * ln(CAST(c{pid} AS DOUBLE) / m)"
        f" ELSE 0.0 END)"
        for pid in _PE_PATTERNS
    )
    return f"({terms}) / ln(6.0)"


@query(
    "q_ts_permutation_entropy",
    oracle=f"""
    WITH daily AS ({_sql_events_daily_cents("CAST(ts AS DATE)")}
    ), laged AS (
      SELECT event_type, cents AS x0,
             lead(cents, 1) OVER w AS x1,
             lead(cents, 2) OVER w AS x2
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ), pats AS (
      SELECT event_type,
             ({_pe_rank_sql("x0", "x1", "x2", 0, 1, 2)}) * 100
           + ({_pe_rank_sql("x1", "x0", "x2", 1, 0, 2)}) * 10
           + ({_pe_rank_sql("x2", "x0", "x1", 2, 0, 1)}) AS pid
      FROM laged WHERE x2 IS NOT NULL
    ), counts AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS m,
             {", ".join(
               f"CAST(sum(CASE WHEN pid = {pid} THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS c{pid}"
               for pid in _PE_PATTERNS
             )}
      FROM pats GROUP BY event_type
    )
    SELECT event_type, m AS n_triples,
           CAST({" + ".join(
             f"(CASE WHEN c{pid} > 0 THEN 1 ELSE 0 END)"
             for pid in _PE_PATTERNS
           )} AS INT) AS n_patterns,
           round({_pe_entropy_sql()}, 4) AS pe_norm
    FROM counts ORDER BY event_type
    """,
)
def q_ts_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt-Pompe, order 3) of each type's daily
    revenue series — the complexity/randomness gauge that complements
    the identification trio (acf/pacf/ljung_box test LINEAR structure;
    PE detects any deterministic ordinal structure, robust to monotone
    transforms): every consecutive day-triple maps to its ordinal
    pattern (ranks by (value, index) — ties break to the earlier index,
    the standard convention, so the classification is PURE INTEGER),
    and the 6-pattern distribution's normalized Shannon entropy is the
    score (1 = white-noise-like ordinal structure, 0 = monotone).

    Determinism: pattern ids are exact integer CASE arithmetic on
    exact int64 cents; counts pivot to 6 FIXED columns; the entropy is
    a fixed 6-term −p·ln p chain over exact-integer ratios normalized
    by ln 6 (the q_ml_info_gain posture: identical parenthesization
    cross-engine, empty classes contribute exact 0.0), one round(4).

    Plan: one (type,day) rollup (the only fact-sized shuffle) + two
    lead() windows over ≤720-row partitions + one 6-column fold."""
    daily = _events_daily_cents(spark, sf_dir, F.col("ts").cast("date"))
    w = Window.partitionBy("event_type").orderBy("d")
    laged = daily.select(
        "event_type",
        F.col("cents").alias("x0"),
        F.lead("cents", 1).over(w).alias("x1"),
        F.lead("cents", 2).over(w).alias("x2"),
    ).filter(F.col("x2").isNotNull())
    pid = F.expr(
        f"({_pe_rank_sql('x0', 'x1', 'x2', 0, 1, 2)}) * 100"
        f" + ({_pe_rank_sql('x1', 'x0', 'x2', 1, 0, 2)}) * 10"
        f" + ({_pe_rank_sql('x2', 'x0', 'x1', 2, 0, 1)})"
    )
    pats = laged.select("event_type", pid.alias("pid"))
    counts = pats.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        *[
            F.sum(F.when(F.col("pid") == p, 1).otherwise(0))
            .cast("long")
            .alias(f"c{p}")
            for p in _PE_PATTERNS
        ],
    )
    npat = None
    ent = None
    for p in _PE_PATTERNS:
        seen = F.when(F.col(f"c{p}") > 0, 1).otherwise(0)
        npat = seen if npat is None else npat + seen
        share = F.col(f"c{p}").cast("double") / F.col("m")
        term = F.when(
            F.col(f"c{p}") > 0, -share * F.log(share)
        ).otherwise(F.lit(0.0))
        ent = term if ent is None else ent + term
    return counts.select(
        "event_type",
        F.col("m").alias("n_triples"),
        npat.cast("int").alias("n_patterns"),
        F.round(ent / F.log(F.lit(6.0)), 4).alias("pe_norm"),
    ).orderBy("event_type")


@query(
    "q_ml_kendall_tau",
    oracle=f"""
    WITH daily AS ({_sql_events_daily_cents("date_trunc('day', ts)")}
    ), paired AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, a.d,
             a.cents AS x, b.cents AS y
      FROM daily a JOIN daily b
        ON a.d = b.d AND a.event_type < b.event_type
    ), pp AS (
      SELECT p.type_a, p.type_b,
             CAST(sum(CASE WHEN (p.x < q.x AND p.y < q.y)
                             OR (p.x > q.x AND p.y > q.y)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
             CAST(sum(CASE WHEN (p.x < q.x AND p.y > q.y)
                             OR (p.x > q.x AND p.y < q.y)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
             CAST(sum(CASE WHEN p.x = q.x THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tie_x,
             CAST(sum(CASE WHEN p.y = q.y THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tie_y,
             CAST(count(*) AS BIGINT) AS n0
      FROM paired p JOIN paired q
        ON p.type_a = q.type_a AND p.type_b = q.type_b AND p.d < q.d
      GROUP BY 1, 2
    ), nd AS (
      SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_days
      FROM paired GROUP BY 1, 2
    )
    SELECT pp.type_a, pp.type_b, nd.n_days,
           n_conc, n_disc, n_tie_x, n_tie_y,
           CASE WHEN (n0 - n_tie_x) * (n0 - n_tie_y) = 0 THEN NULL
                ELSE round((n_conc - n_disc)
                           / sqrt(CAST((n0 - n_tie_x) AS DOUBLE)
                                  * (n0 - n_tie_y)), 4)
           END AS tau_b
    FROM pp JOIN nd ON nd.type_a = pp.type_a AND nd.type_b = pp.type_b
    """,
)
def q_ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between every pair of per-type daily spend series —
    the rank-concordance companion to q_ts_corr_matrix (Pearson) and
    q_agg_spearman: τ-b is the robust choice when the relationship is
    monotone-but-nonlinear and it handles ties explicitly. EXACT
    integer tier all the way to the boundary: series values are exact
    daily cents, concordant/discordant/tied pair counts use pure
    integer COMPARISONS (never the (x1−x2)(y1−y2) product, whose cents²
    magnitude would cross int64 at the 100× decade), τ-b =
    (C−D)/√((n0−n_tx)(n0−n_ty)) is ONE double ratio, round-4, with the
    all-tied degenerate case NULL-guarded.

    Plan: one (type, day) fact rollup (the only corpus-scale shuffle);
    the pair join and the day-pair self-join run on the days×types
    bounded relation (~30 days × 10 type pairs ⇒ ≤ 4,350 comparison
    rows at ANY volume — timestamps are a time range, not a scale
    axis), so the quadratic-in-days stage is constant-bounded by the
    same argument as ljung_box/pacf2. The daily rollup is eagerly
    checkpointed because it is referenced FOUR times downstream (both
    pair sides, both day-pair sides) — without the cut the corpus
    would be scanned and re-aggregated once per reference."""
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents")
        )
        .transform(checkpoint)
    )
    a = daily.select(
        F.col("event_type").alias("type_a"),
        "d",
        F.col("cents").alias("x"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("d").alias("d_b"),
        F.col("cents").alias("y"),
    )
    paired = a.join(
        b,
        (F.col("d") == F.col("d_b"))
        & (F.col("type_a") < F.col("type_b")),
    ).select("type_a", "type_b", "d", "x", "y")
    p = paired.alias("p")
    q = paired.alias("q")
    pairs = p.join(
        q,
        (F.col("p.type_a") == F.col("q.type_a"))
        & (F.col("p.type_b") == F.col("q.type_b"))
        & (F.col("p.d") < F.col("q.d")),
    )
    conc = (
        ((F.col("p.x") < F.col("q.x")) & (F.col("p.y") < F.col("q.y")))
        | ((F.col("p.x") > F.col("q.x")) & (F.col("p.y") > F.col("q.y")))
    ).cast("long")
    disc = (
        ((F.col("p.x") < F.col("q.x")) & (F.col("p.y") > F.col("q.y")))
        | ((F.col("p.x") > F.col("q.x")) & (F.col("p.y") < F.col("q.y")))
    ).cast("long")
    pp = pairs.groupBy(
        F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b")
    ).agg(
        F.sum(conc).alias("n_conc"),
        F.sum(disc).alias("n_disc"),
        F.sum((F.col("p.x") == F.col("q.x")).cast("long")).alias("n_tie_x"),
        F.sum((F.col("p.y") == F.col("q.y")).cast("long")).alias("n_tie_y"),
        F.count(F.lit(1)).alias("n0"),
    )
    nd = paired.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    denom = (F.col("n0") - F.col("n_tie_x")) * (
        F.col("n0") - F.col("n_tie_y")
    )
    tau = F.when(denom == 0, F.lit(None).cast("double")).otherwise(
        F.round(
            (F.col("n_conc") - F.col("n_disc"))
            / F.sqrt(
                (F.col("n0") - F.col("n_tie_x")).cast("double")
                * (F.col("n0") - F.col("n_tie_y"))
            ),
            4,
        )
    )
    return pp.join(nd, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "n_days",
        "n_conc",
        "n_disc",
        "n_tie_x",
        "n_tie_y",
        tau.alias("tau_b"),
    )


@query(
    "q_ts_page_hinkley",
    oracle=f"""
    WITH daily AS ({_sql_events_daily_cents("date_trunc('day', ts)")}
    ), idx AS (
      SELECT event_type, d, cents,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
                  AS BIGINT) AS i,
             CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY d
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS s
      FROM daily
    ), terms AS (
      SELECT event_type, i, cents - s // i AS term, s
      FROM idx
    ), m AS (
      SELECT event_type, i,
             CAST(sum(term) OVER (PARTITION BY event_type ORDER BY i
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS m_t
      FROM terms
    ), ph AS (
      SELECT event_type, i,
             m_t - min(m_t) OVER (PARTITION BY event_type ORDER BY i
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS ph_t
      FROM m
    ), lam AS (
      SELECT event_type, max(s) // (5 * max(i)) AS lambda_cents
      FROM idx GROUP BY 1
    )
    SELECT p.event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           l.lambda_cents,
           round(CAST(max(p.ph_t) AS DOUBLE) / l.lambda_cents, 4)
             AS max_ph_over_lambda,
           CAST(sum(CASE WHEN p.ph_t > l.lambda_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms,
           CAST(COALESCE(min(CASE WHEN p.ph_t > l.lambda_cents
                                  THEN p.i END), 0) AS BIGINT)
             AS first_alarm_i
    FROM ph p JOIN lam l ON l.event_type = p.event_type
    GROUP BY 1, 3
    """,
)
def q_ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detector per event type — the
    expanding-mean companion to q_ts_cusum (which monitors against a
    KNOWN target mean; PH learns the mean as it goes, the shape used
    when no baseline exists): m_t = Σ_{i≤t}(x_i − μ̂_i), PH_t = m_t −
    min_{i≤t} m_i, alarm when PH_t exceeds λ (set to 20% of the mean
    daily spend). EXACT integer carriers throughout — the one division
    in the recurrence, the expanding mean μ̂_i, is taken as the FLOOR
    mean s_i // i (cents; sums are non-negative so DuckDB's flooring
    // and Spark's truncating DIV agree), making every m_t/PH_t/λ
    comparison pure int64 with zero order-sensitive double
    accumulation (the ljung_box exact-carrier discipline — a windowed
    DOUBLE cumsum would be engine-divergent: Spark accumulates
    sequentially, DuckDB folds a segment tree). The only double is the
    reported max_PH/λ ratio, round-4.

    Plan: one (type, day) fact rollup, then three ROWS-frame windows
    (cumsum, running min via the cumulative frame, index) and a 5-row
    λ join — everything past the rollup is days×types bounded."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    idx = daily.select(
        "event_type",
        "d",
        "cents",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .cast("long")
        .alias("i"),
        F.sum("cents").over(w_cum).cast("long").alias("s"),
    )
    terms = idx.select(
        "event_type",
        "i",
        "s",
        (F.col("cents") - F.expr("s DIV i")).alias("term"),
    )
    w_cum_i = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = terms.select(
        "event_type",
        "i",
        F.sum("term").over(w_cum_i).cast("long").alias("m_t"),
    )
    ph = m.select(
        "event_type",
        "i",
        (F.col("m_t") - F.min("m_t").over(w_cum_i)).alias("ph_t"),
    )
    lam = idx.groupBy("event_type").agg(
        F.expr("max(s) DIV (5 * max(i))").alias("lambda_cents")
    )
    alarmed = F.when(
        F.col("ph_t") > F.col("lambda_cents"), F.col("i")
    )
    return (
        ph.join(lam, "event_type")
        .groupBy("event_type", "lambda_cents")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.max("ph_t").cast("double") / F.col("lambda_cents"), 4
            ).alias("max_ph_over_lambda"),
            F.sum(
                (F.col("ph_t") > F.col("lambda_cents")).cast("long")
            ).alias("n_alarms"),
            F.coalesce(F.min(alarmed), F.lit(0)).cast("long").alias(
                "first_alarm_i"
            ),
        )
        .select(
            "event_type",
            "n_days",
            "lambda_cents",
            "max_ph_over_lambda",
            "n_alarms",
            "first_alarm_i",
        )
    )


@query(
    "q_ts_hurst",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2)) * 100)
                  AS DECIMAL(18,0)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY d ASC) AS i,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ), wdim AS (
      SELECT unnest([4, 8, 16]) AS w
    ), chunked AS (
      SELECT x.event_type, x.n, v.w, x.cents,
             (x.i - 1) // v.w AS ck,
             x.i - ((x.i - 1) // v.w) * v.w AS ti
      FROM idx x CROSS JOIN wdim v
      WHERE x.n >= 16 AND x.i <= v.w * (x.n // v.w)
    ), walked AS (
      SELECT event_type, n, w, ck, ti, cents,
             sum(cents) OVER (PARTITION BY event_type, w, ck
                              ORDER BY ti ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
             sum(cents) OVER (PARTITION BY event_type, w, ck) AS sw,
             sum(CAST(cents AS HUGEINT) * cents)
               OVER (PARTITION BY event_type, w, ck) AS ssq
      FROM chunked
    ), chunks AS (
      SELECT event_type, n, w, ck,
             max(w * cum - ti * sw) - min(w * cum - ti * sw) AS rprime,
             max(CAST(w AS HUGEINT) * ssq
                 - CAST(sw AS HUGEINT) * sw) AS radicand
      FROM walked GROUP BY 1, 2, 3, 4
    ), rs AS (
      SELECT event_type, max(n) AS n_days, w,
             avg(CASE WHEN radicand > 0
                      THEN rprime / sqrt(CAST(radicand AS DOUBLE))
                 END) AS avg_rs
      FROM chunks GROUP BY event_type, w
    ), fitted AS (
      SELECT event_type,
             CASE WHEN count(CASE WHEN avg_rs > 0 THEN 1 END) = 3
                  THEN (count(*) * sum(ln(w) * ln(avg_rs))
                        - sum(ln(w)) * sum(ln(avg_rs)))
                       / (count(*) * sum(ln(w) * ln(w))
                          - sum(ln(w)) * sum(ln(w)))
             END AS h
      FROM rs WHERE avg_rs IS NOT NULL GROUP BY event_type
    )
    SELECT r.event_type, CAST(max(r.n_days) AS BIGINT) AS n_days,
           round(max(CASE WHEN r.w = 4 THEN r.avg_rs END), 4) AS rs_w4,
           round(max(CASE WHEN r.w = 8 THEN r.avg_rs END), 4) AS rs_w8,
           round(max(CASE WHEN r.w = 16 THEN r.avg_rs END), 4) AS rs_w16,
           round(max(f.h), 4) AS hurst
    FROM rs r JOIN fitted f ON f.event_type = r.event_type
    GROUP BY r.event_type
    """,
)
def q_ts_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range (R/S) Hurst exponent per event type — the
    LONG-RANGE-DEPENDENCE member of the series-diagnostics family (ACF
    measures fixed-lag correlation, Ljung-Box tests it jointly, DFT
    finds periodicity; Hurst asks whether deviations PERSIST across
    scales: H≈0.5 random walk, H>0.5 trending, H<0.5 mean-reverting —
    Hurst 1951, Mandelbrot's rescaled-range form): the daily spend
    series splits into full windows of w ∈ {4,8,16}, each window's
    range-to-std ratio folds, and H is the 3-point log-log least-squares
    slope of avg R/S on w.

    Exactness (the granger carrier discipline, applied at
    registration): the mean-adjusted cumulative walk stays on the
    integer lattice via w·Z_t = w·cum_t − t·S_w (LINEAR in volume —
    int64 with ~6 decades at 10000×), so R' = max − min is exact and
    Z_w = 0 means the conventional 0 anchor is always included; the
    quadratic radicand w·Σx² − S_w² folds in DECIMAL(38,0)/HUGEINT
    (daily cents² crosses int64 near 300× — widened NOW, not at the
    decade that breaks it); R/S = R'/√radicand is then ONE sqrt + ONE
    division of exact carriers, identical doubles both engines; avg
    over ≤7 chunk doubles and the 3-point slope are the only float
    folds (round-4, the kruskal sterm precedent). Types shorter than
    16 observed days drop by contract; a constant series zeroes the
    radicand and NULLs out (guarded).

    Plan: one (type, day) fact rollup (the only corpus-scale shuffle),
    a 3-row broadcast window dimension crossed into the days×types-
    bounded rollup (the q_ts_acf lag-dim idiom), per-chunk windows over
    ≤16-row partitions, then 15-row/5-row folds."""
    daily = _events_daily_cents(spark, sf_dir, _day_idx())
    w_idx = Window.partitionBy("event_type").orderBy(F.asc("d"))
    w_n = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "cents",
        F.row_number().over(w_idx).alias("i"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    wdim = spark.range(1).select(
        F.explode(F.array(F.lit(4), F.lit(8), F.lit(16))).alias("w")
    )
    chunked = (
        idx.crossJoin(F.broadcast(wdim))
        .filter(
            (F.col("n") >= 16)
            & (F.col("i") <= F.col("w") * F.expr("n DIV w"))
        )
        .select(
            "event_type",
            "n",
            "w",
            "cents",
            F.expr("(i - 1) DIV w").alias("ck"),
            F.expr("i - ((i - 1) DIV w) * w").alias("ti"),
        )
    )
    w_cum = (
        Window.partitionBy("event_type", "w", "ck")
        .orderBy(F.asc("ti"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_ckall = Window.partitionBy("event_type", "w", "ck")
    cw = F.col("cents").cast("decimal(38,0)")
    walked = chunked.select(
        "event_type",
        "n",
        "w",
        "ck",
        "ti",
        F.sum("cents").over(w_cum).alias("cum"),
        F.sum("cents").over(w_ckall).alias("sw"),
        F.sum(cw * F.col("cents")).over(w_ckall).alias("ssq"),
    )
    chunks = walked.groupBy("event_type", "n", "w", "ck").agg(
        (
            F.max(F.col("w") * F.col("cum") - F.col("ti") * F.col("sw"))
            - F.min(F.col("w") * F.col("cum") - F.col("ti") * F.col("sw"))
        ).alias("rprime"),
        F.max(
            F.col("w").cast("decimal(38,0)") * F.col("ssq")
            - F.col("sw").cast("decimal(38,0)") * F.col("sw")
        ).alias("radicand"),
    )
    rs = (
        chunks.groupBy("event_type", "w")
        .agg(
            F.max("n").alias("n_days"),
            F.avg(
                F.when(
                    F.col("radicand") > 0,
                    F.col("rprime")
                    / F.sqrt(F.col("radicand").cast("double")),
                )
            ).alias("avg_rs"),
        )
        .transform(checkpoint)  # feeds the slope fold AND the pivot
    )
    lw = F.log(F.col("w").cast("double"))
    lr = F.log("avg_rs")
    fitted = (
        rs.filter(F.col("avg_rs").isNotNull())
        .groupBy("event_type")
        .agg(
            F.when(
                F.sum(F.when(F.col("avg_rs") > 0, 1).otherwise(0)) == 3,
                (
                    F.count(F.lit(1)) * F.sum(lw * lr)
                    - F.sum(lw) * F.sum(lr)
                )
                / (
                    F.count(F.lit(1)) * F.sum(lw * lw)
                    - F.sum(lw) * F.sum(lw)
                ),
            ).alias("h")
        )
    )
    return (
        rs.join(fitted, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_days").cast("long").alias("n_days"),
            F.round(
                F.max(F.when(F.col("w") == 4, F.col("avg_rs"))), 4
            ).alias("rs_w4"),
            F.round(
                F.max(F.when(F.col("w") == 8, F.col("avg_rs"))), 4
            ).alias("rs_w8"),
            F.round(
                F.max(F.when(F.col("w") == 16, F.col("avg_rs"))), 4
            ).alias("rs_w16"),
            F.round(F.max("h"), 4).alias("hurst"),
        )
    )


@query(
    "q_ts_croston",
    oracle="""
    WITH RECURSIVE purch AS (
      SELECT user_id,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS dx,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100 ) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ), users AS (
      SELECT user_id FROM purch GROUP BY user_id
    ), grid AS (
      SELECT u.user_id, CAST(g.dx AS BIGINT) AS dx
      FROM users u CROSS JOIN (SELECT unnest(range(0, 30)) AS dx) g
    ), spine AS (
      SELECT grid.user_id, grid.dx, coalesce(p.cents, 0) AS d
      FROM grid LEFT JOIN purch p
        ON p.user_id = grid.user_id AND p.dx = grid.dx
    ), first_d AS (
      SELECT user_id, min(dx) AS f_dx FROM spine WHERE d > 0
      GROUP BY user_id
    ), init AS (
      SELECT s.user_id, s.dx AS rn,
             s.d AS z, f.f_dx + 1 AS p, CAST(1 AS BIGINT) AS q,
             CAST(1 AS BIGINT) AS n_demands
      FROM spine s JOIN first_d f
        ON f.user_id = s.user_id AND s.dx = f.f_dx
    ), cro AS (
      SELECT user_id, rn, z, p, q, n_demands FROM init
      UNION ALL
      SELECT c.user_id, c.rn + 1,
             CASE WHEN s.d > 0 THEN c.z + (s.d - c.z) // 2 ELSE c.z END,
             CASE WHEN s.d > 0 THEN c.p + (c.q - c.p) // 2 ELSE c.p END,
             CASE WHEN s.d > 0 THEN 1 ELSE c.q + 1 END,
             c.n_demands + CASE WHEN s.d > 0 THEN 1 ELSE 0 END
      FROM cro c JOIN spine s
        ON s.user_id = c.user_id AND s.dx = c.rn + 1
      WHERE c.rn < 29
    )
    SELECT user_id,
           CAST(n_demands AS BIGINT) AS n_demands,
           CAST(z AS BIGINT) AS z_cents,
           CAST(p AS BIGINT) AS p_interval,
           CAST((2 * 1000 * z + p) // (2 * p) AS BIGINT) AS fc_milli
    FROM cro WHERE rn = 29 ORDER BY user_id
    """,
)
def q_ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand - the forecasting
    member Holt/Holt-Winters cannot serve: per-user daily purchase
    series are mostly zeros, and exponential smoothing of such a
    series collapses toward zero between demands then jumps (the
    classic Croston 1972 critique). Croston smooths TWO series
    instead - nonzero demand sizes z and inter-demand intervals p -
    and forecasts z/p demand per period, the number an inventory /
    capacity planner actually provisions.

    Determinism/exactness: alpha = 1/2 with TRUNCATING-division
    updates z += tdiv2(d - z), p += tdiv2(q - p) (DuckDB's integer //
    truncates toward zero on negatives while Python's floors - the
    holt/holt_winters tdiv law, re-learned here), so the whole
    recursion is exact integer; the final forecast reports as exact
    half-up milli-cents-per-day. The spine is the fixed 30-day
    horizon, so state is (z, p, q) per user - three ints.

    Plan: one pushed purchase-filtered (user, day) rollup shuffle,
    then ``applyInPandas`` per user over <= 30-row partitions (the
    LTTB/DTW sequential-kernel precedent - the recursion is
    irreducible, Croston IS a recurrence); the oracle replays it as a
    recursive CTE over the same zero-filled spine. At 100 TB: one
    user-keyed shuffle, per-user state is O(1)."""
    import pandas as pd

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    purch = ev.groupBy(
        "user_id",
        _day_idx().alias("dx"),
    ).agg(F.sum(cents(F.col("value"))).alias("cents"))

    def croston(pdf: pd.DataFrame) -> pd.DataFrame:
        def tdiv2(a: int) -> int:
            # DuckDB's integer // TRUNCATES toward zero on negatives
            # (the holt/holt_winters tdiv law); Python's // floors.
            return -((-a) // 2) if a < 0 else a // 2

        by_day = dict(zip(pdf["dx"], pdf["cents"]))
        z = p = q = None
        n_dem = 0
        for dx in range(30):
            d = int(by_day.get(dx, 0))
            if z is None:
                if d > 0:
                    z, p, q, n_dem = d, dx + 1, 1, 1
                continue
            if d > 0:
                z = z + tdiv2(d - z)
                p = p + tdiv2(q - p)
                q = 1
                n_dem += 1
            else:
                q += 1
        if z is None:
            return pd.DataFrame(
                columns=[
                    "user_id", "n_demands", "z_cents", "p_interval",
                    "fc_milli",
                ]
            )
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_demands": [n_dem],
                "z_cents": [z],
                "p_interval": [p],
                "fc_milli": [(2 * 1000 * z + p) // (2 * p)],
            }
        )

    return (
        purch.groupBy("user_id")
        .applyInPandas(
            croston,
            "user_id long, n_demands long, z_cents long, "
            "p_interval long, fc_milli long",
        )
        .orderBy("user_id")
    )
