"""Event-analytics composites over the events stream table: conversion
funnels and cohort retention — the reporting queries an ingest pipeline's
downstream warehouse actually runs (SURVEY.md §2 widening).

Both operators aggregate on the dense integer user_id first and only
then join the (already tiny) per-user frames, so every shuffle is keyed
on user_id and each stage's state is one row per user — the shape that
survives a 100 TB event log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.registry import query
from khose_spark.sqlutil import cents, dec_sum, sql_cents, sql_dec_sum
from khose_spark.tables import t


@query(
    "q_ts_funnel",
    oracle="""
    WITH fv AS (
      SELECT user_id, min(ts) AS fv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), fc AS (
      SELECT e.user_id, min(e.ts) AS fc FROM events e
      JOIN fv ON e.user_id = fv.user_id AND e.ts > fv.fv
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), fp AS (
      SELECT e.user_id, min(e.ts) AS fp FROM events e
      JOIN fc ON e.user_id = fc.user_id AND e.ts > fc.fc
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 'view' AS stage, count(*) AS n_users FROM fv
    UNION ALL SELECT 'click', count(*) FROM fc
    UNION ALL SELECT 'purchase', count(*) FROM fp
    """,
)
def q_ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase conversion funnel: a user reaches a
    stage only with an event strictly after their first event of the
    previous stage. Three per-user min-ts aggregations chained by joins
    (each join input is one row per user, broadcast at fixture scale,
    user_id-keyed shuffle at 100 TB); stage totals via count."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fv"))
    )
    fc = (
        ev.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("fv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fc"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("ts") > F.col("fc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"), F.count("*").alias("n_users")
        )

    return stage(fv, "view").unionAll(stage(fc, "click")).unionAll(
        stage(fp, "purchase")
    )


@query(
    "q_ts_retention",
    oracle="""
    WITH cohort AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS c FROM events GROUP BY user_id
    ), ad AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    )
    SELECT strftime(c, '%Y-%m-%d') AS cohort_d,
           CAST(d - c AS INT) AS offset_days,
           count(*) AS n_users
    FROM ad JOIN cohort USING (user_id)
    WHERE d - c IN (0, 7, 14)
    GROUP BY 1, 2
    """,
)
def q_ts_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted if
    active exactly 0 / 7 / 14 days later. distinct (user, day) pairs and
    the per-user cohort both shuffle on user_id; the final aggregate has
    at most |days|×3 rows. Cohort day emitted as a string (DATE dtype
    diverges Spark↔DuckDB in pandas)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohort = ev.groupBy("user_id").agg(F.min("d").alias("c"))
    active = ev.distinct()
    return (
        active.join(cohort, "user_id")
        .withColumn("offset_days", F.datediff("d", "c"))
        .filter(F.col("offset_days").isin(0, 7, 14))
        .groupBy(
            F.date_format("c", "yyyy-MM-dd").alias("cohort_d"), "offset_days"
        )
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "q_ts_anomaly",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
             {sql_dec_sum('value', 4)} AS spend
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), stats AS (
      SELECT user_id,
             avg(spend) AS mu,
             stddev_samp(spend) AS sigma,
             count(*) AS n_days
      FROM daily GROUP BY user_id
    )
    SELECT daily.user_id, d, spend,
           round((spend - mu) / sigma, 4) AS z
    FROM daily JOIN stats ON daily.user_id = stats.user_id
    WHERE n_days >= 5 AND sigma > 0
      AND abs((spend - mu) / sigma) > 2
    """,
)
def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user spend-anomaly days: daily purchase totals more than 2
    sample standard deviations from that user's own mean (users with
    >= 5 active days). Daily sums go through the decimal-cast law so
    both engines feed IDENTICAL doubles into the mean/stddev — the z
    score is then a continuous value and round(4) is hash-stable.
    Two user-keyed shuffles (daily rollup, per-user stats); the stats
    frame is one row per user and broadcasts back into the join."""
    daily = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(dec_sum(F.col("value"), 4).alias("spend"))
    )
    stats = daily.groupBy("user_id").agg(
        F.avg("spend").alias("mu"),
        F.stddev_samp("spend").alias("sigma"),
        F.count("*").alias("n_days"),
    )
    z = (F.col("spend") - F.col("mu")) / F.col("sigma")
    return (
        daily.join(F.broadcast(stats), "user_id")
        .filter((F.col("n_days") >= 5) & (F.col("sigma") > 0) & (F.abs(z) > 2))
        .select("user_id", "d", "spend", F.round(z, 4).alias("z"))
    )


@query(
    "q_scd2_history",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), transitions AS (
        SELECT user_id, event_type AS state, ts AS valid_from
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) AS valid_to,
           CASE WHEN lead(valid_from) OVER (PARTITION BY user_id
                                            ORDER BY valid_from) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM transitions
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history built from the raw event
    log: per user, consecutive runs of the same event_type collapse into
    one validity interval ``[valid_from, valid_to)`` with the open
    (current) interval flagged.  The change-detection lag and the
    interval-closing lead both run over windows hash-partitioned by
    ``user_id`` — one shuffle, reused by both windows (same partitioning
    key), each partition sorted locally.  ``(ts, event_id)`` is a total
    order, so interval boundaries are deterministic even with duplicate
    timestamps.  This is the batch-backfill twin of a streaming upsert
    sink: at 100 TB the event log is bucketed by user_id and the whole
    history build is shuffle-free."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w_change = Window.partitionBy("user_id").orderBy("ts", "event_id")
    transitions = (
        ev.withColumn("prev_type", F.lag("event_type").over(w_change))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
        )
    )
    w_close = Window.partitionBy("user_id").orderBy("valid_from")
    valid_to = F.lead("valid_from").over(w_close)
    return transitions.select(
        "user_id",
        "state",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"),
    )


@query(
    "q_ts_pattern_match",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_type,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), hits AS (
        SELECT user_id, ts
        FROM seq
        WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
    )
    SELECT user_id, count(*) AS n_matches,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_match
    FROM hits GROUP BY user_id
    """,
)
def q_ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection: users whose
    event stream contains the CONSECUTIVE triple view→click→purchase
    (no intervening events — contrast ``q_ts_funnel``, which chains
    first-occurrence timestamps in any order).  Two ``lead``s over one
    user-keyed window turn the pattern into a row-local predicate, so
    detection costs one shuffle and scales with the log, not the
    pattern: a k-step pattern is k-1 leads over the same window.
    ``(ts, event_id)`` gives a total order; the match timestamp is
    emitted as a second-truncated string (the fixture's microsecond
    jitter is engine-identical, but string form dodges pandas datetime
    unit mismatches, same as the session twin)."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    hits = seq.filter(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
    )
    return hits.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "first_match"
        ),
    )


# windowFunnel budget: each later stage must land within 12 hours of
# the previous stage's matched event (fixture inter-event gaps average
# ~4.5h/user, so 12h populates every funnel level at sf>=0.01).
_WF_BUDGET = "INTERVAL 12 HOURS"


@query(
    "q_ts_window_funnel",
    oracle=f"""
    WITH users AS (
      SELECT DISTINCT user_id FROM events
    ), s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND e.ts > s1.t1 AND e.ts <= s1.t1 + {_WF_BUDGET}
      GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > s2.t2 AND e.ts <= s2.t2 + {_WF_BUDGET}
      GROUP BY 1
    ), leveled AS (
      SELECT u.user_id,
             CASE WHEN s3.user_id IS NOT NULL THEN 3
                  WHEN s2.user_id IS NOT NULL THEN 2
                  WHEN s1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS level
      FROM users u
      LEFT JOIN s1 ON s1.user_id = u.user_id
      LEFT JOIN s2 ON s2.user_id = u.user_id
      LEFT JOIN s3 ON s3.user_id = u.user_id
    )
    SELECT level, count(*) AS n_users FROM leveled GROUP BY level
    """,
)
def q_ts_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-budgeted funnel (the ClickHouse ``windowFunnel`` shape):
    deepest view -> click -> purchase level each user reaches where
    every later stage must occur WITHIN 12 HOURS of the previous
    stage's matched event — contrast q_ts_funnel, whose stages may be arbitrarily
    far apart. Emits users per deepest level (0 = never viewed).

    Matching is greedy-earliest (each stage anchors on the MIN
    qualifying timestamp), which is deterministic and the standard
    windowFunnel semantics; timestamps compare exactly in both engines
    under the UTC session pin.

    Scale: three chained user-keyed min-aggregates, each joined back
    user-keyed (the q_ts_funnel layout plus a time-range predicate) —
    per-stage relations shrink monotonically, no window over raw
    events, no self-join fan-out."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    users = ev.select("user_id").distinct()
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr(_WF_BUDGET))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr(_WF_BUDGET))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    leveled = (
        users.join(s1.select("user_id", F.lit(1).alias("l1")), "user_id", "left")
        .join(s2.select("user_id", F.lit(2).alias("l2")), "user_id", "left")
        .join(s3.select("user_id", F.lit(3).alias("l3")), "user_id", "left")
        .select(
            F.coalesce("l3", "l2", "l1", F.lit(0)).alias("level")
        )
    )
    return leveled.groupBy("level").agg(F.count(F.lit(1)).alias("n_users"))


_SESSION_GAP_S = 1800  # 30-minute inactivity closes a session


@query(
    "q_ts_sessionize",
    oracle=f"""
    WITH stamped AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             event_id
      FROM events
    ), flagged AS (
      SELECT user_id, es, event_id,
             CASE WHEN es - lag(es) OVER w > {_SESSION_GAP_S}
                    OR lag(es) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM stamped WINDOW w AS (PARTITION BY user_id
                                ORDER BY es, event_id)
    ), sessioned AS (
      SELECT user_id, es,
             sum(new_s) OVER (PARTITION BY user_id
               ORDER BY es, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    ), sessions AS (
      SELECT user_id, sid, count(*) AS n_events,
             max(es) - min(es) AS dur_s
      FROM sessioned GROUP BY user_id, sid
    )
    SELECT count(*) AS n_sessions,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bounce,
           CAST((2 * 1000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0
                                     END) + count(*))
                // (2 * count(*)) AS BIGINT) AS bounce_permille,
           CAST((2 * 1000 * sum(n_events) + count(*))
                // (2 * count(*)) AS BIGINT) AS mean_events_milli,
           CAST(max(n_events) AS BIGINT) AS max_events,
           CAST((2 * sum(dur_s) + count(*)) // (2 * count(*))
                AS BIGINT) AS mean_dur_s
    FROM sessions
    """,
)
def q_ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 30-minute inactivity gap — the
    canonical web-analytics rollup: per-user event streams split into
    sessions by the gaps-and-islands flag-cumsum idiom, then one global
    report (sessions, users, bounce rate, mean events x1000, longest
    session, mean duration). The BATCH twin of the streaming session
    window (q_stream_session_batchsem) — same gap semantics, but
    grading the whole history at rest.

    Determinism under timestamp ties: BOTH windows (the new-session
    flag and the session-id cumsum) order by the (es, event_id) total
    order — a ROWS cumsum over a ties-only ordering would let the two
    engines disagree on which tie-row a flag's increment reaches. All
    outputs are exact integers (epoch-floor seconds, half-up ratios).
    Plan: one user-keyed window pass (two stacked frames), a
    (user, session) aggregate on the same key, a 1-row fold."""
    stamped = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("es"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    flagged = stamped.select(
        "user_id",
        "es",
        "event_id",
        F.when(
            F.lag("es").over(w).isNull()
            | ((F.col("es") - F.lag("es").over(w)) > _SESSION_GAP_S),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessioned = flagged.select(
        "user_id", "es", F.sum("new_s").over(w_cum).alias("sid")
    )
    sessions = sessioned.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("es") - F.min("es")).alias("dur_s"),
    )
    return sessions.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias(
            "n_bounce"
        ),
        F.expr(
            "CAST((2 * 1000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0"
            " END) + count(1)) DIV (2 * count(1)) AS BIGINT)"
        ).alias("bounce_permille"),
        F.expr(
            "CAST((2 * 1000 * sum(n_events) + count(1))"
            " DIV (2 * count(1)) AS BIGINT)"
        ).alias("mean_events_milli"),
        F.max("n_events").alias("max_events"),
        F.expr(
            "CAST((2 * sum(dur_s) + count(1)) DIV (2 * count(1))"
            " AS BIGINT)"
        ).alias("mean_dur_s"),
    )


# Each event's next event type in its user's stream (ordered by whole
# epoch second, event_id tiebreak): the ``stamped`` and ``hops`` CTEs,
# the last left open.
_SQL_EVENT_HOPS = """
    WITH stamped AS (
      SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS es, event_id
      FROM events
    ), hops AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY es, event_id) AS dst
      FROM stamped"""


@query(
    "q_ts_transition_matrix",
    oracle=f"""
{_SQL_EVENT_HOPS}
    ), counted AS (
      SELECT src, dst, count(*) AS n FROM hops
      WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           CAST((2 * 1000 * n + sum(n) OVER (PARTITION BY src))
                // (2 * sum(n) OVER (PARTITION BY src)) AS BIGINT)
               AS p_permille
    FROM counted ORDER BY src, dst
    """,
)
def q_ts_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: for every (src -> dst) consecutive pair, the raw count
    and the half-up permille row-conditional probability — the
    behavioral-flow summary feeding funnels, next-action prediction,
    and anomaly baselines. Consecutive order rides the (epoch,
    event_id) total order (the q_ts_sessionize tie law).

    Plan: one user-keyed lead window (the only data-sized shuffle), a
    type-pair aggregate bounded by |types|^2 = 25 cells, one window
    over those cells. Identical shape at any scale."""
    stamped = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("es"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    hops = stamped.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counted = hops.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_src = Window.partitionBy("src")
    return (
        counted.select(
            "src",
            "dst",
            "n",
            F.expr(
                "CAST((2 * 1000 * n + sum(n) OVER (PARTITION BY src))"
                " DIV (2 * sum(n) OVER (PARTITION BY src)) AS BIGINT)"
            ).alias("p_permille"),
        )
        .orderBy("src", "dst")
    )


@query(
    "q_ts_cohort_ltv",
    oracle=f"""
    WITH purch AS (
      SELECT user_id,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
                 // 7 AS wk,
             {sql_cents('value')} AS cents
      FROM events WHERE event_type = 'purchase'
    ), cohort AS (
      SELECT user_id, min(wk) AS c_wk FROM purch GROUP BY user_id
    ), cells AS (
      SELECT c.c_wk, p.wk - c.c_wk AS age_wk,
             CAST(sum(p.cents) AS BIGINT) AS rev,
             count(DISTINCT p.user_id) AS n_active
      FROM purch p JOIN cohort c ON c.user_id = p.user_id
      GROUP BY 1, 2
    ), sized AS (
      SELECT c_wk, count(*) AS cohort_users FROM cohort GROUP BY c_wk
    )
    SELECT cells.c_wk AS cohort_week, cells.age_wk, cells.n_active,
           cells.rev AS rev_cents,
           CAST(sum(cells.rev) OVER (PARTITION BY cells.c_wk
                ORDER BY cells.age_wk ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS cum_rev_cents,
           CAST((2 * sum(cells.rev) OVER (PARTITION BY cells.c_wk
                  ORDER BY cells.age_wk ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW)
                + s.cohort_users) // (2 * s.cohort_users) AS BIGINT)
               AS ltv_cents_per_user
    FROM cells JOIN sized s ON s.c_wk = cells.c_wk
    ORDER BY cohort_week, age_wk
    """,
)
def q_ts_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: purchasers grouped by first-purchase
    week, each cohort's revenue tracked per week-of-age with the
    cumulative total and the half-up per-user LTV (denominator = the
    FULL cohort, not just the still-active users — the honest LTV
    convention). The revenue-weighted companion to q_ts_retention's
    activity view.

    Plan: purchase projection → per-user cohort week (one user_id
    shuffle) → (cohort, age) cell aggregation (calendar-bounded) →
    cumulative windows over the tiny cell grid + cohort-size lookup.
    All integers end to end."""
    purch = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr(
                "CAST(datediff(to_date(ts), '2024-01-01') AS BIGINT)"
                " DIV 7"
            ).alias("wk"),
            F.expr(
                sql_cents("value")
            ).alias("cents"),
        )
        .transform(checkpoint)  # feeds cohort + cells
    )
    cohort = purch.groupBy("user_id").agg(F.min("wk").alias("c_wk"))
    cells = (
        purch.join(cohort, "user_id")
        .groupBy("c_wk", (F.col("wk") - F.col("c_wk")).alias("age_wk"))
        .agg(
            F.sum("cents").alias("rev"),
            F.countDistinct("user_id").alias("n_active"),
        )
    )
    sized = cohort.groupBy("c_wk").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    w_cum = (
        Window.partitionBy("c_wk")
        .orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(F.broadcast(sized), "c_wk")
        .select(
            F.col("c_wk").alias("cohort_week"),
            "age_wk",
            "n_active",
            F.col("rev").alias("rev_cents"),
            F.sum("rev").over(w_cum).alias("cum_rev_cents"),
            F.expr(
                "CAST((2 * sum(rev) OVER (PARTITION BY c_wk ORDER BY"
                " age_wk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT"
                " ROW) + cohort_users) DIV (2 * cohort_users)"
                " AS BIGINT)"
            ).alias("ltv_cents_per_user"),
        )
        .orderBy("cohort_week", "age_wk")
    )


@query(
    "q_ts_rfm",
    oracle="""
    WITH purch AS (
      SELECT user_id,
             max(CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT))
                 AS last_d,
             count(*) AS freq,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
                 AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), scored AS (
      SELECT user_id,
             ntile(5) OVER (ORDER BY last_d DESC, user_id ASC) AS r,
             ntile(5) OVER (ORDER BY freq DESC, user_id ASC) AS f,
             ntile(5) OVER (ORDER BY monetary DESC, user_id ASC) AS m
      FROM purch
    )
    SELECT r, f, count(*) AS n_users,
           CAST(min(m) AS BIGINT) AS best_m,
           CAST(max(m) AS BIGINT) AS worst_m
    FROM scored GROUP BY r, f ORDER BY r, f
    """,
)
def q_ts_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of purchasers: recency (days since epoch of
    last purchase), frequency, monetary quintiles — 1 = best, via
    ntile over (metric DESC, user ASC) total orders — rolled into the
    25-cell R×F segment grid with user counts and each cell's best/
    worst monetary quintile. The marketing-ops workhorse next to the
    LTV curve.

    ntile over a total order is integer-decided (the ccnet-tercile
    law). Scale note: the quintile windows order the per-user rollup —
    one row per purchaser; at 100 TB the banded-midrank trick
    (q_agg_spearman) replaces the global ntile, same downstream grid.
    Plan: one user rollup + three windows + a 25-cell agg."""
    purch = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(
                F.expr(
                    "CAST(datediff(to_date(ts), '2024-01-01')"
                    " AS BIGINT)"
                )
            ).alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(cents(F.col("value"))).alias("monetary"),
        )
    )
    scored = purch.select(
        "user_id",
        F.ntile(5)
        .over(Window.orderBy(F.col("last_d").desc(), F.col("user_id")))
        .alias("r"),
        F.ntile(5)
        .over(Window.orderBy(F.col("freq").desc(), F.col("user_id")))
        .alias("f"),
        F.ntile(5)
        .over(
            Window.orderBy(F.col("monetary").desc(), F.col("user_id"))
        )
        .alias("m"),
    )
    return (
        scored.groupBy("r", "f")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("m").cast("long").alias("best_m"),
            F.max("m").cast("long").alias("worst_m"),
        )
        .orderBy("r", "f")
    )


@query(
    "q_ts_kaplan_meier",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             min(epoch_us(ts)) AS first_us,
             max(epoch_us(ts)) AS last_us,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS conv_us
      FROM events GROUP BY 1
    ), dur AS (
      SELECT CASE WHEN conv_us IS NOT NULL
                  THEN (conv_us - first_us) // 3600000000
                  ELSE (last_us - first_us) // 3600000000 END AS t_h,
             CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM pu
    ), g AS (
      SELECT t_h, CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(ev) AS BIGINT) AS n_d
      FROM dur GROUP BY 1
    ), cum AS (
      SELECT t_h, n_all, n_d,
             CAST(sum(n_all) OVER ()
                  - (sum(n_all) OVER (ORDER BY t_h) - n_all)
               AS BIGINT) AS n_risk
      FROM g
    ), deaths AS (
      SELECT t_h, n_risk, n_d,
             sum(ln(nullif(CAST(n_risk - n_d AS DOUBLE) / n_risk, 0.0)))
               OVER (ORDER BY t_h) AS lnsurv,
             max(CASE WHEN n_risk = n_d THEN 1 ELSE 0 END)
               OVER (ORDER BY t_h) AS zero_seen
      FROM cum WHERE n_d > 0
    )
    SELECT CAST(t_h AS BIGINT) AS t_hours, n_risk,
           CAST(n_d AS BIGINT) AS n_events,
           CASE WHEN zero_seen = 1 THEN 0.0
                ELSE round(exp(lnsurv), 6) END AS survival
    FROM deaths
    """,
)
def q_ts_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for hours-to-first-purchase with
    right censoring — the survival-analysis member of the event family
    (funnel/retention report WHETHER users convert; this reports the
    time-to-event DISTRIBUTION with censored users handled correctly,
    the estimator behind "median time to convert" dashboards).  Each
    user contributes duration = hours from first event to first
    purchase (event) or to last observed event (censored); the curve is
    the product-limit estimator S(t) = Π_{t_i ≤ t} (1 − d_i/n_i) over
    death times only, with the risk set n_i = users whose duration
    ≥ t_i (censoring-after-event tie convention, identical in both
    engines by construction).

    Exactness: durations are exact int64 hours (epoch-microsecond
    difference, integer floor-div), so d_i and n_i are integer-exact;
    the product limit runs as exp(Σ ln((n_i−d_i)/n_i)) over the
    ordered ≤720-row death relation (both engines accumulate in ORDER
    BY order), with the n_i = d_i extinction row handled by an
    explicit zero flag rather than ln(0), rounded once at 6 dp.

    Plan: one per-user aggregate (the only fact-sized shuffle, user_id
    keyed, map-side combined), then a duration-histogram aggregate
    bounded by the 720-hour observation window, and windows over that
    tiny relation.  At 100 TB: per-user state is one row; the curve
    relation stays ≤720 rows at any scale."""
    us = F.unix_micros(F.col("ts"))
    pu = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.max(us).alias("last_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", us)
        ).alias("conv_us"),
    )
    dur = pu.select(
        F.when(
            F.col("conv_us").isNotNull(),
            F.expr("(conv_us - first_us) div 3600000000"),
        )
        .otherwise(F.expr("(last_us - first_us) div 3600000000"))
        .alias("t_h"),
        F.when(F.col("conv_us").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    g = dur.groupBy("t_h").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum("ev").alias("n_d"),
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("t_h")
    cum = g.select(
        "t_h",
        "n_d",
        (
            F.sum("n_all").over(w_all)
            - (F.sum("n_all").over(w_cum) - F.col("n_all"))
        )
        .cast("long")
        .alias("n_risk"),
    )
    deaths = cum.filter(F.col("n_d") > 0).select(
        "t_h",
        "n_risk",
        "n_d",
        F.sum(
            F.log(
                F.nullif(
                    (F.col("n_risk") - F.col("n_d")).cast("double")
                    / F.col("n_risk"),
                    F.lit(0.0),
                )
            )
        )
        .over(w_cum)
        .alias("lnsurv"),
        F.max(
            F.when(F.col("n_risk") == F.col("n_d"), 1).otherwise(0)
        )
        .over(w_cum)
        .alias("zero_seen"),
    )
    return deaths.select(
        F.col("t_h").cast("long").alias("t_hours"),
        "n_risk",
        F.col("n_d").cast("long").alias("n_events"),
        F.when(F.col("zero_seen") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lnsurv"), 6))
        .alias("survival"),
    )


@query(
    "q_evt_multitouch",
    oracle="""
    WITH conv AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS conv_ts
      FROM events GROUP BY user_id
    ), touches AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id
      FROM events e JOIN conv c ON c.user_id = e.user_id
      WHERE c.conv_ts IS NOT NULL
        AND e.ts < c.conv_ts
        AND e.event_type IN ('view', 'click', 'signup')
    ), pos AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS p,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM touches
    ), credited AS (
      SELECT event_type, p, n,
             CASE WHEN n = 1 THEN 1000
                  WHEN n = 2 THEN 500
                  WHEN p = 1 OR p = n THEN 400
                  ELSE CAST(200 * (p - 1) // (n - 2)
                            - 200 * (p - 2) // (n - 2) AS BIGINT)
             END AS credit
      FROM pos
    )
    SELECT event_type AS channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_first,
           CAST(sum(CASE WHEN p = n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_last,
           CAST(sum(credit) AS BIGINT) AS credit_permille
    FROM credited GROUP BY event_type
    """,
)
def q_evt_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    converting user's pre-purchase touches (view/click/signup strictly
    before their FIRST purchase) share 1000 permille of conversion
    credit — 400 to the first touch, 400 to the last, the remaining
    200 split across the middles; per channel, total credit plus
    first/last touch counts. The position-credit member of the
    attribution family: q_join_asof_tolerance assigns each conversion
    to ONE touch inside a window, this key splits the credit along the
    whole journey (the marketing-mix report).

    Integer exactness: the middle split uses the cumulative-quota
    difference 200·i DIV m − 200·(i−1) DIV m (i = middle index, m =
    middle count), which sums to EXACTLY 200 at any m with no float
    rounding and no leftover-redistribution pass; n=1 → 1000, n=2 →
    500/500 by contract. All operands non-negative, so Spark DIV ≡
    DuckDB //.

    Plan: one user-partitioned window pass pins each user's first
    purchase timestamp next to every event (no self-join), the touch
    filter drops post-conversion rows map-side, a second
    user-partitioned window ranks the surviving journey, and ONE
    5-channel aggregate folds the credit — every shuffle is keyed on
    user_id with per-user state bounded by journey length."""
    ev = t(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id")
    conv = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        )
        .over(w_user)
        .alias("conv_ts"),
    )
    touches = conv.filter(
        F.col("conv_ts").isNotNull()
        & (F.col("ts") < F.col("conv_ts"))
        & F.col("event_type").isin("view", "click", "signup")
    )
    w_pos = Window.partitionBy("user_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    pos = touches.select(
        "event_type",
        F.row_number().over(w_pos).alias("p"),
        F.count(F.lit(1)).over(w_user).alias("n"),
    )
    credited = pos.select(
        "event_type",
        "p",
        "n",
        F.when(F.col("n") == 1, F.lit(1000))
        .when(F.col("n") == 2, F.lit(500))
        .when((F.col("p") == 1) | (F.col("p") == F.col("n")), F.lit(400))
        .otherwise(
            F.expr(
                "CAST(200 * (p - 1) DIV (n - 2)"
                " - 200 * (p - 2) DIV (n - 2) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("credit"),
    )
    return credited.groupBy(
        F.col("event_type").alias("channel")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum((F.col("p") == 1).cast("long")).cast("long").alias("n_first"),
        F.sum((F.col("p") == F.col("n")).cast("long"))
        .cast("long")
        .alias("n_last"),
        F.sum("credit").cast("long").alias("credit_permille"),
    )


@query(
    "q_ts_entropy_rate",
    oracle=f"""
{_SQL_EVENT_HOPS}
    ), counted AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM hops
      WHERE dst IS NOT NULL GROUP BY src, dst
    ), rows_ AS (
      SELECT src, CAST(sum(n) AS BIGINT) AS n_trans,
             sum(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE))) AS sxl
      FROM counted GROUP BY src
    ), tot AS (
      SELECT CAST(sum(n_trans) AS BIGINT) AS n_all FROM rows_
    ), h AS (
      SELECT r.src, r.n_trans,
             CAST((2 * 1000 * r.n_trans + t.n_all)
                  // (2 * t.n_all) AS BIGINT) AS pi_permille,
             log2(CAST(r.n_trans AS DOUBLE)) - r.sxl / r.n_trans
                 AS h_bits,
             t.n_all
      FROM rows_ r CROSS JOIN tot t
    ), rate AS (
      SELECT sum(CAST(n_trans AS DOUBLE) / n_all * h_bits) AS er FROM h
    )
    SELECT h.src, h.n_trans, h.pi_permille,
           round(h.h_bits, 6) AS h_bits_r6,
           round(rate.er, 6) AS entropy_rate_r6
    FROM h CROSS JOIN rate
    """,
)
def q_ts_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain entropy rate of the per-user event stream - the
    information-theoretic summary ON TOP of q_ts_transition_matrix's
    raw probabilities: per-source-state conditional entropy
    H_i = -Sum_j P_ij log2 P_ij (how unpredictable the next action is
    GIVEN the current one) and the chain's entropy rate
    H = Sum_i pi_i H_i under the empirical occupancy pi_i =
    n_i / N - the single bits-per-step number that trends session
    predictability over releases and flags bot traffic (near-zero
    rate = deterministic loops) or UI chaos (rate near log2(k)).

    Determinism/exactness: all transition counts are exact int64 from
    the same (epoch, event_id)-ordered lead window as the transition
    matrix (the sessionize tie law); the row entropies use the
    factored identity H_i = log2(n_i) - (Sum_j n_ij*log2(n_ij))/n_i so
    every log argument is an exact INTEGER count (not a float ratio -
    the cross-engine-identical-input discipline), folded as one double
    sum over <= k = 5 terms and rounded at 6 dp (the KL-divergence
    double-fold precedent: both engines add the same <= 25 doubles).
    Occupancy reports as exact half-up permille.

    Plan: one user-keyed lead window (the only data-sized shuffle,
    shared shape with the transition matrix), a <= k^2 = 25-cell
    aggregate, then k-row folds and one 1-row rate fold broadcast
    back. At 100 TB: one shuffle, then constant-size arithmetic."""
    stamped = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("es"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    hops = stamped.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counted = hops.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rows_ = (
        counted.groupBy("src")
        .agg(
            F.sum("n").cast("long").alias("n_trans"),
            F.sum(
                F.col("n").cast("double") * F.log2(F.col("n").cast("double"))
            ).alias("sxl"),
        )
        .transform(checkpoint)  # k rows; feeds tot, h, and the rate fold
    )
    tot = rows_.agg(F.sum("n_trans").cast("long").alias("n_all"))
    h = rows_.crossJoin(F.broadcast(tot)).select(
        "src",
        "n_trans",
        F.expr(
            "CAST((2 * 1000 * n_trans + n_all) DIV (2 * n_all) AS BIGINT)"
        ).alias("pi_permille"),
        (
            F.log2(F.col("n_trans").cast("double"))
            - F.col("sxl") / F.col("n_trans")
        ).alias("h_bits"),
        "n_all",
    ).transform(checkpoint)  # k rows; feeds the rate fold AND the output
    rate = h.agg(
        F.sum(
            F.col("n_trans").cast("double") / F.col("n_all") * F.col("h_bits")
        ).alias("er")
    )
    return h.crossJoin(F.broadcast(rate)).select(
        "src",
        "n_trans",
        "pi_permille",
        F.round("h_bits", 6).alias("h_bits_r6"),
        F.round("er", 6).alias("entropy_rate_r6"),
    )


@query(
    "q_ts_event_study",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
                 AS cents
      FROM events
      WHERE CAST(ts AS DATE) < DATE '2024-01-16'
         OR (CAST(ts AS DATE) >= DATE '2024-01-18'
             AND CAST(ts AS DATE) <= DATE '2024-01-22')
      GROUP BY 1, 2
    ), per_type AS (
      SELECT event_type,
             CAST(count(CASE WHEN d < DATE '2024-01-16' THEN 1 END)
                  AS BIGINT) AS n_pre,
             CAST(count(CASE WHEN d >= DATE '2024-01-18' THEN 1 END)
                  AS BIGINT) AS n_evt,
             CAST(coalesce(sum(CASE WHEN d < DATE '2024-01-16'
                                    THEN cents END), 0) AS BIGINT)
                 AS s_pre,
             coalesce(sum(CASE WHEN d < DATE '2024-01-16'
                          THEN CAST(cents AS HUGEINT) * cents END), 0)
                 AS ssq_pre,
             CAST(coalesce(sum(CASE WHEN d >= DATE '2024-01-18'
                                    THEN cents END), 0) AS BIGINT)
                 AS s_evt
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_pre, n_evt,
           CAST((2 * 1000 * CAST(s_pre AS HUGEINT) + n_pre)
                // (2 * n_pre) AS BIGINT) AS mu_milli,
           CAST(n_pre * s_evt - n_evt * s_pre AS BIGINT) AS car_scaled,
           round(CAST(n_pre * s_evt - n_evt * s_pre AS DOUBLE) / n_pre, 4)
               AS car_cents_r4,
           round(CAST(n_pre * s_evt - n_evt * s_pre AS DOUBLE)
                 / (n_pre * sqrt((CAST(n_pre AS DOUBLE)
                                  * CAST(ssq_pre AS DOUBLE)
                                  - CAST(s_pre AS DOUBLE) * CAST(s_pre AS DOUBLE))
                                 / (CAST(n_pre AS DOUBLE) * (n_pre - 1)))
                          * sqrt(CAST(n_evt AS DOUBLE))), 4) AS t_r4
    FROM per_type ORDER BY event_type
    """,
)
def q_ts_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study cumulative abnormal revenue (CAR) per event type -
    the before/after causal readout every launch review runs: a pinned
    event date (2024-01-20) with an estimation window (days 1-15, the
    baseline) and a +/-2-day event window (Jan 18-22); abnormal
    revenue = actual daily cents minus the baseline mean, cumulated
    over the event window, with the classical event-study t
    CAR / (sigma_pre * sqrt(window)) against the estimation-window
    daily volatility. Positive CAR with |t| > 2 = the launch moved
    revenue beyond its normal daily noise.

    Determinism/exactness: CAR never divides early - the scaled
    integer car_scaled = n_pre * S_evt - n_evt * S_pre is EXACT
    (clearing the baseline-mean denominator; ~15 * 5 * daily-cents,
    int64 through the 3000x decade with >4 decades spare); the
    estimation-window second moment folds in DECIMAL(38,0)/HUGEINT
    (daily cents ~5e10 at 3000x make cents^2 ~ 2.5e21); the CAR in
    cents and the t-statistic evaluate as IDENTICAL double trees from
    those integers (round-4); the baseline mean reports as exact
    half-up milli-cents. The gap days (16-17) are excluded from BOTH
    windows so the estimation never leaks the event.

    Plan: one (type, day) rollup with the two-window date predicate
    PUSHED to the parquet scan, then a |types|-bounded conditional
    fold. At 100 TB: one map-side-combined shuffle, 5-row tail."""
    ev = t(spark, sf_dir, "events")
    d = F.to_date("ts")
    pre_hi = F.lit("2024-01-16").cast("date")
    ev_lo = F.lit("2024-01-18").cast("date")
    ev_hi = F.lit("2024-01-22").cast("date")
    daily = (
        ev.filter((d < pre_hi) | ((d >= ev_lo) & (d <= ev_hi)))
        .groupBy("event_type", d.alias("d"))
        .agg(
            F.sum(cents(F.col("value"))).alias("cents")
        )
    )
    is_pre = F.col("d") < pre_hi
    per_type = daily.groupBy("event_type").agg(
        F.count(F.when(is_pre, 1)).cast("long").alias("n_pre"),
        F.count(F.when(~is_pre, 1)).cast("long").alias("n_evt"),
        F.coalesce(F.sum(F.when(is_pre, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("s_pre"),
        F.coalesce(
            F.sum(
                F.when(
                    is_pre, F.col("cents").cast("decimal(38,0)") * F.col("cents")
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("ssq_pre"),
        F.coalesce(F.sum(F.when(~is_pre, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("s_evt"),
    )
    car = F.col("n_pre") * F.col("s_evt") - F.col("n_evt") * F.col("s_pre")
    np_d = F.col("n_pre").cast("double")
    sigma = F.sqrt(
        (
            np_d * F.col("ssq_pre").cast("double")
            - F.col("s_pre").cast("double") * F.col("s_pre").cast("double")
        )
        / (np_d * (F.col("n_pre") - 1))
    )
    return per_type.select(
        "event_type",
        "n_pre",
        "n_evt",
        F.expr(
            "CAST((2 * 1000 * CAST(s_pre AS DECIMAL(38,0)) + n_pre)"
            " DIV (2 * n_pre) AS BIGINT)"
        ).alias("mu_milli"),
        car.cast("long").alias("car_scaled"),
        F.round(car.cast("double") / np_d, 4).alias("car_cents_r4"),
        F.round(
            car.cast("double")
            / (np_d * sigma * F.sqrt(F.col("n_evt").cast("double"))),
            4,
        ).alias("t_r4"),
    ).orderBy("event_type")


@query(
    "q_evt_path_topk",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), paths AS (
      SELECT event_type || '>' || e2 || '>' || e3 AS path,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM seq WHERE e3 IS NOT NULL
      GROUP BY 1
    ), ranked AS (
      SELECT path, n_occurrences, n_users,
             row_number() OVER (ORDER BY n_occurrences DESC, path)
               AS rnk,
             CAST(sum(n_occurrences) OVER () AS BIGINT) AS total
      FROM paths
    )
    SELECT rnk, path, n_occurrences, n_users,
           CAST((2 * 1000 * n_occurrences + total) // (2 * total)
                AS BIGINT) AS share_milli
    FROM ranked WHERE rnk <= 10 ORDER BY rnk
    """,
)
def q_evt_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step event paths — the clickstream path-mining
    query behind "what do users do next?" dashboards, one step past
    q_ts_transition_matrix's single-hop Markov counts: per user,
    consecutive event triples (ordered by ts with the event_id
    tiebreak), counted globally with the per-path distinct-user reach
    and an exact half-up per-mille share.

    Determinism: the sequence order is total (ts, event_id); counts
    are exact int64; the share uses the half-up integer idiom —
    all-positive, so // vs DIV never diverges.

    Plan shape for 100 TB: ONE user-keyed window (lead x2 over the
    user partition — events co-partition by user, no global sort),
    one (path) agg over at most |event_types|^3 = 125 groups with the
    distinct-user count riding the same shuffle, and the global top-10
    window runs over that bounded 125-row relation (the
    post-aggregate-small-relation exemption the global-window police
    allows). The corpus is read once."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    paths = (
        seq.filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path"),
            "user_id",
        )
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )
    w_rank = Window.orderBy(F.desc("n_occurrences"), F.asc("path"))
    w_all = Window.partitionBy()
    ranked = paths.select(
        F.row_number().over(w_rank).alias("rnk"),
        "path",
        "n_occurrences",
        "n_users",
        F.sum("n_occurrences").over(w_all).cast("long").alias("total"),
    )
    return (
        ranked.filter(F.col("rnk") <= 10)
        .select(
            "rnk",
            "path",
            "n_occurrences",
            "n_users",
            F.expr(
                "CAST((2 * 1000 * n_occurrences + total)"
                " DIV (2 * total) AS BIGINT)"
            ).alias("share_milli"),
        )
        .orderBy("rnk")
    )
