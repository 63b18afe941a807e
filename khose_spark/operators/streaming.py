"""Streaming operators (SURVEY.md §2.9) — batch-semantic twins.

Each `_batchsem` query is the BATCH evaluation of a streaming
aggregation (hash-checked against DuckDB); tests/test_streaming.py
drives the same plan through a file-source micro-batch stream and
asserts the results converge — Structured Streaming's
prefix-consistency guarantee makes that the correct equivalence.

The streaming runtime itself (file/Kinesis-envelope sources, exactly-
once parquet sink, watermarks, stateful ops) lives in
khose_spark.streaming and khose_spark.sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.registry import query
from khose_spark.sqlutil import cents, dec_sum, sql_dec_sum
from khose_spark.tables import t


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """1-hour tumbling window counts+sums — THE streaming aggregation
    shape. Works identically on a batch or streaming DataFrame (the
    streaming run adds a watermark before calling this)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q_stream_tumbling_batchsem",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, {sql_dec_sum('value', 2)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling_batchsem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the 1-hour tumbling-window stream aggregation."""
    return tumbling_hourly(t(spark, sf_dir, "events"))


def sliding_hourly(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes; each event lands in 2."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )


@query(
    "q_stream_sliding_batchsem",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n
    FROM (
      SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws
      FROM events
    )
    GROUP BY 1
    """,
)
def q_stream_sliding_batchsem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the sliding-window count. Spark's window() expands
    each row into its two covering windows; the oracle mirrors with an
    explicit 2-element unnest."""
    return sliding_hourly(t(spark, sf_dir, "events"))


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gaps-and-islands sessionization (batch twin of session_window):
    new session when the gap to the previous same-user event exceeds
    ``gap_minutes``; emits per-session start/count/duration."""
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap_s = gap_minutes * 60
    epoch = F.unix_timestamp("ts")
    is_new = (
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(epoch - F.unix_timestamp(F.lag("ts").over(w)) > gap_s, 1)
        .otherwise(0)
    )
    sess = events.select(
        "user_id", "ts", "event_id", F.sum(is_new).over(w).alias("session_no")
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
            "duration_s"
        ),
    )


@query(
    "q_stream_session_batchsem",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800 THEN 1
                  ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_no
      FROM ordered
    )
    SELECT user_id, session_no,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           CAST(floor(epoch(max(ts))) AS BIGINT)
             - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def q_stream_session_batchsem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of session_window(ts, '30 minutes') per user."""
    return sessionize_batch(t(spark, sf_dir, "events"))


@query(
    "q_stream_dedup_batchsem",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_dedup_batchsem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of at-least-once delivery repair: double every event
    (union all), dropDuplicates on event_id must restore the original
    counts (event_id unique in fixtures). Streaming variant uses
    dropDuplicatesWithinWatermark."""
    e = t(spark, sf_dir, "events")
    doubled = e.unionAll(e)
    return (
        doubled.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def click_purchase_pairs(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream (or batch-batch) interval join: every (click,
    purchase) of the same user where the purchase lands within 30
    minutes AFTER the click — the attribution-join shape. On streaming
    inputs both sides must carry watermarks; the time-range condition
    lets Spark bound the join state (each side's buffer is evicted once
    the other side's watermark passes the range), which is what makes
    stream-stream joins feasible on unbounded 100 TB/day streams."""
    c = clicks.alias("c")
    p = purchases.alias("p")
    return c.join(
        p,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") > F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
    )


@query(
    "q_stream_join_batchsem",
    oracle=f"""
    SELECT c.user_id AS user_id,
           count(*) AS n_pairs,
           {sql_dec_sum('p.value', 2)} AS attributed_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    """,
)
def q_stream_join_batchsem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the click→purchase attribution stream-stream join:
    pair counts + attributed purchase value per user."""
    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    purchases = e.filter(F.col("event_type") == "purchase")
    c = clicks.alias("c")
    p = purchases.alias("p")
    return (
        c.join(
            p,
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") > F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy(F.col("c.user_id").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dec_sum(F.col("p.value"), 2).alias("attributed_value"),
        )
    )


@query(
    "q_stream_upsert_batchsem",
    oracle="""
    SELECT user_id, event_type, event_id AS last_event_id,
           value AS last_value, ts AS last_ts, n_versions
    FROM (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n_versions
      FROM events
    ) WHERE rn = 1
    """,
)
def q_stream_upsert_batchsem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-state (upsert/compaction) view: one row per
    (user_id, event_type) carrying the most recent event's id and value
    — the CDC-style materialization a streaming sink maintains when the
    downstream wants current state, not history. (ts, event_id) struct
    ordering makes the winner deterministic under ts ties. One shuffle
    on the compound key; at 100 TB this is the standard log-compaction
    shape (the streaming twin is dropDuplicates-on-key over a
    descending-ts source, or transformWithState keeping max)."""
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.max_by("event_id", key).alias("last_event_id"),
            F.max_by("value", key).alias("last_value"),
            F.max("ts").alias("last_ts"),
            F.count("*").alias("n_versions"),
        )
    )


def windowed_user_spend(events: DataFrame) -> DataFrame:
    """6-hour tumbling (window_start, user_id, cents) spend aggregate —
    the streaming-maintainable half of the windowed leaderboard (exact
    integer cents, so streaming partial aggregation is order-free)."""
    return (
        events.groupBy(F.window("ts", "6 hours").alias("w"), "user_id")
        .agg(
            F.sum(cents(F.col("value"))).alias("cents")
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "user_id",
            "cents",
        )
    )


def rank_topk_spenders(agg: DataFrame, k: int = 3) -> DataFrame:
    """Top-k users per window from the materialized aggregate — the
    query step that runs OVER the stream's state/sink table, because
    ranking is not an incrementally-maintainable streaming operator;
    this split (stream maintains the agg, rank at read time) is the
    production leaderboard shape."""
    w = Window.partitionBy("window_start").orderBy(
        F.desc("cents"), F.asc("user_id")
    )
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select(
            "window_start",
            "rk",
            "user_id",
            F.round(F.col("cents").cast("decimal(28,4)") / 100, 2)
            .cast("double")
            .alias("spend"),
        )
    )


@query(
    "q_stream_topk_batchsem",
    oracle="""
    WITH b AS (
      SELECT strftime(time_bucket(INTERVAL 6 HOUR, ts),
                      '%Y-%m-%d %H:%M:%S') AS window_start,
             user_id,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT window_start, user_id, cents,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY cents DESC, user_id) AS rk
      FROM b
    )
    SELECT window_start, CAST(rk AS INT) AS rk, user_id,
           CAST(round(CAST(cents AS DECIMAL(28,4)) / 100, 2) AS DOUBLE)
               AS spend
    FROM r WHERE rk <= 3
    """,
)
def q_stream_topk_batchsem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the windowed top-spender leaderboard: 6-hour
    tumbling windows, top-3 users by exact-cent spend per window
    (deterministic user_id tiebreak). The streaming run maintains
    ``windowed_user_spend`` in complete mode and applies
    ``rank_topk_spenders`` over the materialized table — convergence
    is asserted in tests/test_streaming.py. Both engines' 6h buckets
    are epoch-midnight-aligned, so window starts agree exactly.

    Scale: the streamed state is (n_windows × active users) — bounded
    by watermarking in production; the rank runs over post-agg rows
    partitioned by window, never over raw events."""
    return rank_topk_spenders(windowed_user_spend(t(spark, sf_dir, "events")))


def enrich_with_customer(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment: attach the customer dimension to an
    event stream on user_id = c_custkey (every fixture user_id is a
    valid custkey). The dim side is broadcast — on an unbounded stream
    the static side MUST be the build side (no state store involved;
    each micro-batch plans a plain broadcast hash join), which is also
    the 100 TB posture for any dimension that fits an executor.
    Shared verbatim by the batch twin and the streaming convergence
    test: the tested path IS the ingest path."""
    dim = customer.select(
        F.col("c_custkey"), F.col("c_mktsegment"), F.col("c_nationkey")
    )
    return events.join(
        F.broadcast(dim), events["user_id"] == dim["c_custkey"]
    )


@query(
    "q_stream_enrich_batchsem",
    oracle=f"""
    SELECT c.c_mktsegment AS mktsegment,
           e.event_type AS event_type,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           {sql_dec_sum('e.value', 2)} AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def q_stream_enrich_batchsem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of stream-static dimension enrichment during ingest —
    khose's enrich step (decorate each incoming record with reference
    data, then aggregate): per (market segment, event type) event count,
    distinct users, and exact-cent value total. The streaming run joins
    the SAME broadcast dim per micro-batch and converges to this
    answer (tests/test_streaming.py).

    Scale: the dim is broadcast (no shuffle on the stream side, no
    state); the aggregation shuffles on the (segment, type) key —
    cardinality 5×5 — with map-side partial aggregation doing almost
    all the work."""
    enriched = enrich_with_customer(
        t(spark, sf_dir, "events"), t(spark, sf_dir, "customer")
    )
    return enriched.groupBy(
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("event_type").alias("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dec_sum(F.col("value"), 2).alias("sum_value"),
    )


@query(
    "q_stream_disorder_batchsem",
    oracle="""
    WITH arrivals AS (
      SELECT event_type, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS es,
             max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS wm
      FROM events
    ), scored AS (
      SELECT event_type,
             CASE WHEN wm IS NULL THEN 0 ELSE greatest(wm - es, 0) END
               AS lag_s
      FROM arrivals
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN lag_s > 600 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           CAST((2 * 1000 * sum(CASE WHEN lag_s > 600 THEN 1 ELSE 0 END)
                 + count(*)) // (2 * count(*)) AS BIGINT)
               AS late_permille,
           CAST(max(lag_s) AS BIGINT) AS max_lag_s
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
)
def q_stream_disorder_batchsem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time DISORDER audit in batch semantics - the
    watermark-sizing question every Structured Streaming deployment
    must answer BEFORE picking ``withWatermark``: per user stream (the
    state key all the stateful ops partition by), how far does event
    time run backwards relative to what already arrived? An event is
    late-by-L when the running max event-time of the user's EARLIER
    arrivals (arrival order = event_id, the ingest sequence) exceeds
    its own event time by L; the per-type share of events later than a
    600 s watermark IS the data-loss rate that watermark would cause,
    and max_lag_s is the delay bound a zero-loss watermark needs.
    Composes with the keyless engine tests (tests/test_streaming.py
    watermark suite): they prove the ENGINE drops late rows; this key
    measures HOW MUCH of the real corpus would drop.

    Determinism/exactness: all integer arithmetic - epoch seconds,
    a ROWS-frame running max over the (event_id) total order, exact
    counts and half-up permille. No floats.

    Plan: ONE user-keyed window shuffle (the exact partitioning the
    streaming state store uses) + a |types|-bounded aggregate. At
    100 TB: one shuffle, per-user partitions, no skew beyond the
    per-user stream length."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_timestamp("ts").alias("es"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = ev.select(
        "event_type",
        F.when(
            F.max("es").over(w).isNull(), F.lit(0).cast("long")
        )
        .otherwise(F.greatest(F.max("es").over(w) - F.col("es"), F.lit(0)))
        .cast("long")
        .alias("lag_s"),
    )
    late = F.when(F.col("lag_s") > 600, 1).otherwise(0)
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(late).cast("long").alias("n_late"),
            F.expr(
                "CAST((2 * 1000 * sum(CASE WHEN lag_s > 600 THEN 1 ELSE 0 END)"
                " + count(*)) DIV (2 * count(*)) AS BIGINT)"
            ).alias("late_permille"),
            F.max("lag_s").cast("long").alias("max_lag_s"),
        )
        .orderBy("event_type")
    )


@query(
    "q_stream_state_budget_batchsem",
    oracle="""
    WITH snap AS (
      SELECT max(epoch_us(ts)) AS t_max FROM events
    ), scored AS (
      SELECT e.event_type, e.user_id,
             CASE WHEN epoch_us(e.ts) > s.t_max - 600 * 1000000
                  THEN 1 ELSE 0 END AS live
      FROM events e CROSS JOIN snap s
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(live) AS BIGINT) AS live_rows,
           CAST(count(DISTINCT CASE WHEN live = 1 THEN user_id END)
                AS BIGINT) AS live_keys,
           CAST(sum(live) * 24
                + count(DISTINCT CASE WHEN live = 1 THEN user_id END)
                  * 16 AS BIGINT) AS est_state_bytes,
           CAST((2 * 1000 * sum(live) + count(*)) // (2 * count(*))
                AS BIGINT) AS live_permille
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
)
def q_stream_state_budget_batchsem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """State-store sizing audit for a 600 s-watermark streaming job —
    the capacity-planning question every applyInPandasWithState /
    dropDuplicatesWithinWatermark deployment must answer BEFORE going
    to production: at the stream's current frontier (max event time),
    how many rows and distinct keys per event type are still inside the
    watermark horizon (i.e., must be held in state), and what does that
    cost in bytes (documented constants: 24 B/buffered row + 16 B/key —
    the audit's unit price, not a JVM measurement)? The live share per
    type is the half-up permille a state-store eviction dashboard would
    chart. Composes with q_stream_disorder_batchsem (which sizes the
    WATERMARK from the disorder) — disorder picks the horizon, this key
    prices it.

    Exactness: event-time arithmetic in exact integer MICROSECONDS
    (epoch_us / unix_micros — no float epoch), counts and the byte
    model all int64, half-up permille.

    Plan: 1-row frontier aggregate broadcast-crossed into the scan,
    one (type)-keyed conditional agg with a distinct-count expansion.
    At 100 TB: one fact pass + the |types|-bounded rollup."""
    ev = t(spark, sf_dir, "events")
    snap = ev.agg(F.max(F.unix_micros("ts")).alias("t_max"))
    scored = ev.crossJoin(F.broadcast(snap)).select(
        "event_type",
        "user_id",
        F.when(
            F.unix_micros("ts") > F.col("t_max") - 600 * 1000000, 1
        )
        .otherwise(0)
        .alias("live"),
    )
    live_user = F.when(F.col("live") == 1, F.col("user_id"))
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("live").cast("long").alias("live_rows"),
            F.countDistinct(live_user).cast("long").alias("live_keys"),
            (
                F.sum("live") * 24 + F.countDistinct(live_user) * 16
            )
            .cast("long")
            .alias("est_state_bytes"),
            F.expr(
                "CAST((2 * 1000 * sum(live) + count(*))"
                " DIV (2 * count(*)) AS BIGINT)"
            ).alias("live_permille"),
        )
        .orderBy("event_type")
    )
