"""Join operators — exhaustive over algorithms × types (SURVEY.md §2.3).

Algorithm pins (hints) exist only where §2 names one; everywhere else
Catalyst + AQE picks (broadcast-hash for the dims here, sort-merge for
fact-fact). Every join's DuckDB oracle computes the same logical join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.operators.asof import asof_join
from khose_spark.registry import query
from khose_spark.sqlutil import dec_sum, sql_dec_sum
from khose_spark.tables import t


@query(
    "q_join_inner_hash",
    oracle="""
    SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
    FROM customer JOIN orders ON c_custkey = o_custkey
    WHERE o_orderstatus = 'F'
    """,
)
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join pinned to shuffled-hash (no sort needed when one
    side builds a hash map per partition)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.hint("shuffle_hash")
        .join(o, c.c_custkey == o.o_custkey, "inner")
        .select("c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice")
    )


@query(
    "q_join_broadcast",
    oracle=f"""
    SELECT p_brand, {sql_dec_sum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dim with the dim explicitly broadcast — the no-shuffle join:
    lineitem never moves, part ships to every executor once."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_join_sortmerge",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_lines,
           count(DISTINCT o_orderkey) AS n_orders
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ fact pinned sort-merge — the right algorithm when both
    sides are huge: sort-shuffle each on the key, stream the merge."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@query(
    "q_join_left_outer",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderstatus = 'O'
    GROUP BY c_custkey
    """,
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero matching orders
    (count(o_orderkey) skips the null-extended rows)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_orderstatus == "O")
    return (
        c.join(o, cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q_join_full_outer",
    oracle="""
    SELECT cn AS cust_nation, sn AS supp_nation
    FROM (SELECT DISTINCT c_nationkey AS cn FROM customer WHERE c_acctbal > 9000)
    FULL JOIN (SELECT DISTINCT s_nationkey AS sn FROM supplier WHERE s_acctbal > 5000)
      ON cn = sn
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two distinct nation-key sets (filtered so each
    side has keys the other lacks)."""
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("cn"))
        .distinct()
    )
    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("sn"))
        .distinct()
    )
    return c.join(s, c.cn == s.sn, "full").select(
        F.col("cn").alias("cust_nation"), F.col("sn").alias("supp_nation")
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — customers having at least one open order. Semi
    joins never duplicate left rows, so no post-dedup shuffle."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — customers with no 'F'-status orders (unfiltered
    anti would be empty: o_custkey spans the full customer range,
    FIXTURES.md)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny dims (5 × 25) — broadcast
    nested-loop; cross joins are only ever sane when one side is small."""
    return t(spark, sf_dir, "region").crossJoin(t(spark, sf_dir, "nation")).select(
        "r_name", "n_name"
    )


@query(
    "q_join_theta_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_partkey, l_extendedprice, p_retailprice
    FROM lineitem JOIN part
      ON p_partkey = l_partkey
     AND l_extendedprice BETWEEN p_retailprice * 0.9 AND p_retailprice * 1.1
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + non-equi range residual: the equi conjunct hashes, the
    range conjunct evaluates as a post-probe filter — so this is NOT a
    nested-loop join despite the theta condition."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cond = (
        (p.p_partkey == li.l_partkey)
        & (li.l_extendedprice >= p.p_retailprice * 0.9)
        & (li.l_extendedprice <= p.p_retailprice * 1.1)
    )
    return li.join(F.broadcast(p), cond).select(
        "l_orderkey", "l_linenumber", "p_partkey", "l_extendedprice", "p_retailprice"
    )


@query(
    "q_join_interval",
    oracle="""
    SELECT a.user_id, count(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 HOUR
    GROUP BY a.user_id
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join on user + 1-hour interval: equi conjunct on user_id
    keeps it a hash join; the time window is the residual predicate."""
    e = t(spark, sf_dir, "events")
    a = e.alias("a")
    b = e.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        a.join(b, cond)
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "q_join_asof",
    oracle="""
    WITH r AS (
      SELECT o_custkey % 150 AS bkey, o_orderdate,
             max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, r.o_orderkey AS last_orderkey,
           strftime(r.o_orderdate, '%Y-%m-%d') AS last_orderdate
    FROM events e
    ASOF LEFT JOIN r ON r.bkey = e.user_id AND r.o_orderdate <= e.ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward join (events ← latest order per bridge key).

    Spark lacks ASOF JOIN; this uses khose_spark.operators.asof.asof_join
    (union + windowed last(ignoreNulls) — linear, one shuffle per input,
    SURVEY.md §4.2.1). DuckDB's native ASOF JOIN is the oracle. The right
    side is pre-deduped per (key, time) so equal-time ties are
    deterministic in both engines."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        t(spark, sf_dir, "orders")
        .groupBy(
            (F.col("o_custkey") % 150).alias("bkey"),
            F.col("o_orderdate"),
        )
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    left = e.withColumnRenamed("user_id", "bkey").withColumn(
        "t", F.col("ts").cast("timestamp")
    )
    joined = asof_join(
        left.select("event_id", "bkey", F.col("ts").alias("t")),
        o.select("bkey", F.col("o_orderdate").alias("t"), "o_orderkey", F.col("o_orderdate")),
        on="t",
        by=["bkey"],
        value_cols=["o_orderkey", "o_orderdate"],
    )
    return joined.select(
        "event_id",
        F.col("bkey").alias("user_id"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_orderdate"),
    )


@query(
    "q_join_multiway",
    oracle=f"""
    SELECT n_name, {sql_dec_sum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join, revenue by nation. Shape at scale: the two fact
    tables sort-merge on orderkey; customer and nation broadcast."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_join_asof_nearest",
    oracle="""
    WITH p AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             max(event_id) AS pid
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), c AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events WHERE event_type = 'click'
    ), b AS (
      SELECT c.event_id, p.pid AS bpid, p.es AS bes
      FROM c ASOF LEFT JOIN p
        ON p.user_id = c.user_id AND p.es <= c.es
    ), f AS (
      SELECT c.event_id, p.pid AS fpid, p.es AS fes
      FROM c ASOF LEFT JOIN p
        ON p.user_id = c.user_id AND p.es >= c.es
    )
    SELECT c.event_id, c.user_id,
           CASE WHEN bes IS NULL AND fes IS NULL THEN NULL
                WHEN fes IS NULL THEN bpid
                WHEN bes IS NULL THEN fpid
                WHEN c.es - bes <= fes - c.es THEN bpid
                ELSE fpid END AS nearest_purchase_id,
           CASE WHEN bes IS NULL AND fes IS NULL THEN NULL
                WHEN fes IS NULL THEN c.es - bes
                WHEN bes IS NULL THEN fes - c.es
                WHEN c.es - bes <= fes - c.es THEN c.es - bes
                ELSE fes - c.es END AS dist_s,
           CASE WHEN bes IS NULL AND fes IS NULL THEN 'none'
                WHEN fes IS NULL THEN 'back'
                WHEN bes IS NULL THEN 'fwd'
                WHEN c.es - bes <= fes - c.es THEN 'back'
                ELSE 'fwd' END AS direction
    FROM c
    JOIN b ON b.event_id = c.event_id
    JOIN f ON f.event_id = c.event_id
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: each click attaches its closest
    purchase by the SAME user in EITHER time direction (tie -> the
    earlier, i.e. backward one) — the sensor-fusion/attribution variant
    of the backward-only q_join_asof. Spark still has no ASOF JOIN;
    the forward pass is the SAME union-fill idiom as backward run on
    the negated time axis (forward as-of == backward as-of on -t), so
    the whole operator is two linear union-window passes, never a
    join explosion. DuckDB's native bidirectional ASOF is the oracle.

    Right side pre-dedupes per (user, second) with max event_id so
    equal-time ties are engine-identical; distances are integer
    seconds (epoch-floor law)."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("es")
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.unix_timestamp("ts").alias("es"))
        .agg(F.max("event_id").alias("pid"))
    )
    back = asof_join(
        clicks.select("event_id", "user_id", F.col("es").alias("t")),
        purch.select(
            "user_id",
            F.col("es").alias("t"),
            "pid",
            F.col("es").alias("bes"),
        ),
        on="t",
        by=["user_id"],
        value_cols=["pid", "bes"],
    ).select(
        F.col("event_id").alias("b_eid"),
        F.col("pid").alias("bpid"),
        "bes",
    )
    fwd = asof_join(
        clicks.select(
            "event_id", "user_id", (-F.col("es")).alias("t")
        ),
        purch.select(
            "user_id",
            (-F.col("es")).alias("t"),
            "pid",
            F.col("es").alias("fes"),
        ),
        on="t",
        by=["user_id"],
        value_cols=["pid", "fes"],
    ).select(
        F.col("event_id").alias("f_eid"),
        F.col("pid").alias("fpid"),
        "fes",
    )
    joined = clicks.join(
        back, clicks.event_id == back.b_eid
    ).join(fwd, clicks.event_id == fwd.f_eid)
    pick_back = (
        F.col("fes").isNull()
        | (
            F.col("bes").isNotNull()
            & (F.col("es") - F.col("bes") <= F.col("fes") - F.col("es"))
        )
    )
    none = F.col("bes").isNull() & F.col("fes").isNull()
    return joined.select(
        "event_id",
        "user_id",
        F.when(none, F.lit(None).cast("long"))
        .when(pick_back, F.col("bpid"))
        .otherwise(F.col("fpid"))
        .alias("nearest_purchase_id"),
        F.when(none, F.lit(None).cast("long"))
        .when(pick_back, F.col("es") - F.col("bes"))
        .otherwise(F.col("fes") - F.col("es"))
        .alias("dist_s"),
        F.when(none, "none")
        .when(pick_back, "back")
        .otherwise("fwd")
        .alias("direction"),
    )


_RANGE_WIN_S = 5  # |click - purchase| <= 5 seconds, no equi key


@query(
    "q_join_range_bucketed",
    oracle=f"""
    WITH c AS (
      SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events WHERE event_type = 'purchase'
    ), pairs AS (
      -- BETWEEN, not abs(): the two-inequality form engages DuckDB's
      -- IEJoin; abs() planned as a nested loop and took 165 s on the
      -- 10x sweep (r07) for the identical result.
      SELECT c.event_id AS cid, p.event_id AS pid
      FROM c JOIN p ON p.es BETWEEN c.es - {_RANGE_WIN_S}
                               AND c.es + {_RANGE_WIN_S}
    )
    SELECT count(*) AS n_pairs,
           count(DISTINCT cid) AS n_clicks_matched,
           count(DISTINCT pid) AS n_purchases_matched
    FROM pairs
    """,
)
def q_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join WITHOUT an equi key (clicks x purchases within 5
    seconds, any user) — the query shape that naively plans as a
    cartesian/BNLJ. The scale pattern: quantize time into win-sized
    buckets, explode each probe row to its bucket and both neighbors
    (a candidate pair's buckets can differ by at most 1 when
    |dt| <= win), EQUI-join on the bucket, then apply the exact range
    predicate to candidates only. Shuffle volume is 3x linear; no
    cross product exists anywhere in the plan (gated by
    tests/test_plans.py's cartesian sweep like every key). The oracle
    runs the direct non-equi join, so the hash-match certifies the
    bucketed rewrite is LOSSLESS.

    Skew note: a hot second concentrates one bucket; at 100 TB the
    standard fix is a finer bucket + more neighbors, or salting the
    bucket key — same plan shape."""
    ev = t(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.unix_timestamp("ts").alias("ces"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.unix_timestamp("ts").alias("pes"),
    )
    c_exp = c.select(
        "cid",
        "ces",
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("off"),
    ).select(
        "cid",
        "ces",
        (F.expr(f"ces DIV {_RANGE_WIN_S}") + F.col("off")).alias("bkt"),
    )
    p_bkt = p.select(
        "pid", "pes", F.expr(f"pes DIV {_RANGE_WIN_S}").alias("bkt")
    )
    pairs = (
        c_exp.join(p_bkt, "bkt")
        .filter(F.abs(F.col("ces") - F.col("pes")) <= _RANGE_WIN_S)
        .select("cid", "pid")
        .distinct()
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("cid").alias("n_clicks_matched"),
        F.countDistinct("pid").alias("n_purchases_matched"),
    )


# Grid-bucketed spatial join geometry: synthetic integer-derived
# coordinates (the q_fn_geo_haversine recipe, applied to customers and
# suppliers), |lat| <= 59.75 so cos(lat) >= 0.5. Radius 500 km needs
# <= 4.51 deg of latitude and <= 9.01 deg of longitude at the band's
# worst latitude, so a 10-degree grid with +/-1-cell probing is
# LOSSLESS for the radius: every qualifying pair shares a cell or an
# adjacent one (the fixture's lon range [-169.75, 169.75] keeps every
# 500 km pair on the short side of the antimeridian, so no wraparound
# cell is needed).
_GEO_CELL_DEG = 10
_GEO_RADIUS_KM = 500

_SQL_GEO_COORDS = """
    cust AS (
      SELECT c_custkey,
             CAST((c_custkey * 7) % 120 - 60 AS DOUBLE) + 0.5 AS lat,
             CAST((c_custkey * 37) % 340 - 170 AS DOUBLE) + 0.25 AS lon
      FROM customer
    ), supp AS (
      SELECT s_suppkey,
             CAST((s_suppkey * 7) % 120 - 60 AS DOUBLE) + 0.5 AS lat,
             CAST((s_suppkey * 37) % 340 - 170 AS DOUBLE) + 0.25 AS lon
      FROM supplier
    )
"""

_SQL_GEO_KM = """
    2 * 6371.0 * asin(sqrt(
        pow(sin(radians(s.lat - c.lat) / 2), 2)
        + cos(radians(c.lat)) * cos(radians(s.lat))
          * pow(sin(radians(s.lon - c.lon) / 2), 2)))
"""


def _geo_point(
    key: str, lat_mul: int, lat_off: float, lon_mul: int, lon_off: float
) -> list[Column]:
    """Deterministic (lat, lon) of an integer key: the q_fn_geo_haversine
    recipe with the given multipliers and offsets."""
    lat = ((F.col(key) * lat_mul) % 120 - 60).cast("double") + lat_off
    lon = ((F.col(key) * lon_mul) % 340 - 170).cast("double") + lon_off
    return [lat.alias("lat"), lon.alias("lon")]


def _geo_within_radius(
    spark: SparkSession, sf_dir: str, cust: tuple[int, float, int, float]
) -> DataFrame:
    """(c_custkey, s_suppkey, km) for every customer/supplier pair within
    _GEO_RADIUS_KM, km the haversine rounded to 3 decimals: customers
    placed by ``cust`` = (lat_mul, lat_off, lon_mul, lon_off), suppliers
    by the shared 7/37 recipe; suppliers explode to their 3x3 cell
    neighborhood and broadcast, customers join on their own cell."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", *_geo_point("c_custkey", *cust)
    )
    s = t(spark, sf_dir, "supplier").select(
        "s_suppkey", *_geo_point("s_suppkey", 7, 0.5, 37, 0.25)
    )
    cell = _GEO_CELL_DEG
    c_cells = c.select(
        "c_custkey",
        F.col("lat").alias("c_lat"),
        F.col("lon").alias("c_lon"),
        F.floor(F.col("lat") / cell).alias("cell_lat"),
        F.floor(F.col("lon") / cell).alias("cell_lon"),
    )
    d = spark.range(-1, 2).select(F.col("id").alias("d"))
    s_cells = (
        s.crossJoin(F.broadcast(d.select(F.col("d").alias("dlat"))))
        .crossJoin(F.broadcast(d.select(F.col("d").alias("dlon"))))
        .select(
            "s_suppkey",
            F.col("lat").alias("s_lat"),
            F.col("lon").alias("s_lon"),
            (F.floor(F.col("lat") / cell) + F.col("dlat")).alias("cell_lat"),
            (F.floor(F.col("lon") / cell) + F.col("dlon")).alias("cell_lon"),
        )
    )
    km = (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(
                    F.sin(F.radians(F.col("s_lat") - F.col("c_lat")) / 2), 2
                )
                + F.cos(F.radians("c_lat"))
                * F.cos(F.radians("s_lat"))
                * F.pow(
                    F.sin(F.radians(F.col("s_lon") - F.col("c_lon")) / 2), 2
                )
            )
        )
    )
    return (
        c_cells.join(F.broadcast(s_cells), ["cell_lat", "cell_lon"])
        .select(
            "c_custkey",
            "s_suppkey",
            F.round(km, 3).alias("km"),
        )
        .filter(F.col("km") <= _GEO_RADIUS_KM)
    )


@query(
    "q_join_geo_grid",
    oracle=f"""
    WITH {_SQL_GEO_COORDS}, pairs AS (
      SELECT c.c_custkey, s.s_suppkey,
             round({_SQL_GEO_KM}, 3) AS km
      FROM cust c CROSS JOIN supp s
    )
    SELECT c_custkey, s_suppkey, km
    FROM pairs WHERE km <= {_GEO_RADIUS_KM}
    ORDER BY km, c_custkey, s_suppkey LIMIT 15
    """,
)
def q_join_geo_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial radius join — the geo sibling of the
    banded dedup joins: customers and suppliers get deterministic
    integer-derived coordinates (the q_fn_geo_haversine recipe), the
    supplier side explodes to its 3x3 neighborhood of 10-degree grid
    cells (9 rows per supplier — the SMALL side carries the fan-out)
    and broadcasts, customers join on their single cell key, and the
    exact haversine <= 500 km predicate prunes the candidates. The
    10-degree cell is chosen so +/-1-cell probing provably covers the
    radius at every fixture latitude (see module constants) — the
    oracle certifies that losslessness by computing the same result
    from the full cross join at fixture scale (customers/suppliers are
    DIMENSION tables: constant cardinality at every scale factor, so
    the quadratic oracle stays fixture-sized even at 100x).

    At 100 TB the same plan is a point table map-side hashed to cells
    against broadcast (or cell-bucketed) reference geometry — one
    equi-join shuffle at most, candidates bounded by cell occupancy,
    never |A| x |B|."""
    return (
        _geo_within_radius(spark, sf_dir, (7, 0.5, 37, 0.25))
        .orderBy("km", "c_custkey", "s_suppkey")
        .limit(15)
    )


# KNN point coordinates: the cust side uses DECORRELATED multipliers
# (11/43 vs the shared recipe's 7/37) so point and reference grids
# don't alias — with the shared recipe, customer k and supplier k land
# on identical coordinates and every low-key customer trivially snaps
# to its key-twin at 0 km. Bounds hold: lat in [-59.75, 59.25],
# lon in [-169.5, 169.5] — inside the grid law's |lat| <= 59.75 band,
# no antimeridian wrap.
_SQL_GEO_KNN_CUST = """
    cust AS (
      SELECT c_custkey,
             CAST((c_custkey * 11) % 120 - 60 AS DOUBLE) + 0.25 AS lat,
             CAST((c_custkey * 43) % 340 - 170 AS DOUBLE) + 0.5 AS lon
      FROM customer
    )"""

_SQL_GEO_SUPP = """
    supp AS (
      SELECT s_suppkey,
             CAST((s_suppkey * 7) % 120 - 60 AS DOUBLE) + 0.5 AS lat,
             CAST((s_suppkey * 37) % 340 - 170 AS DOUBLE) + 0.25 AS lon
      FROM supplier
    )"""


@query(
    "q_join_geo_knn",
    oracle=f"""
    WITH {_SQL_GEO_KNN_CUST}, {_SQL_GEO_SUPP}, scored AS (
      SELECT c.c_custkey, s.s_suppkey,
             round({_SQL_GEO_KM}, 3) AS km
      FROM cust c CROSS JOIN supp s
    ), nearest AS (
      SELECT c_custkey, s_suppkey, km FROM (
        SELECT c_custkey, s_suppkey, km,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY km, s_suppkey) AS rn
        FROM scored WHERE km <= {_GEO_RADIUS_KM}
      ) WHERE rn = 1
    )
    SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_customers,
           min(km) AS min_km, max(km) AS max_km
    FROM nearest GROUP BY 1
    ORDER BY n_customers DESC, s_suppkey LIMIT 15
    """,
)
def q_join_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor spatial join on the q_join_geo_grid cells: each
    customer's single nearest supplier within 500 km (rank by rounded
    haversine, supplier-key tiebreak), rolled up to the top-15
    suppliers by captured-customer count — the "assign every point to
    its closest facility" join, the argmin sibling of the radius join.

    Losslessness rides on the same grid law: any supplier within
    500 km of a customer shares its cell or an adjacent one (module
    constants), so ranking the 3x3-cell candidates IS ranking the full
    within-radius set — the top-1 cannot hide outside the probe
    window. Customers with no supplier in radius drop out (no
    candidate row survives the km filter), exactly as in the oracle's
    cross-join form. km is rounded to 3 decimals BEFORE ranking in
    both engines so the rank key is identical (the aa_score ordering
    precedent); dims are fixture-sized at every factor of the decade
    sweeps, so the quadratic oracle stays cheap.

    Plan: point side map-side hashed to its single cell, reference
    side exploded x9 and broadcast, per-customer rank over cell-local
    candidates (bounded by cell occupancy), then a supplier-keyed
    rollup of the 1-row-per-customer relation. At 100 TB: one
    equi-join against broadcast/bucketed geometry + one rollup
    shuffle of the assignment relation — never |A| x |B|."""
    scored = _geo_within_radius(spark, sf_dir, (11, 0.25, 43, 0.5))
    w = Window.partitionBy("c_custkey").orderBy("km", "s_suppkey")
    nearest = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "s_suppkey", "km")
    )
    return (
        nearest.groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min("km").alias("min_km"),
            F.max("km").alias("max_km"),
        )
        .orderBy(F.desc("n_customers"), "s_suppkey")
        .limit(15)
    )


_ASOF_TOL_US = 1_800_000_000  # 30-minute attribution window, microseconds


@query(
    "q_join_asof_tolerance",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ), matched AS (
      SELECT p.event_id, p.user_id,
             c.click_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS stale_us
      FROM purchases p
      ASOF LEFT JOIN clicks c
        ON c.user_id = p.user_id AND c.ts <= p.ts
    )
    SELECT event_id, user_id,
           CASE WHEN stale_us <= {_ASOF_TOL_US}
                THEN click_id END AS attributed_click_id,
           CASE WHEN stale_us <= {_ASOF_TOL_US}
                THEN CAST(stale_us AS BIGINT) END AS staleness_us,
           CASE WHEN stale_us <= {_ASOF_TOL_US} THEN 1 ELSE 0 END
             AS is_attributed
    FROM matched
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH STALENESS TOLERANCE — the attribution-window
    variant that completes the as-of family (backward: q_join_asof;
    nearest-either-direction: q_join_asof_nearest): each purchase
    attributes to the user's latest click at-or-before it, but ONLY if
    that click is within the 30-minute window; older matches are
    rejected to NULL (an attribution system must distinguish "no prior
    click" from "prior click too stale" — both NULL here, flagged by
    is_attributed). This is kdb's ``wj``/tolerance-asof semantics, the
    shape khose-style event pipelines join quotes-to-trades with.

    Plan: the same linear union-tag + windowed last(ignoreNulls) idiom
    as q_join_asof (one shuffle per input, no row explosion — the
    tolerance is a post-match map-side CASE, never a range-join blowup
    of candidates). Staleness carried as EXACT epoch-microsecond int64
    differences (no float time math), so the window compare and the
    hash check are exact. Right side pre-deduped per (user, ts) with
    max(event_id) — equal-time ties deterministic in both engines. At
    100 TB: two fact shuffles on (user, time), the standard as-of
    shape."""
    ev = t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", F.col("ts").alias("t"), "click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("t")
    )
    clicks = clicks.withColumn("click_ts", F.col("t"))
    joined = asof_join(
        purchases,
        clicks,
        on="t",
        by=["user_id"],
        value_cols=["click_id", "click_ts"],
    )
    stale_us = F.unix_micros(F.col("t")) - F.unix_micros(
        F.col("click_ts")
    )
    within = stale_us <= _ASOF_TOL_US
    return joined.select(
        "event_id",
        "user_id",
        F.when(within, F.col("click_id")).alias("attributed_click_id"),
        F.when(within, stale_us.cast("long")).alias("staleness_us"),
        F.when(within, 1).otherwise(0).alias("is_attributed"),
    )
