"""Scalar-function sweep: string / date / math / conditional / array /
map / JSON (SURVEY.md §2.7).

This is where Spark↔DuckDB semantic mismatches live; each oracle mirrors
the exact semantics (datediff arg order, floor(epoch()) vs
unix_timestamp, float->double widening before rounding, ISO-string
rendering of dates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.registry import query
from khose_spark.sqlutil import dec_round, sql_cents
from khose_spark.tables import t


@query(
    "q_fn_string",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                              AS uname,
           substring(p_name, 1, 8)                    AS prefix,
           length(p_name)                             AS name_len,
           concat_ws('-', p_brand, p_type)            AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0')      AS padded_size,
           trim(p_name)                               AS trimmed,
           replace(p_type, 'BRASS', 'bronze')         AS replaced,
           instr(p_type, 'BRASS')                     AS brass_pos
    FROM part
    """,
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface over part."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.substring("p_name", 1, 8).alias("prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded_size"),
        F.trim(F.col("p_name")).alias("trimmed"),
        F.replace(F.col("p_type"), F.lit("BRASS"), F.lit("bronze")).alias("replaced"),
        F.instr(F.col("p_type"), "BRASS").cast("long").alias("brass_pos"),
    )


@query(
    "q_fn_split_explode",
    oracle="""
    SELECT word, n, rnk FROM (
      SELECT word, n,
             row_number() OVER (ORDER BY n DESC, word ASC) AS rnk
      FROM (
        SELECT word, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY word
      )
    ) WHERE rnk <= 20
    """,
)
def q_fn_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count via split+explode, top-20 by frequency (word asc ties).
    At 100 TB the explode is map-side and the count partial-aggregates
    before the single shuffle — the canonical scalable wordcount."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    return counts.select("word", "n", F.row_number().over(w).alias("rnk")).filter(
        F.col("rnk") <= 20
    )


@query(
    "q_fn_regexp_extract",
    oracle="""
    SELECT CAST(regexp_extract(source, 'src(\\d+)', 1) AS BIGINT) AS src_num,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def q_fn_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract of the numeric suffix of documents.source."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            F.regexp_extract("source", r"src(\d+)", 1).cast("long").alias("src_num")
        )
        .groupBy("src_num")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q_fn_date",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                                   AS y,
           month(o_orderdate)                                  AS m,
           day(o_orderdate)                                    AS dom,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
    FROM orders WHERE o_orderkey < 1000
    """,
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function surface over orders (dates rendered as ISO strings;
    Spark datediff(end,start) == DuckDB datediff('day',start,end))."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    od = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(od, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since"),
        F.date_format(F.date_add(od, 30), "yyyy-MM-dd").alias("plus30"),
        F.date_format(F.last_day(od), "yyyy-MM-dd").alias("month_end"),
    )


@query(
    "q_fn_ts",
    oracle="""
    SELECT event_id,
           hour(ts)                                AS h,
           minute(ts)                              AS mi,
           CAST(floor(epoch(ts)) AS BIGINT)        AS epoch_s,
           strftime(CAST(ts AS DATE), '%Y-%m-%d')  AS d,
           CAST(floor(epoch(ts)) AS BIGINT) // 3600 * 3600 AS hour_bucket
    FROM events WHERE event_id < 200
    """,
)
def q_fn_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-function surface. unix_timestamp floors to seconds —
    oracle mirrors with floor(epoch())."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    epoch_s = F.unix_timestamp("ts")
    return e.select(
        "event_id",
        F.hour("ts").cast("long").alias("h"),
        F.minute("ts").cast("long").alias("mi"),
        epoch_s.alias("epoch_s"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d"),
        (F.floor(epoch_s / 3600) * 3600).alias("hour_bucket"),
    )


@query(
    "q_fn_math",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 0)                       AS r0,
           floor(l_discount * 100)                         AS fl,
           ceil(l_tax * 100)                               AS ce,
           abs(l_quantity - 25)                            AS ab,
           round(pow(l_quantity, 2), 2)                    AS p2,
           round(sqrt(l_extendedprice), 4)                 AS sq,
           round(ln(l_extendedprice), 4)                   AS lnp,
           round(log10(l_extendedprice), 4)                AS lg,
           CAST(l_orderkey % 7 AS BIGINT)                  AS pm,
           CAST(sign(l_quantity - 25) AS DOUBLE)           AS sg,
           greatest(l_quantity, l_discount * 1000)         AS gr,
           least(l_quantity, l_tax * 1000)                 AS le
    FROM lineitem WHERE l_orderkey < 300
    """,
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function surface. pmod on non-negative operands == %; sign
    cast to double on both engines; transcendentals rounded at 4."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 0).alias("r0"),
        F.floor(F.col("l_discount") * 100).cast("double").alias("fl"),
        F.ceil(F.col("l_tax") * 100).cast("double").alias("ce"),
        F.abs(F.col("l_quantity") - 25).alias("ab"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("p2"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("sq"),
        F.round(F.log("l_extendedprice"), 4).alias("lnp"),
        F.round(F.log10("l_extendedprice"), 4).alias("lg"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).cast("long").alias("pm"),
        F.signum(F.col("l_quantity") - 25).alias("sg"),
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 1000).alias("gr"),
        F.least(F.col("l_quantity"), F.col("l_tax") * 1000).alias("le"),
    )


@query(
    "q_fn_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END                              AS tier,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN')     AS status_lbl,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_urgent
    FROM orders
    """,
)
def q_fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN tiers, coalesce, nullif, if."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("tier"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_lbl"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("int")
        .alias("is_urgent"),
    )


@query(
    "q_fn_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str,
           CAST(strptime('2020-06-15', '%Y-%m-%d') AS DATE) = DATE '2020-06-15' AS date_ok,
           CAST(o_orderkey AS DOUBLE) / 2                       AS half_key,
           CAST(trunc(o_totalprice) AS BIGINT)                  AS trunc_price
    FROM orders WHERE o_orderkey < 500
    """,
)
def q_fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast surface: double->decimal->string, string->date, int->double,
    double->int. Spark's double->int cast truncates toward zero while
    DuckDB's rounds — the oracle mirrors Spark with trunc()."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(12,2)").cast("string").alias("price_str"),
        (F.to_date(F.lit("2020-06-15"), "yyyy-MM-dd") == F.lit("2020-06-15").cast("date")).alias(
            "date_ok"
        ),
        (F.col("o_orderkey").cast("double") / 2).alias("half_key"),
        F.col("o_totalprice").cast("int").cast("long").alias("trunc_price"),
    )


@query(
    "q_fn_array",
    oracle="""
    SELECT vec_id,
           len(embedding)                                           AS n_dims,
           round(CAST(embedding[1] AS DOUBLE), 4)                   AS e1,
           round(CAST(list_max(embedding) AS DOUBLE), 4)            AS emax,
           round(CAST(list_min(embedding) AS DOUBLE), 4)            AS emin
    FROM embeddings
    """,
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over embeddings (scalars only — array
    outputs hash differently across pandas dtypes). Floats widen to
    double BEFORE rounding on both engines."""
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("e1"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("emax"),
        F.round(F.array_min("embedding").cast("double"), 4).alias("emin"),
    )


@query(
    "q_fn_array_hof",
    oracle="""
    SELECT vec_id,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * 2)), 4) AS sum2,
           round(list_sum(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 4) AS l1_norm
    FROM embeddings
    """,
)
def q_fn_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform + aggregate lambdas.
    Sequential in-order float summation on both engines -> identical
    bits before rounding."""
    e = t(spark, sf_dir, "embeddings")
    dbl = lambda x: x.cast("double")  # noqa: E731
    return e.select(
        "vec_id",
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: dbl(x) * 2),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("sum2"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: F.abs(dbl(x))),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("l1_norm"),
    )


@query(
    "q_fn_json",
    oracle="""
    SELECT event_type,
           count(*)                                                  AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from events.props ('{"k": <int>}', FIXTURES.md)."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "q_fn_map",
    oracle="""
    SELECT event_id,
           CAST(len(json_keys(props)) AS INTEGER)                    AS n_keys,
           CAST(json_extract_string(props, '$.k') AS INTEGER)        AS k_val
    FROM events WHERE event_id < 300
    """,
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: from_json('map<string,int>') -> map_keys/element_at."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(m, "k").alias("k_val"),
    )


@query(
    "q_fn_struct_nested",
    oracle="""
    SELECT c_custkey, c_name AS s_name, c_acctbal AS s_bal,
           round(c_acctbal * 2, 2) AS s_bal2
    FROM customer WHERE c_acctbal > 0
    """,
)
def q_fn_struct_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type surface: build struct(c_name, c_acctbal), operate on
    it, project flat fields back out (oracle stays on flat columns)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    withs = c.withColumn("s", F.struct(F.col("c_name"), F.col("c_acctbal")))
    return withs.select(
        "c_custkey",
        F.col("s.c_name").alias("s_name"),
        F.col("s.c_acctbal").alias("s_bal"),
        dec_round(F.col("s.c_acctbal") * 2, 2, 2).alias("s_bal2"),
    )


@query(
    "q_fn_levenshtein",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.source, b.source) AS dist
    FROM documents a JOIN documents b
      ON a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 3
    WHERE a.doc_id < 40
    """,
)
def q_fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance surface (the fuzzy-key primitive for entity
    resolution) over nearby doc pairs (id distance <= 3), with the
    range condition turned into an EQUI blocking join: the left side
    explodes into its own and the next id-block of 4, so every
    qualifying pair meets on exactly one block key and the planner gets
    a hash join, never a nested loop over the corpus — the standard
    blocking-key shape of entity resolution at scale. Spark and DuckDB
    agree on the classic Levenshtein definition."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    blk = F.floor(F.col("doc_id") / 4)
    a = (
        d.filter(F.col("doc_id") < 40)
        .select(
            F.col("doc_id").alias("id_a"),
            F.col("source").alias("src_a"),
            F.explode(F.array(blk, blk + 1)).alias("blk"),
        )
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("src_b"),
        blk.alias("blk"),
    )
    return (
        a.join(
            b,
            (a.blk == b.blk)
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("id_b") - F.col("id_a") <= 3),
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("src_a"), F.col("src_b")).alias("dist"),
        )
    )


@query(
    "q_fn_url",
    oracle="""
    WITH logs AS (
        SELECT doc_id,
               concat('https://', source, '.example.com/', lang, '/doc/',
                      CAST(doc_id AS VARCHAR), '?ref=r', CAST(doc_id % 7 AS VARCHAR),
                      '&utm=', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS url
        FROM documents WHERE doc_id < 300
    )
    SELECT regexp_extract(url, 'https?://([^/?#]+)', 1) AS host,
           count(*) AS n_requests,
           count(DISTINCT regexp_extract(url, 'https?://[^/?#]+([^?#]*)', 1))
               AS n_paths,
           count(DISTINCT regexp_extract(url, '[?&]ref=([^&#]*)', 1))
               AS n_ref_values,
           min(regexp_extract(url, '[?&]utm=([^&#]*)', 1)) AS min_utm
    FROM logs GROUP BY host
    """,
)
def q_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing — the web-log analytics surface of an ingest engine:
    per-host request counts, distinct paths, distinct ref-param values,
    and an order-stable sample utm tag.  URLs are synthesized
    deterministically from document fields (the fixture has no real
    URLs), then parsed with Spark's builtin ``parse_url`` (HOST / PATH
    / QUERY-with-key extraction) while the oracle re-parses the same
    strings with POSIX regexes — the check is that two independent
    parser implementations agree on the grammar.  Entirely map-side
    except the per-host aggregate; at 100 TB parse_url stays inside
    codegen and the host key is low-cardinality (pre-aggregated
    map-side before the one shuffle)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/doc/"), F.col("doc_id").cast("string"),
        F.lit("?ref=r"), (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm="),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
    )
    logs = d.select("doc_id", url.alias("url"))
    return logs.select(
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref"),
        F.parse_url("url", F.lit("QUERY"), F.lit("utm")).alias("utm"),
    ).groupBy("host").agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.countDistinct("path").alias("n_paths"),
        F.countDistinct("ref").alias("n_ref_values"),
        F.min("utm").alias("min_utm"),
    )


@query(
    "q_fn_geo_haversine",
    oracle="""
    WITH coords AS (
      SELECT n_nationkey, n_name,
             CAST((n_nationkey * 7) % 120 - 60 AS DOUBLE) + 0.5 AS lat,
             CAST((n_nationkey * 37) % 340 - 170 AS DOUBLE) + 0.25 AS lon
      FROM nation
    ), pairs AS (
      SELECT a.n_name AS name_a, b.n_name AS name_b,
             2 * 6371.0 * asin(sqrt(
               pow(sin(radians(b.lat - a.lat) / 2), 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * pow(sin(radians(b.lon - a.lon) / 2), 2))) AS km
      FROM coords a JOIN coords b ON a.n_nationkey < b.n_nationkey
    )
    SELECT name_a, name_b, round(km, 3) AS km
    FROM pairs ORDER BY round(km, 3), name_a, name_b LIMIT 10
    """,
)
def q_fn_geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-analytics function surface: haversine great-circle distance
    over synthetic nation coordinates (integer-derived, so the inputs
    are bit-identical in both engines), 10 closest nation pairs. This
    exercises the trig stack (radians/sin/cos/asin/sqrt/pow) whose
    cross-engine parity is the risky part of any geo workload — both
    engines' libm results agree far below the round(3) grid on
    km-scale values.

    Plan: 25-row dimension self-joined (300 pairs — broadcast,
    tiny-by-construction) + TakeOrdered; at 100 TB the same haversine
    expression runs map-side over a point table against broadcast
    reference geometry (the geo-join pattern), so the function surface
    is what matters here, not the join size."""
    n = t(spark, sf_dir, "nation")
    coords = n.select(
        "n_nationkey",
        "n_name",
        ((F.col("n_nationkey") * 7) % 120 - 60).cast("double").alias("lat0"),
        ((F.col("n_nationkey") * 37) % 340 - 170).cast("double").alias("lon0"),
    ).select(
        "n_nationkey",
        "n_name",
        (F.col("lat0") + 0.5).alias("lat"),
        (F.col("lon0") + 0.25).alias("lon"),
    )
    a = coords.alias("a")
    b = coords.alias("b")
    km = (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("b.lat") - F.col("a.lat")) / 2), 2)
                + F.cos(F.radians("a.lat"))
                * F.cos(F.radians("b.lat"))
                * F.pow(
                    F.sin(F.radians(F.col("b.lon") - F.col("a.lon")) / 2), 2
                )
            )
        )
    )
    pairs = a.join(
        b, F.col("a.n_nationkey") < F.col("b.n_nationkey")
    ).select(
        F.col("a.n_name").alias("name_a"),
        F.col("b.n_name").alias("name_b"),
        F.round(km, 3).alias("km"),
    )
    return pairs.orderBy("km", "name_a", "name_b").limit(10)


@query(
    "q_fn_dow_portable",
    oracle=f"""
    WITH keyed AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01'
                  AS BIGINT) AS epoch_day,
             {sql_cents('o_totalprice')}
                 AS cents
      FROM orders
    )
    SELECT ((epoch_day + 2) % 7) + 1 AS iso_dow,
           count(*) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM keyed GROUP BY 1 ORDER BY 1
    """,
)
def q_fn_dow_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week revenue profile with a PORTABLE ISO weekday number:
    engines disagree on day-of-week conventions (DuckDB dayofweek is
    0=Sunday, Spark dayofweek is 1=Sunday, ISO wants 1=Monday), so the
    weekday is derived arithmetically from the epoch-day offset of a
    known anchor — 1992-01-01 was a Wednesday (ISO 3), hence
    iso_dow = ((days_since_anchor + 2) % 7) + 1 — pure non-negative
    integer arithmetic, identical in every engine. Pins the house law:
    never ship an engine dow() across a federation boundary.

    Plan: map-side keying + a 7-row aggregate — one pass, map-side
    combined, at any scale."""
    keyed = t(spark, sf_dir, "orders").select(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("long")
        .alias("epoch_day"),
        F.expr(
            sql_cents("o_totalprice")
        ).alias("cents"),
    )
    return (
        keyed.groupBy(
            (((F.col("epoch_day") + 2) % 7) + 1).alias("iso_dow")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("iso_dow")
    )


@query(
    "q_fn_intdiv_laws",
    oracle=f"""
    WITH cents AS (
      SELECT c_custkey,
             {sql_cents('c_acctbal')}
                 AS bal_cents
      FROM customer
    ), extremes AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (ORDER BY bal_cents ASC,
                                     c_custkey ASC) AS rneg,
               row_number() OVER (ORDER BY bal_cents DESC,
                                  c_custkey ASC) AS rpos
        FROM cents
      ) WHERE rneg <= 5 OR rpos <= 5
    )
    SELECT c_custkey, bal_cents,
           bal_cents // 100 AS trunc_div_100,
           bal_cents % 100 AS mod_trunc,
           (bal_cents - (((bal_cents % 100) + 100) % 100)) // 100
               AS floor_div_100,
           ((bal_cents % 100) + 100) % 100 AS mod_floor
    FROM extremes ORDER BY bal_cents, c_custkey
    """,
)
def q_fn_intdiv_laws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer division/modulo law pinning on NEGATIVE values: for the
    5 most-negative and 5 most-positive customer balances, the
    truncating division both engines share (DIV / `//` truncate toward
    zero; `%` takes the dividend's sign) next to the PORTABLE floor
    division derived from it — floor_div = (x − mod_floor) / 100 with
    mod_floor = ((x % 100) + 100) % 100, always in [0, 100). This is
    the law every half-up permille in the repo silently relies on
    ("non-negative only"); this key makes the negative-value behavior
    itself a hash-checked contract so an engine swap that floors
    instead of truncating fails loudly.

    Plan: map-side cents + two rank windows over the scan + a 10-row
    projection — entirely grid-free, one pass."""
    cents = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(
            sql_cents("c_acctbal")
        ).alias("bal_cents"),
    )
    w_neg = Window.orderBy(
        F.col("bal_cents").asc(), F.col("c_custkey").asc()
    )
    w_pos = Window.orderBy(
        F.col("bal_cents").desc(), F.col("c_custkey").asc()
    )
    extremes = (
        cents.withColumn("rneg", F.row_number().over(w_neg))
        .withColumn("rpos", F.row_number().over(w_pos))
        .filter((F.col("rneg") <= 5) | (F.col("rpos") <= 5))
    )
    return extremes.select(
        "c_custkey",
        "bal_cents",
        F.expr("bal_cents DIV 100").alias("trunc_div_100"),
        F.expr("bal_cents % 100").alias("mod_trunc"),
        F.expr(
            "(bal_cents - (((bal_cents % 100) + 100) % 100)) DIV 100"
        ).alias("floor_div_100"),
        F.expr("((bal_cents % 100) + 100) % 100").alias("mod_floor"),
    ).orderBy("bal_cents", "c_custkey")


@query(
    "q_fn_binary_codec",
    oracle="""
    WITH enc AS (
      SELECT n_name,
             hex(encode(n_name)) AS hexed,
             to_base64(encode(n_name)) AS b64
      FROM nation
    )
    SELECT n_name, hexed, b64,
           decode(unhex(hexed)) AS hex_roundtrip,
           decode(from_base64(b64)) AS b64_roundtrip,
           length(hexed) AS hex_len,
           CAST(octet_length(encode(n_name)) AS BIGINT) AS n_bytes
    FROM enc ORDER BY n_name
    """,
)
def q_fn_binary_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec surface: hex and base64 ENCODE + DECODE roundtrips
    over nation names (string → bytes → text encoding → bytes →
    string), plus the length laws (hex doubles the byte count). Spark
    hex() upper-cases and DuckDB hex() upper-cases too, so the text
    forms hash directly; both roundtrips must return the original
    string exactly — the serialization surface every binary payload
    pipeline (q_llm_multimodal_cols' opaque columns, checksums, wire
    formats) silently leans on.

    Pure map-side projection over a 25-row dim; one pass anywhere."""
    enc = t(spark, sf_dir, "nation").select(
        "n_name",
        F.hex(F.encode("n_name", "UTF-8")).alias("hexed"),
        F.base64(F.encode("n_name", "UTF-8")).alias("b64"),
    )
    return enc.select(
        "n_name",
        "hexed",
        "b64",
        F.decode(F.unhex("hexed"), "UTF-8").alias("hex_roundtrip"),
        F.decode(F.unbase64("b64"), "UTF-8").alias("b64_roundtrip"),
        F.length("hexed").cast("long").alias("hex_len"),
        F.octet_length(F.encode("n_name", "UTF-8"))
        .cast("long")
        .alias("n_bytes"),
    ).orderBy("n_name")


# IPv4/CIDR contract constants: the 6-row block dim (name, aligned
# prefix int, mask length) and the md5-nibble IP synthesizer selector.
_CIDR_BLOCKS = (
    ("private-10", 167772160, 8),       # 10.0.0.0/8
    ("private-172-12", 2886729728, 12), # 172.16.0.0/12
    ("private-192-16", 3232235520, 16), # 192.168.0.0/16
    ("loopback-127", 2130706432, 8),    # 127.0.0.0/8
    ("public-8", 134217728, 8),         # 8.0.0.0/8
    ("testnet-203-24", 3405803776, 24), # 203.0.113.0/24
)
_O1_BY_SEL = (10, 172, 192, 127, 8, 203)
_MM_HEX = "0123456789abcdef"


@query(
    "q_fn_ipv4_cidr",
    oracle="""
    WITH h AS (
      SELECT event_id, user_id, md5(CAST(event_id AS VARCHAR)) AS hx
      FROM events
    ), oct AS (
      SELECT event_id, user_id,
             (instr('0123456789abcdef', substr(hx, 1, 1)) - 1) % 6 AS sel,
             16 * (instr('0123456789abcdef', substr(hx, 3, 1)) - 1)
               + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1) AS b2,
             16 * (instr('0123456789abcdef', substr(hx, 5, 1)) - 1)
               + (instr('0123456789abcdef', substr(hx, 6, 1)) - 1) AS o3,
             16 * (instr('0123456789abcdef', substr(hx, 7, 1)) - 1)
               + (instr('0123456789abcdef', substr(hx, 8, 1)) - 1) AS o4
      FROM h
    ), ip AS (
      SELECT event_id, user_id,
             CASE sel WHEN 0 THEN 10 WHEN 1 THEN 172 WHEN 2 THEN 192
                      WHEN 3 THEN 127 WHEN 4 THEN 8 ELSE 203 END AS o1,
             CASE WHEN sel = 1 THEN b2 % 64
                  WHEN sel = 2 AND b2 % 4 = 0 THEN 168
                  ELSE b2 END AS o2,
             o3, o4
      FROM oct
    ), addr AS (
      SELECT event_id, user_id, o1, o2, o3, o4,
             CAST(o1 AS BIGINT) * 16777216 + o2 * 65536 + o3 * 256 + o4
               AS ip_int
      FROM ip
    ), cidr AS (
      SELECT * FROM (VALUES
        ('private-10',      CAST(167772160 AS BIGINT), 16777216),
        ('private-172-12',  CAST(2886729728 AS BIGINT), 1048576),
        ('private-192-16',  CAST(3232235520 AS BIGINT), 65536),
        ('loopback-127',    CAST(2130706432 AS BIGINT), 16777216),
        ('public-8',        CAST(134217728 AS BIGINT), 16777216),
        ('testnet-203-24',  CAST(3405803776 AS BIGINT), 256)
      ) AS v(block, prefix_int, net_size)
    ), tagged AS (
      SELECT a.*, coalesce(c.block, 'unclassified') AS block
      FROM addr a LEFT JOIN cidr c
        ON a.ip_int // c.net_size = c.prefix_int // c.net_size
    )
    SELECT block,
           CAST(count(*) AS BIGINT) AS n_addrs,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(ip_int) AS BIGINT) AS min_ip_int,
           CAST(max(ip_int) AS BIGINT) AS max_ip_int,
           concat(CAST(min(ip_int) // 16777216 AS VARCHAR), '.',
                  CAST((min(ip_int) // 65536) % 256 AS VARCHAR), '.',
                  CAST((min(ip_int) // 256) % 256 AS VARCHAR), '.',
                  CAST(min(ip_int) % 256 AS VARCHAR)) AS min_ip_dotted
    FROM tagged GROUP BY block
    """,
)
def q_fn_ipv4_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 parse/format + CIDR-containment classification — the
    network-functions surface an ingest engine needs for web-log and
    firewall analytics (the fixture ships no IP column, so addresses
    are synthesized deterministically from md5 nibbles of ``event_id``,
    with a selector that exercises every interesting boundary: the /12
    block only matches when the second octet lands in 16..31, the /16
    only when it is exactly 168, the /24 essentially never — so the
    "containment at mask boundary" logic is what the hash certifies,
    not just happy-path /8s).

    The classifier is a containment JOIN, not a CASE ladder: a 6-row
    CIDR dim carries (aligned prefix, net_size = 2^(32-masklen)) and
    the join condition is integer-division alignment
    ``ip div net_size = prefix div net_size`` — the standard
    longest-prefix-free form for disjoint blocks.  Unmatched rows fall
    through the left join to ``unclassified``.  Min-IP is re-formatted
    to dotted-quad by pure integer arithmetic in both engines.

    Plan: map-side nibble math (codegen, no UDF), broadcast of the
    6-row dim, one low-cardinality (7-group) hash aggregate with
    map-side partials.  At 100 TB: the only shuffle is 7 groups wide;
    the dim broadcast is constant; nothing else moves."""
    hexd = F.md5(F.col("event_id").cast("string"))

    def nib(pos: int) -> "F.Column":
        return (
            F.instr(F.lit(_MM_HEX), F.substring(hexd, pos, 1)) - 1
        ).cast("long")

    sel = nib(1) % 6
    b2 = 16 * nib(3) + nib(4)
    o3 = 16 * nib(5) + nib(6)
    o4 = 16 * nib(7) + nib(8)
    # CASE sel WHEN i THEN _O1_BY_SEL[i].
    o1_expr = (
        F.when(sel == 0, 10).when(sel == 1, 172).when(sel == 2, 192)
        .when(sel == 3, 127).when(sel == 4, 8).otherwise(203)
        .cast("long")
    )
    o2_expr = (
        F.when(sel == 1, b2 % 64)
        .when((sel == 2) & (b2 % 4 == 0), F.lit(168).cast("long"))
        .otherwise(b2)
    )
    addr = (
        t(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            (
                o1_expr * 16777216 + o2_expr * 65536 + o3 * 256 + o4
            ).alias("ip_int"),
        )
    )
    cidr = spark.createDataFrame(
        [
            (name, prefix, 2 ** (32 - masklen))
            for name, prefix, masklen in _CIDR_BLOCKS
        ],
        "block string, prefix_int long, net_size long",
    )
    tagged = addr.join(
        F.broadcast(cidr),
        F.expr("ip_int div net_size = prefix_int div net_size"),
        "left",
    ).select(
        "user_id",
        "ip_int",
        F.coalesce("block", F.lit("unclassified")).alias("block"),
    )
    min_ip = F.min("ip_int")
    return tagged.groupBy("block").agg(
        F.count(F.lit(1)).alias("n_addrs"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ip_int").alias("min_ip_int"),
        F.max("ip_int").alias("max_ip_int"),
        F.concat(
            (min_ip / 16777216).cast("long").cast("string"), F.lit("."),
            ((min_ip / 65536).cast("long") % 256).cast("string"), F.lit("."),
            ((min_ip / 256).cast("long") % 256).cast("string"), F.lit("."),
            (min_ip % 256).cast("string"),
        ).alias("min_ip_dotted"),
    )


@query(
    "q_fn_eom_laws",
    oracle="""
    WITH months AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    , calc AS (
      SELECT mstart, n_orders,
             last_day(mstart) AS eom,
             CAST(mstart + INTERVAL 1 MONTH AS DATE) AS nm
      FROM months
    )
    SELECT CAST(EXTRACT(year FROM mstart) AS BIGINT) AS y,
           CAST(EXTRACT(month FROM mstart) AS BIGINT) AS m,
           n_orders,
           strftime(eom, '%Y-%m-%d') AS eom,
           CAST(EXTRACT(day FROM eom) AS BIGINT) AS days_in_month,
           strftime(last_day(nm), '%Y-%m-%d') AS next_eom,
           strftime(CAST(last_day(mstart) + INTERVAL 1 MONTH AS DATE),
                    '%Y-%m-%d') AS eom_plus_month,
           CAST(CAST(last_day(mstart) + INTERVAL 1 MONTH AS DATE)
                <> last_day(nm) AS INT) AS sticky_drift,
           CAST(EXTRACT(month FROM mstart) = 2
                AND EXTRACT(day FROM eom) = 29 AS INT)
             AS is_leap_feb,
           CAST(eom - mstart + 1 AS BIGINT) AS span_days
    FROM calc ORDER BY y, m
    """,
)
def q_fn_eom_laws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-month calendar laws pinned cross-engine (the
    q_fn_dow_portable / q_fn_intdiv_laws portability family) -- and a
    REAL migration trap certified while building it: Spark >= 3.0's
    add_months is overflow-clamp-ONLY (Feb 28 + 1 month = Mar 28),
    matching DuckDB's + INTERVAL 1 MONTH -- the EOM-STICKY behavior
    (Feb 28 + 1 -> Mar 31) existed only in legacy Spark 2.x, and a
    pipeline migrated from it silently changes results. The key pins
    the shared convention (eom_plus_month: Spark add_months vs DuckDB
    interval-add, hash-equal by construction), the overflow clamp
    itself (Jan 31 + 1 month = Feb 28/29 -- certified wherever the
    fixture has a 31-day month), and sticky_drift flags exactly the
    months where the legacy convention WOULD have differed (every
    month shorter than its successor) so the migration diff is a
    checked, enumerable law instead of a surprise.

    Exactness: pure calendar arithmetic on DATE -- both engines
    implement proleptic-Gregorian month math; datediff spans are exact
    int64. No floats anywhere.

    Plan: one month-keyed rollup of orders (map-side combined, bounded
    by the date span) + row-local date functions. At 100 TB: one tiny
    shuffle."""
    months = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", "o_orderdate")
            .cast("date")
            .alias("mstart")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    calc = months.select(
        "mstart",
        "n_orders",
        F.last_day("mstart").alias("eom"),
        F.add_months("mstart", 1).alias("nm"),
    )
    return calc.select(
        F.year("mstart").cast("long").alias("y"),
        F.month("mstart").cast("long").alias("m"),
        "n_orders",
        F.date_format("eom", "yyyy-MM-dd").alias("eom"),
        F.dayofmonth("eom").cast("long").alias("days_in_month"),
        F.date_format(F.last_day("nm"), "yyyy-MM-dd").alias("next_eom"),
        F.date_format(F.add_months(F.col("eom"), 1), "yyyy-MM-dd").alias(
            "eom_plus_month"
        ),
        (F.add_months(F.col("eom"), 1) != F.last_day("nm"))
        .cast("int")
        .alias("sticky_drift"),
        ((F.month("mstart") == 2) & (F.dayofmonth("eom") == 29))
        .cast("int")
        .alias("is_leap_feb"),
        (F.datediff(F.col("eom"), F.col("mstart")) + 1)
        .cast("long")
        .alias("span_days"),
    ).orderBy("y", "m")


@query(
    "q_fn_decimal_round_laws",
    oracle="""
    WITH grid AS (
      SELECT DISTINCT o_orderkey % 400 AS k FROM orders
    ), vals AS (
      SELECT k,
             CAST(CAST(k - 200 AS DECIMAL(15,0))
                  * CAST(0.125 AS DECIMAL(4,3)) AS DECIMAL(18,3))
               AS eighth,
             CAST(CAST(k - 200 AS DECIMAL(15,0))
                  * CAST(0.025 AS DECIMAL(4,3)) AS DECIMAL(18,3))
               AS fortieth
      FROM grid
    )
    SELECT k,
           CAST(eighth AS VARCHAR) AS eighth,
           CAST(CAST(round(eighth, 2) AS DECIMAL(18,2)) AS VARCHAR)
             AS eighth_r2,
           CAST(CAST(round(eighth, 0) AS DECIMAL(18,0)) AS VARCHAR)
             AS eighth_r0,
           CAST(fortieth AS VARCHAR) AS fortieth,
           CAST(CAST(round(fortieth, 2) AS DECIMAL(18,2)) AS VARCHAR)
             AS fortieth_r2,
           CAST(CAST(round(CAST(eighth * eighth AS DECIMAL(18,6)), 2)
                     AS DECIMAL(18,2)) AS VARCHAR) AS sq_r2
    FROM vals ORDER BY k
    """,
)
def q_fn_decimal_round_laws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL rounding laws pinned cross-engine on a data-derived tie
    grid -- the hash-checked registration of the sqlutil money law the
    whole repo leans on: k/8 and k/40 (k in -200..199) hit every
    half-digit tie class (x.125, x.5, x.025, negatives included), and
    both engines must round DECIMAL HALF-UP AWAY FROM ZERO (0.125 ->
    0.13, -0.125 -> -0.13, -2.5 -> -3). This is exactly the convention
    that DIVERGES on naked doubles (Spark rounds the shortest repr,
    DuckDB scales raw binary -- sqlutil.py's documented trap), so the
    key certifies both that decimals agree and that the repo's
    decimal-before-round discipline rests on tested ground. The
    squared column exercises precision-doubling products (6 dp) at the
    same tie points.

    Exactness: the grid is built by exact DECIMAL MULTIPLICATION
    ((k-200) x 0.125 / x 0.025 -- 3 dp closes both), never division,
    because decimal-division RESULT-SCALE rules are engine-specific
    while multiplication scales add identically everywhere; every
    output re-casts to a pinned scale before rendering so the hash
    certifies the scale, not just the value.

    Plan: one distinct over the 400-class key grid (map-side combined)
    + row-local decimal arithmetic. Constant output at every SF."""
    grid = (
        t(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % 400).alias("k"))
        .distinct()
    )
    vals = grid.select(
        "k",
        F.expr(
            "CAST(CAST(k - 200 AS DECIMAL(15,0))"
            " * CAST(0.125 AS DECIMAL(4,3)) AS DECIMAL(18,3))"
        ).alias("eighth"),
        F.expr(
            "CAST(CAST(k - 200 AS DECIMAL(15,0))"
            " * CAST(0.025 AS DECIMAL(4,3)) AS DECIMAL(18,3))"
        ).alias("fortieth"),
    )
    return vals.select(
        "k",
        F.col("eighth").cast("string").alias("eighth"),
        F.round("eighth", 2).cast("decimal(18,2)").cast("string").alias(
            "eighth_r2"
        ),
        F.round("eighth", 0).cast("decimal(18,0)").cast("string").alias(
            "eighth_r0"
        ),
        F.col("fortieth").cast("string").alias("fortieth"),
        F.round("fortieth", 2)
        .cast("decimal(18,2)")
        .cast("string")
        .alias("fortieth_r2"),
        F.round(
            (F.col("eighth") * F.col("eighth")).cast("decimal(18,6)"), 2
        )
        .cast("decimal(18,2)")
        .cast("string")
        .alias("sq_r2"),
    ).orderBy("k")


def _jw_score(s1: str, s2: str) -> float:
    """Jaro-Winkler similarity, replicating DuckDB's
    ``jaro_winkler_similarity`` exactly (verified pairwise-identical
    under round(4) on every fixture blocking pair at sf0.001/0.01/0.1):
    matching window max(l1,l2)//2 − 1, transpositions = half the
    misaligned matches, Winkler prefix boost (cap 4, weight 0.1)
    applied ONLY when jaro > 0.7, and the empty-string convention
    jw('', anything) = 0 — DuckDB scores even two empty strings 0."""
    if not s1 or not s2:
        return 0.0
    l1, l2 = len(s1), len(s2)
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    used2 = [False] * l2
    match1 = [False] * l1
    m = 0
    for i, c in enumerate(s1):
        lo = i - window if i > window else 0
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not used2[j] and s2[j] == c:
                match1[i] = used2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    trans = 0
    j = 0
    for i in range(l1):
        if match1[i]:
            while not used2[j]:
                j += 1
            if s1[i] != s2[j]:
                trans += 1
            j += 1
    trans //= 2
    jaro = (m / l1 + m / l2 + (m - trans) / m) / 3.0
    if jaro > 0.7:
        p = 0
        for a, b in zip(s1, s2):
            if a == b and p < 4:
                p += 1
            else:
                break
        jaro = jaro + p * 0.1 * (1.0 - jaro)
    return jaro


@query(
    "q_fn_jaro_winkler",
    oracle="""
    WITH pairs AS (
      SELECT p_partkey AS key_a, p_name AS name_a,
             lead(p_partkey, 1) OVER w AS key_b,
             lead(p_name, 1) OVER w AS name_b
      FROM part
      WINDOW w AS (PARTITION BY p_brand, p_type
                   ORDER BY p_name ASC, p_partkey ASC)
    )
    SELECT key_a, key_b,
           round(jaro_winkler_similarity(name_a, name_b), 4) AS jw
    FROM pairs WHERE key_b IS NOT NULL
    """,
)
def q_fn_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler similarity over blocked candidate part-name pairs —
    the ER string metric the function family lacked: levenshtein (the
    existing key) counts EDITS, Jaro-Winkler scores transposition-
    tolerant agreement with a prefix premium, the standard name-matcher
    (Winkler 1990, built into DuckDB). Candidates are the LINEAR
    adjacent pairs inside (brand, type) blocks ordered by name — the
    token-blocking discipline: never all-pairs, one neighbor per row.

    Spark has no built-in Jaro-Winkler, so the metric runs as an
    Arrow-batched pandas UDF (_jw_score — the slow-path rule: batch
    transfer, not per-row pickling) replicating DuckDB's exact
    semantics: window matching, half-transpositions, boost only above
    0.7, empty-string → 0. Verified round(4)-identical on EVERY
    fixture blocking pair at all three fixture scales before
    registration.

    Plan: one block-partitioned window (the only shuffle — keyed on
    the blocking key exactly like the production ER blocker), then a
    map-side Arrow batch through the UDF. At 100 TB the pair stream
    is |parts| rows, never |parts|²."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _jw_batch(a, b):
        return pd.Series(
            [_jw_score(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    # functions.py runs under `from __future__ import annotations`, which
    # stringifies inline hints pandas_udf can't resolve against a
    # function-local pandas import — set real annotation objects instead.
    _jw_batch.__annotations__ = {
        "a": pd.Series,
        "b": pd.Series,
        "return": pd.Series,
    }
    jw_udf = pandas_udf(_jw_batch, "double")

    w = Window.partitionBy("p_brand", "p_type").orderBy(
        F.asc("p_name"), F.asc("p_partkey")
    )
    pairs = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.lead("p_partkey", 1).over(w).alias("key_b"),
        F.lead("p_name", 1).over(w).alias("name_b"),
    )
    return pairs.filter(F.col("key_b").isNotNull()).select(
        "key_a",
        "key_b",
        F.round(jw_udf("name_a", "name_b"), 4).alias("jw"),
    )
