"""Sorts / limits / top-k / set operations (SURVEY.md §2.6).

Global sort order can't survive the driver's order-insensitive hash, so
every sort materializes its rank via row_number() — the rank column IS
the assertion of order. Tiebreakers make every ordering total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from khose_spark.registry import query
from khose_spark.tables import t


@query(
    "q_sort_multikey",
    oracle="""
    SELECT o_orderkey,
           row_number() OVER (ORDER BY o_orderdate ASC, o_totalprice DESC,
                              o_orderkey ASC) AS rnk
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key ASC/DESC sort with a DISTRIBUTED global rank
    (khose_spark.operators.rank.with_global_rank): range-partitioned
    sort + per-partition offsets instead of the single-partition
    WindowExec a bare row_number() OVER (ORDER BY ...) would plan —
    the shape that survives 100 TB."""
    from khose_spark.operators.rank import with_global_rank

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    ranked = with_global_rank(
        o.select("o_orderkey", "o_orderdate", "o_totalprice"),
        F.asc("o_orderdate"), F.desc("o_totalprice"), F.asc("o_orderkey"),
    )
    return ranked.select("o_orderkey", "rnk")


@query(
    "q_sort_multikey_dist",
    oracle="""
    SELECT o_orderkey,
           row_number() OVER (ORDER BY o_orderdate ASC, o_totalprice DESC,
                              o_orderkey ASC) AS rnk
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_sort_multikey_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sort_multikey with the DISTRIBUTED rank branch FORCED
    (local_threshold=0): range-repartition + per-partition offsets +
    mapInPandas numbering, no WindowExec anywhere in the plan. Same
    oracle as the adaptive form — the hash-match certifies the scale
    path itself, not just the small-data shortcut it normally hides
    behind (tests/test_plans.py pins the window-free plan)."""
    from khose_spark.operators.rank import with_global_rank

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    ranked = with_global_rank(
        o.select("o_orderkey", "o_orderdate", "o_totalprice"),
        F.asc("o_orderdate"), F.desc("o_totalprice"), F.asc("o_orderkey"),
        local_threshold=0,
    )
    return ranked.select("o_orderkey", "rnk")


@query(
    "q_sort_nulls",
    oracle="""
    SELECT o_orderkey, pr,
           row_number() OVER (ORDER BY pr ASC NULLS FIRST, o_orderkey ASC) AS rnk
    FROM (SELECT o_orderkey, nullif(o_orderpriority, '5-LOW') AS pr
          FROM orders WHERE o_orderkey < 500)
    """,
)
def q_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULLS FIRST ordering (nulls injected via nullif; fixtures carry no
    native nulls)."""
    from khose_spark.operators.rank import with_global_rank

    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select(
            "o_orderkey", F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")).alias("pr")
        )
    )
    return with_global_rank(o, F.asc_nulls_first("pr"), F.asc("o_orderkey"))


@query(
    "q_limit_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 10
    """,
)
def q_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 — Spark plans TakeOrderedAndProject: per-partition
    heaps + driver merge of 10-row heads, no global sort shuffle. That is
    exactly the 100 TB-safe shape for small-k top-k."""
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(10)
    )


@query(
    "q_set_union_all",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') = '1996-05'
    UNION ALL
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') = '1996-06'
    """,
)
def q_set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag union — no shuffle, just plan concatenation)."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM").alias("ym")
    )
    may = o.filter(F.col("ym") == "1996-05")
    june = o.filter(F.col("ym") == "1996-06")
    return may.unionAll(june)


@query(
    "q_set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of customer ∪ supplier nation keys."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "q_set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — nations with both customers and suppliers."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "q_set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — nations with customers but no suppliers."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)
