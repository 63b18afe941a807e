"""Bucketed co-located join (SURVEY.md §4 scale posture).

At 100 TB the biggest repeated cost is re-shuffling fact tables for
every key join. Bucketing pays the shuffle ONCE at write time: both
tables hash-partitioned into the same bucket count on the join key are
co-located, and Spark's planner drops the Exchange on both sides of a
sort-merge join. This test proves the whole chain works in this engine:
bucketed write via saveAsTable, bucket metadata surviving in the
catalog, and a join plan with ZERO shuffle exchanges — plus result
parity with the plain-join answer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from khose_spark.tables import t


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("bucket_wh")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    (
        orders.write.format("parquet")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(warehouse / "orders_b"))
        .mode("overwrite")
        .saveAsTable("orders_b")
    )
    (
        lineitem.write.format("parquet")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(warehouse / "lineitem_b"))
        .mode("overwrite")
        .saveAsTable("lineitem_b")
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def _joined(spark):
    o = spark.table("orders_b")
    li = spark.table("lineitem_b")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").cast("long").alias("total_qty_x1"),
        )
    )


def test_bucketed_join_has_no_shuffle_before_join(spark, bucketed_tables):
    # Disable broadcast so the planner must pick sort-merge, where
    # bucketing shows up as the absence of Exchange under the join.
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _joined(spark)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in join_part, (
        "bucketed join still shuffles its inputs:\n" + plan
    )


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").cast("long").alias("total_qty_x1"),
        )
    )
    assert sorted(map(tuple, _joined(spark).collect())) == sorted(
        map(tuple, plain.collect())
    )

def test_pq_index_search_is_shuffle_free(spark, sf_dir):
    """The two-job ANN lifecycle (similarity.build_pq_index over
    encode_pq_sampled + q_llm_ann_pq_indexed): the search job must aggregate ADC scores on
    (qid, vec_id) with ZERO shuffle — the codes table is bucketed by
    vec_id at index-build time, and hash-distribution on vec_id already
    clusters (qid, vec_id). The only allowed shuffle Exchange is the
    final per-query ranking window on qid (10 rows per query)."""
    import re

    from khose_spark import registry

    registry.load_all()
    df = registry.QUERIES["q_llm_ann_pq_indexed"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hash_exchanges) == 1 and hash_exchanges[0].startswith("qid"), (
        "search-side plan re-shuffles the bucketed codes:\n" + plan
    )
    assert "SortMergeJoin" not in plan, (
        "LUT join fell out of broadcast:\n" + plan
    )


def test_ivfpq_probed_search_is_pruned_and_shuffle_free(spark, sf_dir):
    """The composed routed search (build_pq_index over
    similarity_fixedk.encode_ivfpq_fixedk + q_llm_ann_pq_probed_scaled):
    the codes table is PARTITIONED by cell id and BUCKETED by vec_id, so the
    search job must (a) prune unprobed cell directories via dynamic
    partition pruning — the FAISS inverted-list read pattern — and
    (b) aggregate ADC on (qid, vec_id) with zero shuffle, riding the
    bucket distribution. The only allowed hash exchanges are the tiny
    query-side window inputs (probe ranking over |queries|x64 rows,
    pool/final ranking over id pairs) — single-key qid or vec_id, never
    a (qid, vec_id) re-clustering of the ADC stream."""
    import re

    from khose_spark import registry

    registry.load_all()
    df = registry.QUERIES["q_llm_ann_pq_probed_scaled"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, (
        "probe set does not prune the cid-partitioned codes scan:\n" + plan
    )
    assert "SortMergeJoin" not in plan, (
        "LUT/probe join fell out of broadcast:\n" + plan
    )
    hash_exchanges = re.findall(
        r"Exchange hashpartitioning\(([^)]*)\)", plan
    )
    two_key = [
        h for h in hash_exchanges if "qid" in h and "vec_id" in h
    ]
    assert not two_key, (
        "ADC aggregation re-shuffled on (qid, vec_id) — the bucket "
        "distribution was lost:\n" + plan
    )
