"""Distributed global ranking — the scalable replacement for
``row_number() OVER (ORDER BY ...)`` with no PARTITION BY, which Spark
executes by moving EVERYTHING to one partition (the WindowExec "No
Partition Defined" warning; fatal at 100 TB).

``with_global_rank`` produces the identical rank in three scalable
steps:

1. range-repartition + sort within partitions on the order key — the
   same machinery as a distributed ORDER BY: partition p holds rows
   ranked strictly before partition p+1;
2. count rows per partition (a metadata-sized aggregate collected to
   the driver) → cumulative offsets, broadcast back;
3. per-partition local row numbers (mapInPandas, order-preserving
   within a sorted partition) + the partition's offset.

Requires a TOTAL order (include a unique tiebreak column, as every
hash-checked ranking query here already must for determinism).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint


LOCAL_THRESHOLD = 1_000_000


def with_global_rank(
    df: DataFrame,
    *order: Column,
    rank_col: str = "rnk",
    num_partitions: int | None = None,
    local_threshold: int = LOCAL_THRESHOLD,
    size_hint: int | None = None,
) -> DataFrame:
    # Adaptive strategy selection (same philosophy as Spark's broadcast
    # threshold): below ~1M rows the single-partition window is cheaper
    # than spinning up Python workers for the distributed path — and at
    # that size it is also harmless, since one partition holds it
    # easily. A caller-supplied ``size_hint`` (e.g. a row count the
    # caller already computed, or a known fixture size) skips the extra
    # count job entirely; otherwise one metadata-cheap columnar count
    # picks the branch.
    n_rows = size_hint if size_hint is not None else df.count()
    if local_threshold and n_rows <= local_threshold:
        from pyspark.sql import Window

        w = Window.orderBy(*order)
        return df.withColumn(rank_col, F.row_number().over(w).cast("long"))
    parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    # checkpoint() pins the range boundaries: repartitionByRange
    # SAMPLES the data per execution, so the counts job and the
    # numbering job would otherwise see (slightly) different
    # partitionings and the offsets would be wrong (same reason
    # RDD.zipWithIndex documents caching). A checkpoint rather than
    # persist() because it needs exactly ONE materialization, leaves no
    # session-pinned SQL-cache entry (the blocks are reclaimed when the
    # result is garbage collected), and freezes the partitioning as hard
    # RDD partitions instead of a re-executable plan.
    sorted_df = _range_sorted(df, int(parts), *order).transform(checkpoint)
    pid_df = sorted_df.withColumn("__pid", F.spark_partition_id())
    counts = {
        r["__pid"]: r["cnt"]
        for r in pid_df.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_offsets = df.sparkSession.sparkContext.broadcast(offsets)

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in pid_df.schema.fields
    ) + f", `{rank_col}` long"

    def number_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        for pdf in batches:
            if pdf.empty:
                continue
            base = b_offsets.value.get(int(pdf["__pid"].iloc[0]), 0)
            pdf = pdf.copy()
            pdf[rank_col] = range(base + seen + 1, base + seen + 1 + len(pdf))
            seen += len(pdf)
            yield pdf

    return pid_df.mapInPandas(number_partition, out_schema).drop("__pid")


def _range_sorted(df: DataFrame, parts: int, *order: Column) -> DataFrame:
    """The pre-checkpoint distributed-sort shape: range repartition on
    the order key + in-partition sort. Split out so tests/test_plans.py
    can pin the rangepartitioning in its plan (the checkpoint in
    with_global_rank truncates the lineage the plan test would read)."""
    return df.repartitionByRange(parts, *order).sortWithinPartitions(*order)
