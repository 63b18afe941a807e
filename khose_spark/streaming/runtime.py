"""Streaming runtime pieces (SURVEY.md §2.9, §3.2 EP3).

Every streaming query here runs through :func:`drain`:
``trigger(availableNow=True)`` — drain the backlog and stop — which
exercises the same incremental planner, state store, and commit
protocol as a long-running stream, and returns the query's per-trigger
``StreamingQueryProgress`` records (rows, phase durations, state).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.listener import StreamingQueryProgress
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


_GRANULARITY_FMT = {"day": "yyyy-MM-dd", "month": "yyyy-MM"}

# Rows per written file, landing and compaction alike: coalesced
# writers still split oversized outputs.
_MAX_RECORDS_PER_FILE = 5_000_000


def drain(writer: DataStreamWriter) -> list[StreamingQueryProgress]:
    """Start ``writer``'s query with ``trigger(availableNow=True)``, wait
    until it has processed the available backlog, and return its
    progress records, one per trigger (``q.recentProgress``: the last
    ``spark.sql.streaming.numRecentProgressUpdates``, default 100)."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q.recentProgress


def ingest_to_parquet(
    events_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_granularity: str = "day",
    coalesce_to: int | None = None,
) -> list[StreamingQueryProgress]:
    """khose's defining pipeline: stream -> immutable, hive-partitioned
    parquet, EXACTLY ONCE (BASELINE.json: "streaming ingest ... to
    immutable storage").

    Uses Spark's native streaming file sink: the per-batch file manifest
    in ``_spark_metadata`` + the checkpoint WAL give exactly-once file
    output — a restarted/replayed query never double-writes a batch.
    Partitioning by (event_type, time bucket) is the 100 TB layout:
    partition pruning turns one-bucket queries into one-directory scans.

    Small-files control (the classic streaming-sink failure mode — a
    sink writing one file per task per partition-dir per micro-batch
    produces millions of tiny files at 100 TB):

    - ``partition_granularity``: "day" for production volume (a day-dir
      holds GBs at 100 TB); "month" when the same pipeline runs at low
      volume — granularity must track data rate, not be hardcoded.
    - ``coalesce_to``: narrow-merge each micro-batch to N writer tasks
      (N small => one file per partition-dir per batch). Leave None for
      high-volume streams where per-task parallel writes are wanted.
    - every file is capped at ``_MAX_RECORDS_PER_FILE`` rows, so
      coalesced writers still split oversized outputs.
    - For files that are ALREADY landed too small, see
      :func:`compact_parquet` — the maintenance pass that rewrites
      closed partitions to target-sized files off the hot path.

    Returns the drain's per-trigger progress records."""
    bucket = F.date_format("ts", _GRANULARITY_FMT[partition_granularity])
    src = events_stream.withColumn("d", bucket)
    if coalesce_to is not None:
        src = src.coalesce(coalesce_to)
    return drain(
        src.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .option("maxRecordsPerFile", _MAX_RECORDS_PER_FILE)
        .partitionBy("event_type", "d")
    )


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    partition_cols: tuple[str, ...] = ("event_type", "d"),
) -> None:
    """Small-files compaction: rewrite a landed (hive-partitioned)
    parquet dataset with one writer task per partition directory, each
    file capped at ``_MAX_RECORDS_PER_FILE`` rows. This is the standard
    maintenance companion of any streaming file sink — the stream lands
    micro-batch-sized files with exactly-once guarantees; compaction
    later rewrites CLOSED partitions (yesterday's day-dirs) into
    scan-efficient file sizes, off the ingest hot path. Writes to a
    separate ``dst_dir``: the source's ``_spark_metadata`` manifest
    stays authoritative for the landing zone, and readers atomically
    switch to the compacted location per-partition."""
    (
        spark.read.parquet(src_dir)
        .repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _MAX_RECORDS_PER_FILE)
        .partitionBy(*partition_cols)
        .parquet(dst_dir)
    )


def run_stream_to_memory(
    df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> list[StreamingQueryProgress]:
    """Drain a (finite) streaming DataFrame into an in-memory table for
    test assertions; returns the drain's progress records."""
    return drain(
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
    )


_SPEND_STATE_SCHEMA = T.StructType([T.StructField("total", T.DoubleType())])
_SPEND_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("cum_spend", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _spend_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: cumulative per-user purchase spend.
    State = running total, carried across micro-batches in the state
    store; emits the updated total once per (user, batch). ``n_events``
    counts the rows this batch delivered for the group — a function of
    batch CONTENT only (Arrow chunk splitting varies run-to-run and must
    never leak into the emitted schema)."""
    total = state.get[0] if state.exists else 0.0
    n_events = 0
    for pdf in pdfs:
        purchases = pdf.loc[pdf["event_type"] == "purchase", "value"]
        total += float(purchases.sum())
        n_events += len(pdf)
    state.update((total,))
    yield pd.DataFrame(
        {"user_id": [key[0]], "cum_spend": [round(total, 2)], "n_events": [n_events]}
    )


def stateful_running_spend(events_stream: DataFrame) -> DataFrame:
    """applyInPandasWithState pipeline: per-user cumulative spend with
    explicit state (SURVEY.md §2.9 stream-stateful). The arbitrary-state
    API is the escape hatch for semantics windows can't express —
    sessionized spend caps, fraud counters, per-entity model state."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _spend_fn,
        outputStructType=_SPEND_OUT_SCHEMA,
        stateStructType=_SPEND_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

