"""Fixture-table access (TESTDATA.md / FIXTURES.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf dir.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from khose_spark import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The typed rows the stream sources carry (sources/kinesis_sim.py) and
# the explicit read schema of the text-format ingest keys.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _fingerprint(path: str) -> str | None:
    """``os.stat`` of ``path`` plus the sorted (name, size, mtime_ns) of
    the entries in it when it is a directory; None when the local
    filesystem cannot see ``path`` (a remote URI, a missing file)."""
    try:
        st = os.stat(path)
        entries = []
        if stat.S_ISDIR(st.st_mode):
            with os.scandir(path) as it:  # DirEntry.stat() is cached
                entries = sorted(
                    (e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in it
                )
    except OSError:
        return None
    return repr((st.st_ino, st.st_size, st.st_mtime_ns, entries))


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Explicit parquet scan; predicate pushdown
    and column pruning apply downstream.

    Schema: inferring it from the footer costs a one-task Spark job per
    read (~80 ms against ~10 ms for the read itself, sf0.01 on 4 cores),
    and the board makes hundreds of reads. The schema is therefore
    inferred once per session and path and kept in the session store as
    ``schema:{path}``; every read then passes it with
    ``spark.read.schema``. The store key carries
    a fingerprint of the path — its ``os.stat`` plus the sorted (name,
    size, mtime_ns) of the files in it — so a rewrite at the same path
    misses and evicts the stale schema (LRU-of-one per name). A path the
    local filesystem cannot see is read with inference, uncached. Plans,
    scanned files and rows are those of the inferring read.

    Timestamp normalization (fixtures have shipped in two layouts),
    decided from the stored schema:
    - TIMESTAMP(NANOS): Spark reads a nanosecond long (with
      legacy.parquet.nanosAsLong) — convert via exact integer division,
      the same microsecond truncation DuckDB applies.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
      TIMESTAMP_NTZ — cast to TimestampType. The session is pinned to
      UTC (session.py), so the cast is value-identical; it matters
      because several sinks/functions treat NTZ differently (e.g. the
      CSV/JSON writers format NTZ with timestampNTZFormat, not
      timestampFormat)."""
    path = f"{sf_dir}/{name}.parquet"
    fingerprint = _fingerprint(path)
    if fingerprint is None:
        df = spark.read.parquet(path)
        schema = df.schema
    else:
        schema = memo.get(
            spark,
            f"schema:{path}",
            fingerprint,
            lambda: spark.read.parquet(path).schema,
        )
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for field in schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df
