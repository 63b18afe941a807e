"""Kinesis-envelope stream source (simulator) — SURVEY.md §4.2.2.

khose's primary sources are Kafka and Kinesis (BASELINE.json). In OSS
Spark, Kafka is built in (``spark.readStream.format("kafka")`` — see
``kafka_stream`` below); Kinesis is NOT — production deployments use a
connector from the Spark-Kinesis family (e.g. the spark-sql-kinesis
connector or Kinesis->Kafka bridging), all of which present a record
envelope equivalent to the one simulated here.

The simulator stages fixture events or documents as ordered chunk
files and replays them through Spark's FILE STREAM source wrapped in
the Kinesis record envelope (shardId, sequenceNumber, data,
approximateArrivalTimestamp). One codec serves both record kinds and
the Kafka twin: a record kind names its schema and its sequence, shard
and arrival-time columns, and every envelope encodes and decodes its
JSON payload the same way. Everything downstream of the source — parse,
transform, window, sink — is identical code for real Kinesis, real
Kafka, and the simulator; that's the point: the envelope is the
interface.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from khose_spark.memo import scratch
from khose_spark.tables import DOCS_SCHEMA, EVENTS_SCHEMA, t

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("shardId", T.StringType()),
        T.StructField("sequenceNumber", T.StringType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("approximateArrivalTimestamp", T.TimestampType()),
    ]
)

_N_SHARDS = 4

# Explicit microsecond format on BOTH encode and decode — the default
# JSON timestampFormat truncates to millis, which would silently lose
# event-time precision through the envelope.
_JSON_OPTIONS = {"timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"}

# Record kind -> (schema, sequence column, shard column, arrival-time
# column). Columns need a SparkContext, so each entry builds them per
# call. Documents carry no event time of their own: their arrival is a
# deterministic function of doc_id, so replay is reproducible.
_RECORDS = {
    "events": lambda: (
        EVENTS_SCHEMA, F.col("event_id"), F.col("user_id"), F.col("ts")
    ),
    "documents": lambda: (
        DOCS_SCHEMA,
        F.col("doc_id"),
        F.col("doc_id"),
        F.timestamp_seconds(F.col("doc_id")),
    ),
}


def _encode(schema: T.StructType) -> Column:
    """A row's fields as UTF-8 JSON bytes — the envelope payload."""
    payload = F.to_json(F.struct(*schema.fieldNames()), _JSON_OPTIONS)
    return F.encode(payload, "utf-8")


def _decode(envelope: DataFrame, payload: str, record: str) -> DataFrame:
    """Typed ``record`` rows back from the JSON bytes in column
    ``payload``, through one struct column named by the kind's initial
    ("e", "d"). JSON escaping makes text roundtrip byte-exact (no
    newlines/quotes lost)."""
    schema, struct = _RECORDS[record]()[0], record[0]
    parsed = F.from_json(F.decode(payload, "utf-8"), schema, _JSON_OPTIONS)
    return envelope.select(parsed.alias(struct)).select(f"{struct}.*")


def _stage_chunks(
    spark: SparkSession, sf_dir: str, record: str, n_chunks: int, tag: str
) -> str:
    """Write fixture table ``record`` as ``n_chunks`` sequence-ranged
    parquet files with mtimes following the part index."""
    out = scratch(sf_dir, f"chunks_{record}_{tag}")
    sequence = _RECORDS[record]()[1]
    (
        t(spark, sf_dir, record)
        .repartitionByRange(n_chunks, sequence)
        .write.mode("overwrite")
        .parquet(out)
    )
    # Spark's file-stream source replays in MODIFICATION-TIME order, and
    # fresh part files carry task-completion order — random. Rewrite
    # mtimes to follow the part index (= key = arrival order) so replay
    # is deterministic and arrival-ordered, like a real stream. Without
    # this, a late-listed early chunk can arrive behind an advanced
    # watermark and be dropped, making convergence tests flaky.
    parts = sorted(
        f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".parquet")
    )
    base_mtime = int(os.path.getmtime(out))
    for i, fname in enumerate(parts):
        p = os.path.join(out, fname)
        os.utime(p, (base_mtime + i, base_mtime + i))
    return out


def stage_event_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 8, tag: str = ""
) -> str:
    """Write fixture events as ``n_chunks`` ordered parquet files — the
    replayable 'stream history'. Chunked by event_id range so replay
    order is deterministic."""
    return _stage_chunks(spark, sf_dir, "events", n_chunks, tag)


def stage_document_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4, tag: str = "docs"
) -> str:
    """Documents as a replayable stream history — the corpus-refresh
    ingest shape (q_stream_curation_e2e_batchsem): each chunk is one
    doc_id range, arriving in id order like a crawler's upload batches."""
    return _stage_chunks(spark, sf_dir, "documents", n_chunks, tag)


def file_stream(
    spark: SparkSession,
    chunk_dir: str,
    files_per_trigger: int = 1,
    record: str = "events",
) -> DataFrame:
    """Raw ``record`` file-stream: one micro-batch per chunk file."""
    return (
        spark.readStream.schema(_RECORDS[record]()[0])
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(chunk_dir)
    )


def kinesis_stream(
    spark: SparkSession,
    chunk_dir: str,
    files_per_trigger: int = 1,
    record: str = "events",
) -> DataFrame:
    """Streaming DataFrame in the Kinesis record envelope
    (ENVELOPE_SCHEMA): each ``record`` ("events" or "documents")
    becomes (shardId, sequenceNumber, data=JSON bytes, arrival ts). A
    corpus-refresh producer uploads documents exactly like an event
    producer uploads events: shard by key, JSON payload, sequence = id.

    ``files_per_trigger`` is the throughput/latency knob: 1 replays one
    chunk per micro-batch (max batches — what the convergence tests
    want, since they assert per-batch semantics), larger values
    amortize the fixed per-batch cost (incremental planning + WAL +
    manifest commit) over more rows — the setting a throughput-bound
    production ingest runs with."""
    schema, sequence, shard, arrival = _RECORDS[record]()
    raw = file_stream(spark, chunk_dir, files_per_trigger, record)
    return raw.select(
        F.concat(F.lit("shardId-"), F.lpad((shard % _N_SHARDS).cast("string"), 12, "0")).alias("shardId"),
        sequence.cast("string").alias("sequenceNumber"),
        _encode(schema).alias("data"),
        arrival.alias("approximateArrivalTimestamp"),
    )


def parse_envelope(envelope: DataFrame, record: str = "events") -> DataFrame:
    """Decode a Kinesis-envelope stream back into typed ``record`` rows —
    the first stage of every khose pipeline (deserialize JSON)."""
    return _decode(envelope, "data", record)


def kafka_stream(spark: SparkSession, bootstrap: str, topic: str) -> DataFrame:
    """Production Kafka source (no broker in this container — the
    envelope-identical ``kafka_sim_stream`` covers the downstream path
    in tests, and tests/test_optional_env.py jar-gates a real smoke):
    value bytes carry the same JSON payload the simulator produces, so
    both decode through the shared ``decode_kafka_value``."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )


# The Kafka source's fixed output schema (Spark's kafka-0-10-sql
# contract): every consumer written against the simulator sees exactly
# the columns a real broker-backed stream would present.
KAFKA_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def kafka_sim_stream(
    spark: SparkSession,
    chunk_dir: str,
    topic: str = "events",
    files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming DataFrame in the exact Kafka source envelope
    (KAFKA_SOURCE_SCHEMA), replayed from staged chunk files — the
    broker-less twin of ``kafka_stream``. Mapping mirrors a
    user_id-keyed producer: key = user_id bytes (so a real topic would
    co-partition each user's events), partition = hash-bucket of the
    key, offset = event_id (monotone within the fixture), timestamp =
    event time with timestampType=0 (CreateTime). Everything downstream
    of the source — decode_kafka_value on — is byte-identical code for
    the real source."""
    schema, sequence, shard, arrival = _RECORDS["events"]()
    raw = file_stream(spark, chunk_dir, files_per_trigger)
    return raw.select(
        F.encode(shard.cast("string"), "utf-8").alias("key"),
        _encode(schema).alias("value"),
        F.lit(topic).alias("topic"),
        (shard % _N_SHARDS).cast("int").alias("partition"),
        sequence.cast("long").alias("offset"),
        arrival.alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def decode_kafka_value(raw: DataFrame) -> DataFrame:
    """Decode a Kafka-envelope stream's JSON value bytes into typed
    event rows — shared by the production source and the simulator, so
    the tested path IS the production path minus the socket."""
    return _decode(raw, "value", "events")
