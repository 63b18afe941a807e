"""Config-driven ingest pipelines — the reference's user-facing shape.

A khose-style deployment is a CONFIG, not code: where records come from,
how to parse/filter/enrich them, where the immutable columnar files go.
This module gives that surface on Spark: a JSON/dict config compiles to
readStream → parse → transform → exactly-once partitioned columnar sink.

Config schema (all strings unless noted)::

    {
      "source": {
        "kind": "kinesis_sim" | "file" | "kafka" | "kafka_sim",
        "path": "<chunk dir>"            # kinesis_sim / file / kafka_sim
        "bootstrap": ..., "topic": ...   # kafka (production only)
      },
      "transform": {
        "filter": "<SQL boolean expr>",          # optional
        "columns": {"alias": "<SQL expr>", ...}  # optional projection
      },
      "sink": {
        "path": "<out dir>",
        "format": "parquet" | "orc",
        "partition_by": ["event_type", "d"],     # optional
        "checkpoint": "<checkpoint dir>"
      }
    }

Everything is declarative SQL expressions, so the whole pipeline stays
inside Catalyst/WholeStageCodegen — a config can never introduce a
Python row loop. Exactly-once delivery comes from the streaming file
sink's manifest + checkpoint WAL, same as ``runtime.ingest_to_parquet``;
``run_pipeline`` drains through the same ``runtime.drain`` and returns
its per-trigger progress records.
"""

from __future__ import annotations

import json
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress

from khose_spark.sources.kinesis_sim import file_stream, kinesis_stream, parse_envelope
from khose_spark.streaming.runtime import drain


def load_config(path_or_dict: str | Mapping[str, Any]) -> dict:
    if isinstance(path_or_dict, Mapping):
        return dict(path_or_dict)
    with open(path_or_dict) as f:
        return json.load(f)


def _source(spark: SparkSession, cfg: Mapping[str, Any]) -> DataFrame:
    kind = cfg["kind"]
    if kind == "file":
        return file_stream(spark, cfg["path"])
    if kind == "kinesis_sim":
        return parse_envelope(kinesis_stream(spark, cfg["path"]))
    if kind == "kafka":
        from khose_spark.sources.kinesis_sim import decode_kafka_value, kafka_stream

        return decode_kafka_value(kafka_stream(spark, cfg["bootstrap"], cfg["topic"]))
    if kind == "kafka_sim":
        # Broker-less twin of "kafka": the same envelope schema and the
        # same decode stage, replayed from staged chunk files — so the
        # kafka branch's downstream path is test-covered end to end.
        from khose_spark.sources.kinesis_sim import decode_kafka_value, kafka_sim_stream

        return decode_kafka_value(
            kafka_sim_stream(spark, cfg["path"], cfg.get("topic", "events"))
        )
    raise ValueError(f"unknown source kind: {kind!r}")


def _transform(df: DataFrame, cfg: Mapping[str, Any] | None) -> DataFrame:
    if not cfg:
        return df
    if flt := cfg.get("filter"):
        df = df.filter(F.expr(flt))
    if cols := cfg.get("columns"):
        df = df.select(*[F.expr(expr).alias(name) for name, expr in cols.items()])
    return df


def build_pipeline(spark: SparkSession, config: str | Mapping[str, Any]) -> DataFrame:
    """Compile a config into the (streaming) DataFrame just before the
    sink — exposed separately so tests/explain can inspect the plan."""
    cfg = load_config(config)
    return _transform(_source(spark, cfg["source"]), cfg.get("transform"))


def run_pipeline(
    spark: SparkSession, config: str | Mapping[str, Any]
) -> list[StreamingQueryProgress]:
    """Execute the configured pipeline to completion of the available
    backlog (``runtime.drain``'s ``availableNow`` trigger — a
    long-running deployment swaps in a processing-time trigger, nothing
    else changes); returns the drain's per-trigger progress records."""
    cfg = load_config(config)
    df = build_pipeline(spark, cfg)
    sink = cfg["sink"]
    writer = (
        df.writeStream.format(sink.get("format", "parquet"))
        .option("path", sink["path"])
        .option("checkpointLocation", sink["checkpoint"])
    )
    if pb := sink.get("partition_by"):
        writer = writer.partitionBy(*pb)
    return drain(writer)
