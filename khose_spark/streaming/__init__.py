"""Structured-Streaming runtime: khose's core job re-expressed
(stream -> parse -> transform -> immutable partitioned columnar files,
exactly once), plus watermarked windows and custom stateful operators.
"""

from khose_spark.streaming.runtime import (  # noqa: F401
    compact_parquet,
    drain,
    ingest_to_parquet,
    run_stream_to_memory,
    stateful_running_spend,
)
