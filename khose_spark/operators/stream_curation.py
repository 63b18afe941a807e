"""The stream-to-curated-corpus composition (VERDICT r12 item 3) —
khose's ACTUAL production job run end to end as ONE registered,
hash-checked key: Kinesis-envelope ingest → exactly-once partitioned
parquet landing → small-files compaction → the certified 6-stage
curation funnel over the landed table (BASELINE.json north star:
"streaming ingest from Kafka/Kinesis to immutable storage", composed
with the LLM curation surface).

``q_stream_curation_e2e_batchsem`` REALLY RUNS the stream (the same
``runtime.drain`` the bench ingest gate times — not a batch twin of
it): documents are staged as a replayable 4-chunk stream history,
wrapped in the same Kinesis record envelope as events
(``kinesis_stream(..., record="documents")``: JSON payload, shardId,
sequenceNumber), drained through Spark's streaming parquet sink (checkpoint WAL + ``_spark_metadata`` manifest = exactly-once
files) into a lang-partitioned landing zone, compacted to one file per
closed partition, and only then curated. The audit relation prepends a
stage-0 ``stream_ingest`` row to the funnel's six stages:

- stage-0 ``n_in``      = rows in the LANDING zone (manifest read),
- stage-0 ``n_out``     = distinct doc_ids in the COMPACTED zone,
- stage-0 ``n_dropped`` = their difference — nonzero iff a micro-batch
  double-committed or compaction lost rows, so exactly-once is asserted
  BY THE HASH, not by a test-only convergence check;
- stage-0 ``tokens_out`` = total word mass landed (the pre-filter
  corpus mass the funnel starts from);
- stage-0 ``windows_out`` = the compacted PARQUET FILE COUNT (via
  ``_metadata.file_path``), which the small-files contract pins to
  exactly one file per lang partition — the oracle's
  ``count(DISTINCT lang)``. (Bound: one file per lang holds while a
  lang stays under compact_parquet's 5M-rows/file cap — documents are
  ~200k/lang even at the 100× board, ~25× of headroom.)

The oracle reproduces all of it from the fixture ``documents`` view
alone — legal precisely BECAUSE the drain is exactly-once and the
envelope roundtrip is byte-exact; any duplicated/dropped/corrupted row
anywhere in the ingest chain diverges some stage's counts or token
sums and fails the hash.

Determinism: chunking order never matters (every downstream stage is
content-keyed and order-independent); all counts/masses are exact
int64; the envelope's JSON escaping makes text roundtrip byte-exact.

At 100 TB: the landing drain is the measured ingest path (bench.py's
``ingest_rows_per_sec`` gate, 36.8k rows/s single-node at sf0.1 with
month-granularity partitioning — production flips to day + parallel
writers, same code); compaction rewrites closed partitions off the hot
path; the funnel's shuffles are the md5 dedup exchange, the
paragraph-chunk exchange, and low-cardinality window exchanges exactly
as documented in curation_pipeline.py. Nothing collects to the driver.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from khose_spark.operators.curation_pipeline import (
    _FUNNEL_BRANCHES,
    _FUNNEL_CTES,
    funnel_audit_rows,
    funnel_one_row,
)
from khose_spark.memo import scratch
from khose_spark.registry import query
from khose_spark.sources.kinesis_sim import (
    kinesis_stream,
    parse_envelope,
    stage_document_chunks,
)
from khose_spark.streaming.runtime import compact_parquet, drain

_E2E_ORACLE = f"""
    WITH {_FUNNEL_CTES},
    ing AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS word_mass,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM documents
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS stage_no, 'stream_ingest' AS stage,
             '*' AS lang, n_rows AS n_in, n_docs AS n_out,
             n_rows - n_docs AS n_dropped, word_mass AS tokens_out,
             n_langs AS windows_out
      FROM ing
      UNION ALL {_FUNNEL_BRANCHES}
    ) ORDER BY stage_no, lang
    """


def run_corpus_refresh(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage → envelope → exactly-once drain → compaction; returns
    (landing_dir, compacted_dir). Shared by the registered key and the
    layout/convergence tests. The zones are session scratch
    (``memo.scratch``), wiped at the start of every run so a stale
    checkpoint can never disagree with a wiped sink (the streaming-sink
    idempotence trap)."""
    chunks = stage_document_chunks(spark, sf_dir, n_chunks=4, tag="e2e")
    land, ckpt, compacted = (
        scratch(sf_dir, f"refresh_{zone}")
        for zone in ("landing", "checkpoint", "compacted")
    )
    for d in (land, ckpt, compacted):
        shutil.rmtree(d, ignore_errors=True)
    stream = parse_envelope(
        # 2 chunk files per micro-batch: two real multi-file commits
        # through the WAL/manifest protocol, amortizing per-batch fixed
        # cost exactly like the bench ingest loop.
        kinesis_stream(spark, chunks, files_per_trigger=2, record="documents"),
        record="documents",
    )
    # r14 (VERDICT item 4, guide §2.6): no coalesce(1) — it narrowed
    # the WHOLE micro-batch (file read + JSON envelope decode + write)
    # onto one task. The file-stream source yields one split per chunk
    # file, so each batch now decodes and lands on 2 parallel writers.
    # Landing file count is NOT part of the contract (stage-0
    # windows_out counts COMPACTED files, still one per lang);
    # compaction remains the small-files lever.
    drain(
        stream.writeStream.format("parquet")
        .option("path", land)
        .option("checkpointLocation", ckpt)
        .partitionBy("lang")
    )
    compact_parquet(spark, land, compacted, partition_cols=("lang",))
    return land, compacted


@query("q_stream_curation_e2e_batchsem", oracle=_E2E_ORACLE)
def q_stream_curation_e2e_batchsem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """See module docstring — the composed corpus-refresh pipeline:
    Kinesis-envelope ingest → exactly-once lang-partitioned landing →
    compaction → 6-stage curation funnel, audited as stage rows with a
    stage-0 ingest/layout row whose hash asserts exactly-once."""
    land, compacted = run_corpus_refresh(spark, sf_dir)
    landed = spark.read.parquet(land)  # manifest read: committed files
    docs = spark.read.parquet(compacted)
    ing = landed.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    comp = docs.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")))
        .cast("long")
        .alias("word_mass"),
        F.countDistinct(F.col("_metadata.file_path"))
        .cast("long")
        .alias("n_files"),
    )
    stage0 = ing.crossJoin(comp).select(
        F.lit(0).cast("long").alias("stage_no"),
        F.lit("stream_ingest").alias("stage"),
        F.lit("*").alias("lang"),
        F.col("n_rows").alias("n_in"),
        F.col("n_docs").alias("n_out"),
        (F.col("n_rows") - F.col("n_docs")).alias("n_dropped"),
        F.col("word_mass").alias("tokens_out"),
        F.col("n_files").alias("windows_out"),
    )
    funnel = funnel_audit_rows(
        funnel_one_row(
            docs.select("doc_id", "source", "lang", "text")
        )
    )
    return stage0.unionByName(funnel).orderBy("stage_no", "lang")
