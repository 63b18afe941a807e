"""Scans / sources / sinks (SURVEY.md §2.1) — khose's own surface:
ingest formats in, immutable columnar files out (BASELINE.json north
star: "streaming ingest ... to immutable storage (Parquet/ORC)").

Sink queries write to the session's scratch directory (``memo.scratch``),
read the files back and aggregate — the oracle runs the same aggregate on the original table, so
a lossy roundtrip (schema, values, partition pruning) fails the hash.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from khose_spark import memo
from khose_spark.memo import checkpoint, scratch
from khose_spark.registry import query
from khose_spark.sqlutil import cents, dec_sum, sql_cents, sql_dec_sum
from khose_spark.tables import EVENTS_SCHEMA, t


_EVENTS_AGG_ORACLE = f"""
    SELECT event_type,
           count(*) AS n,
           {sql_dec_sum('value', 2)} AS sum_value,
           strftime(max(CAST(ts AS DATE)), '%Y-%m-%d') AS max_day
    FROM events
    GROUP BY event_type
"""


def _events_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(F.col("value"), 2).alias("sum_value"),
        F.date_format(F.max(F.to_date("ts")), "yyyy-MM-dd").alias("max_day"),
    )


@query("q_scan_parquet", oracle="SELECT * FROM lineitem")
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan of lineitem, all columns (vectorized reader)."""
    return t(spark, sf_dir, "lineitem")


@query(
    "q_scan_count",
    oracle="""
    SELECT 'region' AS table_name, count(*) AS n_rows FROM region
    UNION ALL SELECT 'nation', count(*) FROM nation
    UNION ALL SELECT 'customer', count(*) FROM customer
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    UNION ALL SELECT 'part', count(*) FROM part
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'events', count(*) FROM events
    UNION ALL SELECT 'documents', count(*) FROM documents
    UNION ALL SELECT 'embeddings', count(*) FROM embeddings
    """,
)
def q_scan_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row count of every table — count(*) over parquet needs only
    footer metadata after Catalyst prunes all columns."""
    from functools import reduce

    from khose_spark.tables import TABLES

    frames = [
        t(spark, sf_dir, name)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(name).alias("table_name"), "n_rows")
        for name in TABLES
    ]
    return reduce(lambda a, b: a.unionAll(b), frames)


@query("q_sink_parquet_roundtrip", oracle=_EVENTS_AGG_ORACLE)
def q_sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> immutable parquet files -> read back -> aggregate.
    This is khose's defining behavior (stream batches to parquet); the
    oracle aggregates the ORIGINAL table, so the roundtrip must be
    lossless. repartition(4) emulates multi-writer batch output. The
    read back takes the written schema (no inference on ingest)."""
    path = scratch(sf_dir, "parquet_roundtrip")
    e = t(spark, sf_dir, "events")
    e.repartition(4).write.mode("overwrite").parquet(path)
    return _events_agg(spark.read.schema(e.schema).parquet(path))


@query("q_sink_orc_roundtrip", oracle=_EVENTS_AGG_ORACLE)
def q_sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract via ORC (BASELINE.json names ORC explicitly)."""
    path = scratch(sf_dir, "orc_roundtrip")
    e = t(spark, sf_dir, "events")
    e.repartition(4).write.mode("overwrite").orc(path)
    return _events_agg(spark.read.schema(e.schema).orc(path))


@query(
    "q_sink_partitioned",
    oracle=f"""
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
           count(*) AS n, {sql_dec_sum('value', 2)} AS sum_value
    FROM events
    WHERE event_type = 'purchase' AND strftime(ts, '%Y-%m-%d') <= '2024-01-07'
    GROUP BY event_type, strftime(ts, '%Y-%m-%d')
    """,
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write (event_type / day) + partition-pruned read
    back: the filter on both partition columns prunes directories — at
    100 TB this is the difference between scanning one day and a year."""
    path = scratch(sf_dir, "partitioned")
    e = t(spark, sf_dir, "events").withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
    e.write.mode("overwrite").partitionBy("event_type", "d").parquet(path)
    back = spark.read.parquet(path).filter(
        (F.col("event_type") == "purchase") & (F.col("d") <= "2024-01-07")
    )
    # partition-column type inference reads the day string back as a
    # DATE; render as ISO string for the hash (engine law).
    back = back.withColumn("d", F.date_format("d", "yyyy-MM-dd"))
    return back.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(F.col("value"), 2).alias("sum_value"),
    )


@query("q_source_json_lines", oracle=_EVENTS_AGG_ORACLE)
def q_source_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-format surface: events -> JSON lines -> re-read with the
    EXPLICIT schema (engine law: no inference on ingest, SURVEY.md §1.3).
    Microsecond timestamps are preserved via an explicit format."""
    path = scratch(sf_dir, "json_lines")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    t(spark, sf_dir, "events").write.mode("overwrite").option(
        "timestampFormat", fmt
    ).json(path)
    back = spark.read.schema(EVENTS_SCHEMA).option("timestampFormat", fmt).json(path)
    return _events_agg(back)


@query("q_source_csv", oracle=_EVENTS_AGG_ORACLE)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same for CSV with header + explicit timestamp format parsing."""
    path = scratch(sf_dir, "csv")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    t(spark, sf_dir, "events").write.mode("overwrite").option("header", "true").option(
        "timestampFormat", fmt
    ).csv(path)
    back = (
        spark.read.schema(EVENTS_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", fmt)
        .csv(path)
    )
    return _events_agg(back)


@query("q_sink_codecs", oracle=_EVENTS_AGG_ORACLE)
def q_sink_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec surface: the same immutable-sink roundtrip with
    explicit codecs — zstd for cold storage (best ratio), snappy for hot
    (fastest decode). Both columnar files must decode to identical
    values, so the aggregate over the UNION of half from each codec dir
    hash-matches the single-table oracle. At 100 TB codec choice is a
    per-table storage policy, not a code change — exactly this option."""
    e = t(spark, sf_dir, "events")
    zstd_dir = scratch(sf_dir, "codec_zstd")
    snappy_dir = scratch(sf_dir, "codec_snappy")
    half = F.col("event_id") % 2
    e.filter(half == 0).write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(zstd_dir)
    e.filter(half == 1).write.mode("overwrite").option(
        "compression", "snappy"
    ).parquet(snappy_dir)
    read = spark.read.schema(e.schema)
    back = read.parquet(zstd_dir).unionAll(read.parquet(snappy_dir))
    return _events_agg(back)


@query("q_source_jsonl_gzip", oracle=_EVENTS_AGG_ORACLE)
def q_source_jsonl_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped JSON-lines roundtrip — the de-facto interchange format of
    web-scale text corpora (WET/CC dumps ship as .jsonl.gz). Write path
    uses codec-compressed multi-file output; read path decodes per file
    split (gzip is not splittable, so at 100 TB the file count IS the
    read parallelism — many medium files, never one giant archive;
    that's why the write repartitions first)."""
    path = scratch(sf_dir, "jsonl_gz")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    t(spark, sf_dir, "events").repartition(4).write.mode("overwrite").option(
        "timestampFormat", fmt
    ).option("compression", "gzip").json(path)
    back = spark.read.schema(EVENTS_SCHEMA).option("timestampFormat", fmt).json(path)
    return _events_agg(back)


@query(
    "q_source_xml_roundtrip",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           {sql_dec_sum('value', 2)} AS sum_value,
           strftime(max(CAST(ts AS DATE)), '%Y-%m-%d') AS max_day
    FROM events
    GROUP BY event_type
    """,
)
def q_source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML egress + ingest roundtrip (Spark 4's NATIVE xml data source —
    no spark-xml jar needed): write events as <row> elements, read them
    back with an EXPLICIT schema, and aggregate to the events contract.
    Feeds/partner-exchange XML is still a real ingest surface for
    enterprise pipelines, and this pins the native reader's behavior.

    Timestamps cross the XML boundary as formatted strings (the
    TIMESTAMP_NTZ formatting trap documented in SURVEY §9 applies to
    every text format — CSV, JSON, and XML alike), and doubles
    round-trip exactly because Spark writes shortest-round-trip decimal
    text for 2-decimal values. Explicit read schema: XML inference
    would widen everything to string/long and is a per-file extra pass.

    Scale: the roundtrip is embarrassingly parallel (one XML part-file
    per task, no shuffle until the final aggregation); XML parsing is
    ~5-10x slower per byte than parquet, which is the point of pinning
    it as an INGEST format, not a storage format."""
    path = scratch(sf_dir, "xml_roundtrip")
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )
    (
        ev.repartition(4)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema("event_type string, value double, ts_s string")
        .load(path)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(F.col("value"), 2).alias("sum_value"),
        F.max(F.substring("ts_s", 1, 10)).alias("max_day"),
    )


@query(
    "q_source_schema_evolution",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_bonus,
           {sql_dec_sum('value', 2)} AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution via mergeSchema: half the events land
    WITHOUT the later-added ``bonus_cents`` column (the original
    producer), half WITH it (the upgraded producer writing into the
    same table path), and one mergeSchema read unifies them — the
    evolving-producer pattern every long-lived ingest table hits. Rows
    from old files surface NULL bonus, which the audit counts.

    mergeSchema=true costs a footer read per file at planning time (at
    100 TB: thousands of footers — the production path pins the merged
    schema in a metastore and passes it explicitly; this operator pins
    the READER semantics those deployments rely on). The parallel
    write/read itself shuffles nothing; only the final aggregate does."""
    path = scratch(sf_dir, "schema_evo")
    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    old = ev.filter(F.col("event_id") % 2 == 0)
    new = ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "bonus_cents",
        cents(F.col("value")),
    )
    old.repartition(2).write.mode("overwrite").parquet(path + "/batch=old")
    new.repartition(2).write.mode("overwrite").parquet(path + "/batch=new")
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("bonus_cents").isNotNull().cast("long")).alias(
            "n_with_bonus"
        ),
        dec_sum(F.col("value"), 2).alias("sum_value"),
    )


@query(
    "q_source_fixed_width",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def q_source_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text ingest (mainframe/EDI-style feeds): nation is
    serialized as 4+20+4-char fixed columns via rpad/lpad, landed as
    plain text part-files, then re-parsed with substring+trim+cast into
    the original schema — a lossless roundtrip the oracle checks as
    table identity. Fixed-width is the one text format with NO
    delimiter to quote, so parse is pure positional arithmetic; the
    text read is as parallel as the line count (one task per split),
    and both directions are map-side only."""
    path = scratch(sf_dir, "fixed_width")
    nation = t(spark, sf_dir, "nation")
    lines = nation.select(
        F.concat(
            F.lpad(F.col("n_nationkey").cast("string"), 4, "0"),
            F.rpad(F.col("n_name"), 20, " "),
            F.lpad(F.col("n_regionkey").cast("string"), 4, "0"),
        ).alias("value")
    )
    lines.coalesce(1).write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    return raw.select(
        F.substring("value", 1, 4).cast("int").alias("n_nationkey"),
        F.rtrim(F.substring("value", 5, 20)).alias("n_name"),
        F.substring("value", 25, 4).cast("int").alias("n_regionkey"),
    )


@query(
    "q_lake_time_travel",
    oracle="""
    SELECT 1 AS version, count(*) AS n,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation WHERE n_regionkey = 0
    UNION ALL
    SELECT 2 AS version, count(*) AS n,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    ORDER BY version
    """,
)
def q_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel over the manifest-over-parquet versioned
    table (khose_spark/tables_versioned.py — the lakehouse-lite layer
    built because no Delta/Iceberg jar ships in this environment,
    SURVEY §8): commit v1 (region-0 nations) then v2 (all nations) into
    one table root, read BOTH versions back AS OF their commit, and
    emit the per-version audit the oracle reproduces from the source
    table. Snapshots publish atomically (stage data, os.replace the
    manifest last), so uncommitted data is invisible — the invariant
    tests/test_versioned_tables.py proves with failure injection.

    Time travel is partition-path selection (read ONLY that version's
    files), not data filtering — it prunes perfectly at any scale; the
    manifest listing is one small-dir read."""
    import shutil

    from khose_spark.tables_versioned import commit_snapshot, read_snapshot

    root = scratch(sf_dir, "time_travel")
    shutil.rmtree(root, ignore_errors=True)
    nation = t(spark, sf_dir, "nation")
    commit_snapshot(nation.filter(F.col("n_regionkey") == 0), root, "r0")
    commit_snapshot(nation, root, "full")
    outs = []
    for v in (1, 2):
        outs.append(
            read_snapshot(spark, root, v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n"),
                F.sum("n_nationkey").cast("long").alias("key_sum"),
            )
        )
    return outs[0].unionAll(outs[1]).orderBy("version")


@query(
    "q_sink_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_items,
           CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pay-the-shuffle-once lifecycle as a user-visible operator:
    both fact tables are written BUCKETED on the join key (8 buckets,
    sorted within bucket, saveAsTable so the bucket metadata lands in
    the catalog), then the priority rollup joins the bucketed tables —
    co-located, so the sort-merge join plans with no Exchange on either
    side (asserted plan-level in tests/test_bucketing.py; this key
    carries the RESULT correctness vs the plain-join oracle).

    At 100 TB this is the difference between re-shuffling the fact
    table on every key join and never shuffling it again: the bucketed
    write is the one-time cost, every downstream key join rides the
    layout. Bucket count scales with cluster width; 8 matches the
    fixture size."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]

    def build() -> tuple[str, str]:
        # The store drops both tables on release, with their scratch files.
        onames = (
            memo.table(f"orders_bj_{tag}"),
            memo.table(f"lineitem_bj_{tag}"),
        )
        (
            t(spark, sf_dir, "orders")
            .write.format("parquet")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", scratch(sf_dir, "orders_bj"))
            .mode("overwrite")
            .saveAsTable(onames[0])
        )
        (
            t(spark, sf_dir, "lineitem")
            .write.format("parquet")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", scratch(sf_dir, "lineitem_bj"))
            .mode("overwrite")
            .saveAsTable(onames[1])
        )
        return onames

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    onames = memo.get(spark, "bucketed_join", sf_dir, build)
    o = spark.table(onames[0])
    li = spark.table(onames[1])
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").cast("long").alias("total_qty"),
        )
    )


@query("q_source_json_multiline", oracle=_EVENTS_AGG_ORACLE)
def q_source_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline-JSON ingest (each file is ONE pretty-printable JSON
    ARRAY — the partner-feed/API-dump format, vs the JSONL streaming
    format of q_source_json_lines): the egress side assembles one
    array per partition WITHOUT any driver collect (an Arrow
    mapInPandas fold buffers the partition's rows and emits a single
    array string), and the read side uses multiLine=true with the
    EXPLICIT schema + timestamp format. Roundtrip is checked against
    the original-table oracle.

    Scale note: multiLine JSON is inherently file-at-a-time (a file is
    one JSON value, so splitting is impossible) — the right shape for
    small partner feeds, and exactly why the streaming ingest path
    uses JSONL instead; this key pins both the capability and the
    caveat."""
    import pandas as pd

    path = scratch(sf_dir, "json_multiline")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    rows_json = t(spark, sf_dir, "events").select(
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type",
                     "value", "props"),
            {"timestampFormat": fmt},
        ).alias("j")
    )

    def _fold(batches):
        buf: list[str] = []
        for pdf in batches:
            buf.extend(pdf["j"].tolist())
        if buf:
            yield pd.DataFrame({"txt": ["[" + ",".join(buf) + "]"]})

    arr = rows_json.mapInPandas(_fold, "txt string")
    arr.write.mode("overwrite").text(path)
    back = (
        spark.read.schema(EVENTS_SCHEMA)
        .option("multiLine", "true")
        .option("timestampFormat", fmt)
        .json(path)
    )
    return _events_agg(back)


@query(
    "q_source_csv_malformed",
    oracle=f"""
    SELECT event_type, count(*) AS n, {sql_dec_sum('value', 2)}
               AS sum_value,
           CAST((SELECT count(*) FROM events WHERE event_id % 97 = 0)
                AS BIGINT) AS n_corrupt
    FROM events
    WHERE event_id % 97 <> 0
    GROUP BY event_type
    """,
)
def q_source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-feed CSV ingest: every 97th event's line is replaced by
    deterministic garbage at egress, and the PERMISSIVE reader with an
    explicit schema + corrupt-record column must (a) recover every
    clean row exactly and (b) count the bad lines — the
    dead-letter-queue contract of a real feed, pinned. The oracle is
    the original table minus the corrupted subset plus the expected
    corrupt count, so silent row drops AND silent garbage acceptance
    both fail the hash.

    Corrupt lines parse as all-NULL typed columns with the raw text in
    _corrupt_record (checked via the count); clean-row recovery uses
    the usual explicit-schema + timestamp-format laws. One pass each
    way at any scale."""
    path = scratch(sf_dir, "csv_malformed")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ev = t(spark, sf_dir, "events")
    line = F.when(
        F.col("event_id") % 97 == 0,
        F.concat(F.lit("GARBAGE;;;not,a::record#"),
                 F.col("event_id").cast("string")),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("event_id").cast("string"),
            F.date_format("ts", fmt),
            F.col("user_id").cast("string"),
            "event_type",
            # plain decimal-to-string (format_number would inject
            # thousands separators >= 1000 and silently corrupt the CSV)
            F.col("value").cast("decimal(18,2)").cast("string"),
            F.coalesce(F.col("props"), F.lit("")),
        )
    )
    ev.select(line.alias("value")).write.mode("overwrite").text(path)
    # Fresh StructType: StructType.add MUTATES the receiver in place,
    # so extending the shared EVENTS_SCHEMA would poison every later
    # caller with a duplicate _corrupt_record column.
    schema = T.StructType(
        list(EVENTS_SCHEMA.fields)
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("timestampFormat", fmt)
        .csv(path)
        .transform(checkpoint)  # feeds the clean agg + the corrupt count
    )
    n_corrupt = back.filter(
        F.col("_corrupt_record").isNotNull()
    ).count()
    clean = back.filter(F.col("_corrupt_record").isNull())
    return clean.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(F.col("value"), 2).alias("sum_value"),
        F.lit(n_corrupt).cast("long").alias("n_corrupt"),
    )


@query(
    "q_lake_snapshot_diff",
    oracle=f"""
    WITH v1 AS (
      SELECT c_custkey,
             {sql_cents('c_acctbal')}
                 AS bal
      FROM customer WHERE c_custkey % 10 <> 0
    ), v2 AS (
      SELECT c_custkey,
             {sql_cents('c_acctbal')}
               + CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS bal
      FROM customer
    ), diff AS (
      SELECT coalesce(v1.c_custkey, v2.c_custkey) AS k,
             v1.bal AS b1, v2.bal AS b2
      FROM v1 FULL JOIN v2 ON v2.c_custkey = v1.c_custkey
    )
    SELECT CAST(sum(CASE WHEN b1 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_v1,
           CAST(sum(CASE WHEN b2 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_v2,
           CAST(sum(CASE WHEN b1 IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_added,
           CAST(sum(CASE WHEN b2 IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN b1 IS NOT NULL AND b2 IS NOT NULL
                          AND b1 <> b2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_changed,
           CAST(sum(CASE WHEN b1 = b2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same
    FROM diff
    """,
)
def q_lake_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot diff on the versioned table: v1 (yesterday
    — 90% of customers) and v2 (today — all customers, every 7th
    balance bumped a dollar) commit into one table root, both read
    back AS OF, and the PK-keyed full-outer diff reports
    added/removed/changed/same — the audit a lakehouse change-review
    runs before promoting a snapshot, built on the same atomic-
    manifest reader as q_lake_time_travel.

    Plan: two version-pruned reads (path selection, no data filter) +
    one key-shuffled full-outer + a 1-row fold. Balances compare as
    exact cents."""
    import shutil

    from khose_spark.tables_versioned import commit_snapshot, read_snapshot

    root = scratch(sf_dir, "snapshot_diff")
    shutil.rmtree(root, ignore_errors=True)
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(
            sql_cents("c_acctbal")
        ).alias("bal"),
    )
    commit_snapshot(
        cust.filter(F.col("c_custkey") % 10 != 0), root, "v1"
    )
    commit_snapshot(
        cust.select(
            "c_custkey",
            (
                F.col("bal")
                + F.when(F.col("c_custkey") % 7 == 0, 100).otherwise(0)
            ).alias("bal"),
        ),
        root,
        "v2",
    )
    v1 = read_snapshot(spark, root, 1).select(
        F.col("c_custkey").alias("k1"), F.col("bal").alias("b1")
    )
    v2 = read_snapshot(spark, root, 2).select(
        F.col("c_custkey").alias("k2"), F.col("bal").alias("b2")
    )
    diff = v1.join(v2, v1.k1 == v2.k2, "full_outer")
    return diff.agg(
        F.sum(F.when(F.col("b1").isNotNull(), 1).otherwise(0)).alias(
            "n_v1"
        ),
        F.sum(F.when(F.col("b2").isNotNull(), 1).otherwise(0)).alias(
            "n_v2"
        ),
        F.sum(F.when(F.col("b1").isNull(), 1).otherwise(0)).alias(
            "n_added"
        ),
        F.sum(F.when(F.col("b2").isNull(), 1).otherwise(0)).alias(
            "n_removed"
        ),
        F.sum(
            F.when(
                F.col("b1").isNotNull()
                & F.col("b2").isNotNull()
                & (F.col("b1") != F.col("b2")),
                1,
            ).otherwise(0)
        ).alias("n_changed"),
        F.sum(
            F.when(F.col("b1") == F.col("b2"), 1).otherwise(0)
        ).alias("n_same"),
    )


def _z16_sql(xc: str, yc: str, div: str = "//") -> str:
    """16-bit Morton (Z-order) interleave of two 8-bit coords in pure
    integer arithmetic — the same expression in both engines modulo
    the floor-division spelling (``//`` in DuckDB, ``DIV`` in Spark
    SQL; operands are nonnegative so the two agree exactly)."""
    terms = []
    for j in range(8):
        terms.append(f"(({xc}) {div} {2**j} % 2) * {4**j}")
        terms.append(f"(({yc}) {div} {2**j} % 2) * {2 * 4**j}")
    return " + ".join(terms)


@query(
    "q_lake_zorder_locality",
    oracle=f"""
    WITH pts AS (
      SELECT l_orderkey, l_partkey % 256 AS x, l_suppkey % 256 AS y,
             {_z16_sql("l_partkey % 256", "l_suppkey % 256")} AS z
      FROM lineitem
    ), blocked AS (
      SELECT 'zorder' AS method, d.k,
             z // CAST(pow(4, 8 - d.k) AS BIGINT) AS blk, x, y
      FROM pts, (SELECT unnest([2, 4]) AS k) d
      UNION ALL
      SELECT 'natural', d.k,
             l_orderkey % CAST(pow(4, d.k) AS BIGINT), x, y
      FROM pts, (SELECT unnest([2, 4]) AS k) d
    ), per_block AS (
      SELECT method, k, blk, CAST(count(*) AS BIGINT) AS n,
             (max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS bbox
      FROM blocked GROUP BY 1, 2, 3
    )
    SELECT method, CAST(k AS INT) AS depth,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST((2 * 1000 * sum(bbox) + count(*) * 65536)
                // (2 * count(*) * 65536) AS BIGINT)
             AS avg_bbox_permille,
           CAST(max(bbox) AS BIGINT) AS max_bbox
    FROM per_block GROUP BY 1, 2 ORDER BY method, depth
    """,
)
def q_lake_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout locality audit — the closed-form
    version of "would Z-ordering these two filter columns shrink my
    scans": each lineitem row gets a 16-bit Morton code over
    (l_partkey mod 256, l_suppkey mod 256); a quadtree cell at prefix
    depth k is exactly `z // 4^(8−k)`, and the per-cell (x, y)
    bounding-box area — as a permille of the full 256×256 domain — IS
    the fraction of the key space a block's min/max zone-map covers,
    i.e. the data-skipping power a Z-ordered file layout would have.
    The control rows block by `l_orderkey mod 4^k` (the natural
    arrival order), whose blocks span ~the whole domain — the audited
    gap between ~1000‰ (natural) and ~4^−k·1000‰ (Z-order) is the
    measured justification for a Z-order rewrite, computed WITHOUT
    writing a single file. Pure integer arithmetic end to end (the
    interleave is // % on powers of two — no engine bit intrinsics),
    so the hash check certifies the curve itself.

    Plan: one map-side Morton projection + one (method, depth, block)
    aggregate + a 4-row rollup. At 100 TB: one shuffle keyed on the
    block id — the same shape as the compaction job that would
    actually apply the Z-order."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_partkey") % 256).alias("x"),
        (F.col("l_suppkey") % 256).alias("y"),
    )
    pts = li.select(
        "l_orderkey",
        "x",
        "y",
        F.expr(_z16_sql("x", "y", div="DIV")).alias("z"),
    )
    rows = []
    for k in (2, 4):
        rows.append(
            pts.select(
                F.lit("zorder").alias("method"),
                F.lit(k).alias("k"),
                F.expr(f"z DIV {4 ** (8 - k)}").alias("blk"),
                "x",
                "y",
            )
        )
        rows.append(
            pts.select(
                F.lit("natural").alias("method"),
                F.lit(k).alias("k"),
                (F.col("l_orderkey") % (4**k)).alias("blk"),
                "x",
                "y",
            )
        )
    blocked = rows[0]
    for r in rows[1:]:
        blocked = blocked.unionByName(r)
    per_block = blocked.groupBy("method", "k", "blk").agg(
        F.count(F.lit(1)).alias("n"),
        (
            (F.max("x") - F.min("x") + 1)
            * (F.max("y") - F.min("y") + 1)
        ).alias("bbox"),
    )
    return (
        per_block.groupBy("method", F.col("k").cast("int").alias("depth"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum("n").cast("long").alias("n_rows"),
            F.expr(
                "CAST((2 * 1000 * sum(bbox) + count(1) * 65536)"
                " DIV (2 * count(1) * 65536) AS BIGINT)"
            ).alias("avg_bbox_permille"),
            F.max("bbox").cast("long").alias("max_bbox"),
        )
        .orderBy("method", "depth")
    )


_COMPACT_BINS = 8  # compaction fan-in: pack the file list into 8 outputs


@query(
    "q_lake_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS bytes
      FROM documents GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(bytes) AS BIGINT) AS total,
             CAST((sum(bytes) + {_COMPACT_BINS} - 1) // {_COMPACT_BINS}
                  AS BIGINT) AS target
      FROM files
    ), planned AS (
      SELECT f.source, f.lang, f.bytes, t.target,
             CAST(COALESCE(sum(f.bytes) OVER (
                    ORDER BY f.bytes DESC, f.source ASC, f.lang ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) // t.target AS BIGINT) AS bin_id
      FROM files f CROSS JOIN tot t
    )
    SELECT bin_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bin_bytes,
           max(target) AS target_bytes,
           CAST((2 * 1000 * sum(bytes) + max(target))
                // (2 * max(target)) AS BIGINT) AS fill_permille
    FROM planned GROUP BY bin_id
    """,
)
def q_lake_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the lakehouse maintenance job
    that turns N small files into ~8 right-sized outputs BEFORE
    rewriting a byte (the q_lake_zorder_locality pattern: measure the
    plan, don't write the file). Files are modeled as the (source,
    lang) byte masses of the document corpus; the plan orders them
    size-descending (name tiebreak — the first-fit-decreasing greedy's
    sort order) and assigns each file to output bin = floor(cum_bytes_
    before / target) with target = ceil(total/8) — the running-total
    split a sorted compactor actually uses, in closed form via ONE
    prefix-sum window instead of a sequential packing loop. Per bin:
    file count, bytes, and half-up permille fill vs target — the skew
    report that decides whether the compaction is worth running.

    All-integer exactness (bytes, ceil/floor divisions, half-up
    permille); sums are non-negative so DuckDB's flooring // and
    Spark's truncating DIV agree.

    Plan: one (source, lang) fact rollup (the only corpus-scale
    shuffle), a 1-row total broadcast-crossed in, and one prefix-sum
    window over the file list — which is DIMENSION-bounded (sources ×
    langs), not corpus-bounded, so the single-partition window is
    constant-size at any volume (the fixed_seeds argument)."""
    files = (
        t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.sum("n_chars").cast("long").alias("bytes"))
    )
    tot = files.agg(
        F.sum("bytes").cast("long").alias("total"),
        F.expr(
            f"CAST((sum(bytes) + {_COMPACT_BINS} - 1)"
            f" DIV {_COMPACT_BINS} AS BIGINT)"
        ).alias("target"),
    )
    w_prefix = Window.orderBy(
        F.desc("bytes"), F.asc("source"), F.asc("lang")
    ).rowsBetween(Window.unboundedPreceding, -1)
    planned = (
        files.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "bytes",
            "target",
            F.coalesce(F.sum("bytes").over(w_prefix), F.lit(0)).alias(
                "cum_before"
            ),
        )
        .select(
            "bytes",
            "target",
            F.expr("CAST(cum_before DIV target AS BIGINT)").alias(
                "bin_id"
            ),
        )
    )
    return planned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").cast("long").alias("bin_bytes"),
        F.max("target").alias("target_bytes"),
        F.expr(
            "CAST((2 * 1000 * sum(bytes) + max(target))"
            " DIV (2 * max(target)) AS BIGINT)"
        ).alias("fill_permille"),
    )


@query(
    "q_lake_compaction_apply",
    oracle=f"""
    WITH files AS (
      SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS bytes,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(doc_id) AS BIGINT) AS key_sum
      FROM documents GROUP BY 1, 2
    ), tot AS (
      SELECT CAST((sum(bytes) + {_COMPACT_BINS} - 1) // {_COMPACT_BINS}
                  AS BIGINT) AS target
      FROM files
    ), planned AS (
      SELECT f.*, t.target,
             CAST(COALESCE(sum(f.bytes) OVER (
                    ORDER BY f.bytes DESC, f.source ASC, f.lang ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) // t.target AS BIGINT) AS bin_id
      FROM files f CROSS JOIN tot t
    )
    SELECT bin_id,
           CAST(1 AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(bytes) AS BIGINT) AS bin_chars,
           CAST(sum(key_sum) AS BIGINT) AS doc_key_sum,
           CAST((2 * 1000 * sum(bytes) + max(target))
                // (2 * max(target)) AS BIGINT) AS fill_permille,
           CAST(1 AS BIGINT) AS rows_match,
           CAST(1 AS BIGINT) AS chars_match
    FROM planned GROUP BY bin_id
    """,
)
def q_lake_compaction_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction APPLY — q_lake_compaction_plan's rewrite actually
    EXECUTED on the versioned table, closing the plan->act loop on the
    lakehouse maintenance story (VERDICT r10 item 5):

      1. v1: the document corpus committed as a snapshot
         (tables_versioned.commit_snapshot — atomic manifest publish).
      2. PLAN: the same first-fit-decreasing prefix-sum bin assignment
         the planner key computes (size-desc order, name tiebreak,
         bin = floor(cum_before / target), target = ceil(total/8)) —
         derived from the COMMITTED v1 read, not the source table.
      3. APPLY: v1 joined to the broadcast bin assignment, clustered
         on bin_id (every bin's rows land in one task), and committed
         as v2 hive-partitioned on bin_id — manifest v+1 published
         atomically, so a crash mid-rewrite leaves v1 the visible
         latest (failure-injected in tests/test_versioned_tables.py).
      4. AUDIT (the returned, hash-checked relation): per bin, the
         MEASURED file count from reading v2 back (distinct
         input_file_name() — certifies the one-file-per-bin physical
         claim, not just the plan), group/doc/char masses, the per-bin
         doc_id sum (row identity PER BIN against the oracle's
         expectation from the source table), half-up permille fill vs
         target, and global row/char conservation flags vs the v1
         read.

    Post-compaction read ≡ pre-compaction read is certified twice:
    per-bin key sums hash-match the oracle, and the global flags
    compare v2 totals against v1 totals from the actual snapshots.

    Plan shape: one (source, lang) rollup on the v1 scan (the only
    corpus-scale shuffle), dimension-bounded prefix window, broadcast
    assignment join, one clustering repartition for the write (the
    rewrite IS the point), and a per-bin rollup of the v2 read. At
    100 TB the rewrite streams each bin through one writer task and
    the audit is a second linear scan."""
    import shutil

    from khose_spark.tables_versioned import (
        commit_snapshot,
        read_snapshot,
    )

    root = scratch(sf_dir, "compaction_apply")
    shutil.rmtree(root, ignore_errors=True)
    docs = t(spark, sf_dir, "documents")
    commit_snapshot(docs, root, "v1: pre-compaction corpus")
    v1 = read_snapshot(spark, root, 1)

    files = (
        v1.groupBy("source", "lang")
        .agg(F.sum("n_chars").cast("long").alias("bytes"))
    )
    tot = files.agg(
        F.expr(
            f"CAST((sum(bytes) + {_COMPACT_BINS} - 1)"
            f" DIV {_COMPACT_BINS} AS BIGINT)"
        ).alias("target")
    )
    w_prefix = Window.orderBy(
        F.desc("bytes"), F.asc("source"), F.asc("lang")
    ).rowsBetween(Window.unboundedPreceding, -1)
    assignment = (
        files.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "target",
            F.coalesce(F.sum("bytes").over(w_prefix), F.lit(0)).alias(
                "cum_before"
            ),
        )
        .select(
            "source",
            "lang",
            "target",
            F.expr("CAST(cum_before DIV target AS BIGINT)").alias(
                "bin_id"
            ),
        )
    )
    compacted = (
        v1.join(F.broadcast(assignment.drop("target")), ["source", "lang"])
        .repartition("bin_id")
    )
    commit_snapshot(
        compacted, root, "v2: compacted", partition_by=["bin_id"]
    )
    v2 = read_snapshot(spark, root, 2)

    v1tot = v1.agg(
        F.count(F.lit(1)).alias("v1_rows"),
        F.sum("n_chars").cast("long").alias("v1_chars"),
    )
    v2tot = v2.agg(
        F.count(F.lit(1)).alias("v2_rows"),
        F.sum("n_chars").cast("long").alias("v2_chars"),
    )
    target1 = assignment.agg(F.max("target").alias("target"))
    return (
        v2.select(
            F.col("bin_id").cast("long").alias("bin_id"),
            F.input_file_name().alias("fname"),
            "source",
            "lang",
            "doc_id",
            "n_chars",
        )
        .groupBy("bin_id")
        .agg(
            F.countDistinct("fname").alias("n_files"),
            F.countDistinct("source", "lang").alias("n_groups"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("bin_chars"),
            F.sum("doc_id").cast("long").alias("doc_key_sum"),
        )
        .crossJoin(F.broadcast(target1))
        .crossJoin(F.broadcast(v1tot))
        .crossJoin(F.broadcast(v2tot))
        .select(
            "bin_id",
            "n_files",
            "n_groups",
            "n_docs",
            "bin_chars",
            "doc_key_sum",
            F.expr(
                "CAST((2 * 1000 * bin_chars + target)"
                " DIV (2 * target) AS BIGINT)"
            ).alias("fill_permille"),
            (F.col("v2_rows") == F.col("v1_rows"))
            .cast("long")
            .alias("rows_match"),
            (F.col("v2_chars") == F.col("v1_chars"))
            .cast("long")
            .alias("chars_match"),
        )
    )


@query(
    "q_lake_vacuum",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS versions_before,
           CAST(1 AS BIGINT) AS orphan_dirs_removed,
           CAST(2 AS BIGINT) AS orphan_files_removed,
           CAST(1 AS BIGINT) AS expired_versions,
           CAST(4 AS BIGINT) AS expired_files_removed,
           CAST(3 AS BIGINT) AS kept_files,
           CAST(1 AS BIGINT) AS time_travel_pruned,
           CAST(count(*) AS BIGINT) AS latest_rows,
           CAST(sum(n_chars) AS BIGINT) AS latest_chars,
           CAST(sum(doc_id) AS BIGINT) AS latest_key_sum
    FROM documents
    """,
)
def q_lake_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — the lakehouse GC closing the maintenance lifecycle
    (plan → compact → vacuum): on a versioned table carrying v1 (4
    files), one ORPHAN data dir staged by a simulated crashed writer (2
    files, never published — readers cannot see it, the atomic-manifest
    invariant), and v2 (3 files), run
    ``tables_versioned.vacuum(retain_last=1)`` and certify from
    MEASUREMENT: the orphan dir and its files removed, v1 expired (data
    + manifest — time travel to v1 now raises, asserted live), v2's 3
    files untouched, and the post-vacuum latest read conserving rows /
    chars / doc_id key-sum against the source corpus. Every file count
    is a planted deterministic constant (round-robin repartition: no
    empty partitions at any fixture scale), so the oracle states the
    physical claim exactly — the compaction_apply discipline.

    Plan: three corpus-linear snapshot writes + one audit scan of the
    retained snapshot; vacuum itself is a manifest-listing walk (no
    data I/O — the reason Iceberg's expire_snapshots scales: deletion
    candidates come from metadata, never from scanning the lake)."""
    import shutil

    from khose_spark.tables_versioned import (
        commit_snapshot,
        list_versions,
        read_snapshot,
        vacuum,
    )

    root = scratch(sf_dir, "lake_vacuum")
    shutil.rmtree(root, ignore_errors=True)
    docs = t(spark, sf_dir, "documents")
    commit_snapshot(docs.repartition(4), root, "v1: initial corpus")
    # A crashed writer: data staged under the NEXT version path, no
    # manifest published — invisible to readers, orphaned on disk.
    docs.repartition(2).write.mode("overwrite").parquet(
        root + "/data/v=000099"
    )
    commit_snapshot(docs.repartition(3), root, "v2: rewritten corpus")
    stats = vacuum(root, retain_last=1)
    survivors = list_versions(root)
    try:
        read_snapshot(spark, root, 1)
        pruned = 0
    except FileNotFoundError:
        pruned = 1 if survivors == [2] else 0
    audit = (
        read_snapshot(spark, root)
        .agg(
            F.count(F.lit(1)).cast("long").alias("latest_rows"),
            F.sum("n_chars").cast("long").alias("latest_chars"),
            F.sum("doc_id").cast("long").alias("latest_key_sum"),
        )
    )
    return audit.select(
        F.lit(stats["versions_before"]).cast("long").alias(
            "versions_before"
        ),
        F.lit(stats["orphan_dirs_removed"]).cast("long").alias(
            "orphan_dirs_removed"
        ),
        F.lit(stats["orphan_files_removed"]).cast("long").alias(
            "orphan_files_removed"
        ),
        F.lit(stats["expired_versions"]).cast("long").alias(
            "expired_versions"
        ),
        F.lit(stats["expired_files_removed"]).cast("long").alias(
            "expired_files_removed"
        ),
        F.lit(stats["kept_files"]).cast("long").alias("kept_files"),
        F.lit(pruned).cast("long").alias("time_travel_pruned"),
        "latest_rows",
        "latest_chars",
        "latest_key_sum",
    )
