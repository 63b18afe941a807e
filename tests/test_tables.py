"""Fixture-table reads (khose_spark.tables.t): the schema is inferred once
per session and path, and a read with the stored schema is the same
relation as a read that infers it."""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from khose_spark import memo, plancheck, tables
from khose_spark.tables import TABLES, t


def _uncached(spark, sf_dir, name, monkeypatch):
    """``t()`` as it reads a path the store cannot fingerprint: with
    schema inference, nothing stored."""
    with monkeypatch.context() as m:
        m.setattr(tables, "_fingerprint", lambda path: None)
        return t(spark, sf_dir, name)


def test_schema_inferred_once(spark, sf_dir, tmp_path):
    # A private copy, so no earlier test has stored its schema.
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), tmp_path)
    copy_dir = str(tmp_path)
    sc = spark.sparkContext
    group = f"test-tables-{uuid.uuid4().hex}"

    def jobs() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store caught up
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, "tables.t job count")
    try:
        t(spark, copy_dir, "lineitem")
        first = jobs()
        t(spark, copy_dir, "lineitem")
        both = jobs()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert first == 1, "the first read should run one schema-inference job"
    assert both == 1, "the second read should run no job"


@pytest.mark.parametrize("name", TABLES)
def test_stored_schema_read_matches_inferred_read(spark, sf_dir, name, monkeypatch):
    cached = t(spark, sf_dir, name)
    inferred = _uncached(spark, sf_dir, name, monkeypatch)
    assert cached.schema == inferred.schema
    assert plancheck.skeleton(cached) == plancheck.skeleton(inferred)


def test_events_rows_match_inferred_read(spark, sf_dir, monkeypatch):
    cached = t(spark, sf_dir, "events")
    inferred = _uncached(spark, sf_dir, "events", monkeypatch)
    assert sorted(cached.collect()) == sorted(inferred.collect())


def test_nanosecond_events_convert_from_stored_schema(
    spark, sf_dir, tmp_path, monkeypatch
):
    # The fixtures' other layout: ts as TIMESTAMP(NANOS), which the
    # session reads as a nanosecond long.
    events = pq.read_table(f"{sf_dir}/events.parquet")
    i = events.schema.get_field_index("ts")
    events = events.set_column(i, "ts", pc.cast(events["ts"], pa.timestamp("ns")))
    pq.write_table(events, tmp_path / "events.parquet", version="2.6")
    ns_dir = str(tmp_path)

    cached = t(spark, ns_dir, "events")
    inferred = _uncached(spark, ns_dir, "events", monkeypatch)
    assert cached.schema["ts"].dataType == T.TimestampType()
    assert cached.schema == inferred.schema
    assert sorted(cached.collect()) == sorted(inferred.collect())
    raw = spark.read.parquet(f"{ns_dir}/events.parquet")
    assert isinstance(raw.schema["ts"].dataType, T.LongType)
    micros = cached.select("event_id", F.unix_micros("ts").alias("us"))
    expect = raw.select("event_id", F.expr("ts div 1000").alias("us"))
    assert sorted(micros.collect()) == sorted(expect.collect())


def test_rewrite_at_same_path_changes_schema(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/region.parquet"
    base = spark.range(3).select(F.col("id").alias("r_regionkey"))
    base.write.mode("overwrite").parquet(path)
    assert t(spark, sf, "region").columns == ["r_regionkey"]

    base.withColumn("r_extra", F.lit("x")).write.mode("overwrite").parquet(path)
    back = t(spark, sf, "region")
    assert back.columns == ["r_regionkey", "r_extra"]
    assert back.filter(F.col("r_extra") == "x").count() == 3


def test_release_all_drops_schema_entries(spark, sf_dir):
    t(spark, sf_dir, "nation")
    assert any(k[2].startswith("schema:") for k in memo._ENTRIES)
    memo.release_all()
    assert not any(k[2].startswith("schema:") for k in memo._ENTRIES)
