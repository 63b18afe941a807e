"""Streaming-semantics tests (SURVEY.md §5.2 item 3).

Feed the fixture events through a chunked file stream and assert the
streaming results converge to the hash-checked batch twins — Structured
Streaming's prefix-consistency guarantee. Plus: watermark late-drop,
exactly-once file sink (idempotent restart), Kinesis-envelope roundtrip,
and the custom stateful operator.
"""

from __future__ import annotations

import ast
import glob
import inspect
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from khose_spark.operators.streaming import sessionize_batch, tumbling_hourly
from khose_spark.sources import (
    ENVELOPE_SCHEMA,
    kinesis_stream,
    parse_envelope,
    stage_event_chunks,
)
from khose_spark.sources.kinesis_sim import file_stream, stage_document_chunks
from khose_spark.streaming import (
    drain,
    ingest_to_parquet,
    run_stream_to_memory,
    stateful_running_spend,
)
from khose_spark.tables import t
from tests._parity import canon_frame


@pytest.fixture(scope="module")
def chunks(spark, sf_dir):
    return stage_event_chunks(spark, sf_dir, n_chunks=8)


def assert_frames_equal(a_df, b_df, msg=""):
    a, b = canon_frame(a_df.toPandas()), canon_frame(b_df.toPandas())
    assert a == b, f"{msg}: streaming result != batch twin ({len(a)} vs {len(b)} rows)"


def test_stream_tumbling_converges(spark, sf_dir, chunks):
    stream = tumbling_hourly(file_stream(spark, chunks))
    run_stream_to_memory(stream, "t_tumbling", "complete")
    assert_frames_equal(
        spark.table("t_tumbling"),
        tumbling_hourly(t(spark, sf_dir, "events")),
        "tumbling",
    )


def test_stream_session_window_converges(spark, sf_dir, chunks):
    """session_window streaming agg == gaps-and-islands batch twin."""
    stream = (
        file_stream(spark, chunks)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    run_stream_to_memory(stream, "t_session", "complete")
    twin = sessionize_batch(t(spark, sf_dir, "events")).select(
        "user_id", "session_start", "n_events"
    )
    assert_frames_equal(spark.table("t_session"), twin, "session")


def test_stream_dedup_restores_counts(spark, sf_dir, chunks):
    """At-least-once repair: a doubled stream (two passes over the same
    chunks) deduped on event_id yields the original per-type counts."""
    doubled = file_stream(spark, chunks).unionAll(file_stream(spark, chunks))
    deduped = (
        doubled.withWatermark("ts", "10 days")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    run_stream_to_memory(deduped, "t_dedup", "complete")
    twin = (
        t(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    )
    assert_frames_equal(spark.table("t_dedup"), twin, "dedup")


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving > watermark behind the observed max event time is
    excluded from append-mode windowed output.

    Two separate query RUNS share one checkpoint: run 1 advances the
    watermark to max(ts)-2h and persists it; run 2 delivers a row 5h
    older than that — its window is already finalized, so it's dropped.
    (A single availableNow drain can batch all files together, which
    would never advance the watermark between them.)"""
    import pandas as pd

    chunk_dir = tmp_path / "late_chunks"
    chunk_dir.mkdir()
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    base = pd.Timestamp("2024-06-01 00:00:00")
    mk = lambda eid, minutes, et: {  # noqa: E731
        "event_id": eid,
        "ts": base + pd.Timedelta(minutes=minutes),
        "user_id": 1,
        "event_type": et,
        "value": 1.0,
        "props": "{}",
    }

    def run():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string"
            )
            .parquet(str(chunk_dir))
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
        )
        drain(
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    # run 1: on-time rows advance event time to +300min -> wm = +180min
    # (microsecond coercion: Spark's schema-ed reader rejects NANOS)
    pd.DataFrame([mk(1, 0, "a"), mk(2, 60, "a"), mk(3, 300, "a")]).to_parquet(
        chunk_dir / "c0.parquet", coerce_timestamps="us"
    )
    run()
    # run 2: a LATE row at +1min — 299min behind the persisted watermark
    pd.DataFrame([mk(4, 1, "late"), mk(5, 310, "b")]).to_parquet(
        chunk_dir / "c1.parquet", coerce_timestamps="us"
    )
    run()
    out = spark.read.parquet(out_dir).toPandas()
    assert "late" not in set(out["event_type"]), out
    # the on-time rows in closed windows did get emitted
    assert set(out["event_type"]) == {"a"}, out


def test_exactly_once_sink_idempotent_restart(spark, sf_dir, chunks):
    """Run the ingest pipeline twice over the SAME checkpoint: the
    second (restart/replay) run must not duplicate any file/row."""
    base = tempfile.mkdtemp(prefix="khose_eo_")
    try:
        out, ckpt = f"{base}/out", f"{base}/ckpt"
        for _ in range(2):  # second run replays a fully-committed log
            ingest_to_parquet(file_stream(spark, chunks), out, ckpt)
        back = spark.read.parquet(out)
        orig = t(spark, sf_dir, "events")
        assert back.count() == orig.count()
        assert (
            back.agg(F.sum("event_id")).first()[0]
            == orig.agg(F.sum("event_id")).first()[0]
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_exactly_once_sink_crash_recovery(spark, sf_dir, chunks):
    """Failure injection for khose's defining guarantee (exactly-once
    file output), at the two crash points the WAL+manifest protocol has
    to survive:

    (A) Crash AFTER the sink committed its file manifest
        (``out/_spark_metadata/<b>``) but BEFORE the checkpoint commit
        log recorded batch b — simulated by deleting the newest
        ``ckpt/commits/<b>`` marker after a full drain. On restart the
        engine replays batch b (its offsets are in the WAL, its commit
        is missing); the file sink finds b already in the manifest and
        skips the write. Assert: zero duplicate rows, zero loss, and
        the data-file inventory is byte-for-byte the same set.

    (B) Crash MID-WRITE: a task landed a data file but the batch never
        reached the manifest — simulated by dropping an orphan parquet
        copy into a partition dir. The manifest-driven reader must not
        see it: uncommitted files are invisible, by construction.
    """
    base = tempfile.mkdtemp(prefix="khose_crash_")
    try:
        out, ckpt = f"{base}/out", f"{base}/ckpt"
        ingest_to_parquet(file_stream(spark, chunks), out, ckpt)

        def datafiles():
            return sorted(
                os.path.join(r, f)
                for r, _, fs in os.walk(out)
                for f in fs
                if f.endswith(".parquet")
            )

        files_before = datafiles()
        assert files_before, "sanity: the drain landed data files"
        batch_ids = [
            int(c) for c in os.listdir(f"{ckpt}/commits") if c.isdigit()
        ]
        newest = max(batch_ids)
        os.remove(f"{ckpt}/commits/{newest}")  # (A) inject the crash
        # the local ChecksumFs shadows every log file with a .crc twin;
        # a real crash loses both, and a stale .crc makes the restart's
        # commit rename fail a checksum check
        crc = f"{ckpt}/commits/.{newest}.crc"
        if os.path.exists(crc):
            os.remove(crc)

        # restart from the checkpoint: replays batch `newest`
        ingest_to_parquet(file_stream(spark, chunks), out, ckpt)

        back = spark.read.parquet(out)
        orig = t(spark, sf_dir, "events")
        assert back.count() == orig.count(), "replay duplicated or lost rows"
        assert (
            back.agg(F.sum("event_id")).first()[0]
            == orig.agg(F.sum("event_id")).first()[0]
        )
        assert datafiles() == files_before, (
            "replayed batch re-wrote files instead of skipping the "
            "already-manifested batch"
        )
        assert os.path.exists(f"{ckpt}/commits/{newest}"), (
            "restart did not re-commit the replayed batch"
        )

        # (B) orphan data file, never manifested
        victim = files_before[0]
        orphan = os.path.join(
            os.path.dirname(victim), "part-99999-orphan.c000.snappy.parquet"
        )
        shutil.copyfile(victim, orphan)
        assert spark.read.parquet(out).count() == orig.count(), (
            "manifest-driven read surfaced an uncommitted (orphan) file"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize("record", ["events", "documents"])
def test_kinesis_envelope_roundtrip(spark, sf_dir, chunks, record):
    """Envelope encode -> parse restores typed rows exactly, for both
    record kinds: every column of every row, so document text
    roundtrips byte for byte. The envelope has ENVELOPE_SCHEMA's
    columns and types."""
    if record == "documents":
        chunks = stage_document_chunks(spark, sf_dir, tag="roundtrip")
    envelope = kinesis_stream(spark, chunks, record=record)
    assert [(f.name, f.dataType) for f in envelope.schema] == [
        (f.name, f.dataType) for f in ENVELOPE_SCHEMA
    ]
    run_stream_to_memory(
        parse_envelope(envelope, record=record), f"t_kinesis_{record}", "append"
    )
    got = spark.table(f"t_kinesis_{record}")
    twin = t(spark, sf_dir, record)
    assert got.schema.simpleString() == twin.schema.simpleString()
    assert got.count() == twin.count() > 0
    assert got.exceptAll(twin).count() == 0, "a decoded row differs from its source"
    assert twin.exceptAll(got).count() == 0, "a source row was not decoded"


def test_drains_return_their_progress(spark, sf_dir, chunks, tmp_path):
    """``ingest_to_parquet`` and ``run_pipeline`` return their drain's
    per-trigger progress records: the input rows sum to the rows read
    and landed, and every trigger reports its write, WAL and commit
    phases."""
    from khose_spark.pipeline import run_pipeline

    events = t(spark, sf_dir, "events")
    landed = str(tmp_path / "landed")
    ingest = ingest_to_parquet(
        parse_envelope(kinesis_stream(spark, chunks)),
        landed,
        str(tmp_path / "landed_ckpt"),
    )
    pipeline = run_pipeline(
        spark,
        {
            "source": {"kind": "kinesis_sim", "path": chunks},
            "transform": {"filter": "value > 0"},
            "sink": {
                "path": str(tmp_path / "pipeline"),
                "checkpoint": str(tmp_path / "pipeline_ckpt"),
            },
        },
    )
    for progress in (ingest, pipeline):
        assert progress
        for p in progress:
            assert {"addBatch", "walCommit", "commitOffsets"} <= set(p.durationMs)
    n_events = events.count()
    assert sum(p.numInputRows for p in ingest) == n_events
    assert spark.read.parquet(landed).count() == n_events
    assert sum(p.numInputRows for p in pipeline) == n_events
    assert (
        spark.read.parquet(str(tmp_path / "pipeline")).count()
        == events.filter("value > 0").count()
    )


def test_only_drain_triggers_available_now():
    """Every ``trigger(availableNow=True)`` in the product, the tests,
    the scripts and bench.py is the one inside ``runtime.drain``, so
    every drain returns its progress records."""
    from khose_spark.streaming import runtime

    lines, start = inspect.getsourcelines(drain)
    helper = range(start, start + len(lines))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.path.join(repo, "bench.py")]
    for pattern in ("khose_spark/**/*.py", "tests/**/*.py", "scripts/**/*.py"):
        paths += glob.glob(os.path.join(repo, pattern), recursive=True)
    calls = []
    for path in sorted(paths):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "trigger"
                and any(k.arg == "availableNow" for k in node.keywords)
            ):
                calls.append((os.path.relpath(path, repo), node.lineno))
    home = os.path.relpath(runtime.__file__, repo)
    outside = [c for c in calls if c[0] != home or c[1] not in helper]
    assert not outside, f"drain through runtime.drain instead at {outside}"
    assert len(calls) == 1, calls


def test_stateful_running_spend(spark, sf_dir, chunks):
    """Custom stateful operator's final per-user total == batch sum."""
    out = stateful_running_spend(file_stream(spark, chunks))
    run_stream_to_memory(out, "t_spend", "update")
    # update mode emits one row per (user, batch); the final state is the
    # max cumulative value per user.
    final = (
        spark.table("t_spend").groupBy("user_id").agg(F.max("cum_spend").alias("cum_spend"))
    )
    twin = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("cum_spend"))
    )
    f = {r["user_id"]: r["cum_spend"] for r in final.collect()}
    tw = {r["user_id"]: r["cum_spend"] for r in twin.collect()}
    assert set(tw).issubset(set(f))
    for uid, total in tw.items():
        assert abs(f[uid] - total) < 0.05, f"user {uid}: {f[uid]} != {total}"


def test_stateful_running_spend_tws(spark, sf_dir, chunks):
    """Spark 4 transformWithStateInPandas twin of the stateful spend
    operator: same final per-user totals as the batch aggregation.

    The transformWithState protocol speaks protobuf between the JVM and
    the Python driver worker; without google.protobuf the query crashes
    at init, so this container can only exercise the legacy
    applyInPandasWithState path (covered above)."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithStateInPandas requires protobuf, absent here",
    )
    from khose_spark.streaming.tws import running_spend_tws

    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    try:
        out = running_spend_tws(file_stream(spark, chunks))
        run_stream_to_memory(out, "t_spend_tws", "update")
    finally:
        if prior is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prior)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    final = (
        spark.table("t_spend_tws")
        .groupBy("user_id")
        .agg(F.max("cum_spend").alias("cum_spend"))
    )
    twin = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("cum_spend"))
    )
    f = {r["user_id"]: r["cum_spend"] for r in final.collect()}
    tw = {r["user_id"]: r["cum_spend"] for r in twin.collect()}
    assert set(tw).issubset(set(f))
    for uid, total in tw.items():
        assert abs(f[uid] - total) < 0.05, f"user {uid}: {f[uid]} != {total}"


def test_stream_stream_join_converges(spark, sf_dir, chunks):
    """Watermarked stream-stream interval join emits exactly the pairs
    the batch join produces once both streams drain."""
    from khose_spark.operators.streaming import click_purchase_pairs

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click")
        purchases = df.filter(F.col("event_type") == "purchase")
        return clicks, purchases

    s_clicks, s_purchases = sides(file_stream(spark, chunks))
    stream_pairs = click_purchase_pairs(
        s_clicks.withWatermark("ts", "2 hours"),
        s_purchases.withWatermark("ts", "2 hours"),
    )
    run_stream_to_memory(stream_pairs, "t_ss_join", "append")

    b_clicks, b_purchases = sides(t(spark, sf_dir, "events"))
    assert_frames_equal(
        spark.table("t_ss_join"),
        click_purchase_pairs(b_clicks, b_purchases),
        "stream-stream join",
    )


def test_stream_stream_left_join_emits_unmatched(spark, sf_dir, tmp_path):
    """LEFT OUTER stream-stream join: unmatched clicks must be emitted
    with null purchase ids — but only once the watermark passes their
    join window. A second run appends a far-future sentinel click that
    drags the watermark past every real event, forcing the state flush
    (same two-run checkpoint pattern as the watermark-late-drop test)."""
    import pandas as pd

    from khose_spark.operators.streaming import click_purchase_pairs
    from khose_spark.sources.kinesis_sim import file_stream, stage_event_chunks

    chunks = stage_event_chunks(spark, sf_dir, tag="leftjoin")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    SENTINEL_ID = 10**12

    def run():
        clicks = (
            file_stream(spark, chunks)
            .filter(F.col("event_type") == "click")
            .withWatermark("ts", "2 hours")
        )
        purchases = (
            file_stream(spark, chunks)
            .filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "2 hours")
        )
        c, p = clicks.alias("c"), purchases.alias("p")
        joined = c.join(
            p,
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") > F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 30 MINUTES")),
            "left_outer",
        ).select(
            F.col("c.user_id").alias("user_id"),
            F.col("c.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
        )
        drain(
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    run()  # run 1: inner matches emit; unmatched clicks still in state
    max_ts = t(spark, sf_dir, "events").agg(F.max("ts")).first()[0]

    def sentinel_file(stage: int) -> None:
        # The join's global watermark is the MIN across both sides'
        # watermark nodes, so the sentinel must advance BOTH streams —
        # a click-only sentinel leaves the purchase watermark (and so
        # the global one) pinned at the real data's max. The two rows
        # are > 30 minutes apart so they can't join each other.
        base_ts = pd.Timestamp(max_ts) + pd.Timedelta(days=10 * (stage + 1))
        pd.DataFrame(
            [
                {"event_id": SENTINEL_ID + 2 * stage, "ts": base_ts,
                 "user_id": 0, "event_type": "click", "value": 0.0, "props": "{}"},
                {"event_id": SENTINEL_ID + 2 * stage + 1,
                 "ts": base_ts + pd.Timedelta(hours=1),
                 "user_id": 0, "event_type": "purchase", "value": 0.0, "props": "{}"},
            ]
        ).to_parquet(f"{chunks}/part-zz-s{stage}.parquet", coerce_timestamps="us")

    sentinel_file(0)
    run()  # run 2: both watermark nodes advance at batch END
    sentinel_file(1)
    run()  # run 3: a batch runs against the advanced watermark -> flush

    got = (
        spark.read.parquet(out_dir)
        .filter(F.col("click_id") < SENTINEL_ID)
        .toPandas()
    )
    b_clicks = t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    b_purch = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    c, p = b_clicks.alias("c"), b_purch.alias("p")
    want = c.join(
        p,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") > F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
    ).toPandas()
    assert canon_frame(got) == canon_frame(want)
    assert got["purchase_id"].isna().any()  # unmatched clicks did emit


def test_stream_upsert_converges(spark, sf_dir, chunks):
    """Latest-state (upsert) view maintained as a streaming aggregate in
    complete mode converges to the batch q_stream_upsert_batchsem."""
    from khose_spark.operators.streaming import q_stream_upsert_batchsem

    key = F.struct(F.col("ts"), F.col("event_id"))
    stream = (
        file_stream(spark, chunks)
        .groupBy("user_id", "event_type")
        .agg(
            F.max_by("event_id", key).alias("last_event_id"),
            F.max_by("value", key).alias("last_value"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_versions"),
        )
    )
    run_stream_to_memory(stream, "t_upsert", "complete")
    assert_frames_equal(
        spark.table("t_upsert"),
        q_stream_upsert_batchsem(spark, sf_dir),
        "upsert",
    )


def test_ingest_small_files_control_and_compaction(spark, sf_dir, chunks):
    """The small-files levers end to end: month granularity + coalesce(1)
    bounds files per micro-batch to one per partition-dir; compaction
    rewrites the landing zone to one target-sized file per dir with no
    row loss or duplication."""
    from khose_spark.streaming.runtime import compact_parquet

    base = tempfile.mkdtemp(prefix="khose_compact_")
    try:
        out, ckpt = f"{base}/out", f"{base}/ckpt"
        ingest_to_parquet(
            file_stream(spark, chunks),
            out,
            ckpt,
            partition_granularity="month",
            coalesce_to=1,
        )

        def nfiles(d):
            return sum(
                1 for _, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
            )

        orig = t(spark, sf_dir, "events")
        n_types = orig.select("event_type").distinct().count()
        n_batches = 8  # one per staged chunk file
        assert nfiles(out) <= n_types * n_batches

        compacted = f"{base}/compacted"
        compact_parquet(spark, out, compacted)
        # one file per (event_type, month) partition dir
        n_dirs = (
            spark.read.parquet(out)
            .select("event_type", "d")
            .distinct()
            .count()
        )
        assert nfiles(compacted) == n_dirs
        back = spark.read.parquet(compacted)
        assert back.count() == orig.count()
        assert (
            back.agg(F.sum("event_id")).first()[0]
            == orig.agg(F.sum("event_id")).first()[0]
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_windowed_topk_converges(spark, sf_dir, chunks):
    """Windowed leaderboard: stream maintains the 6h (window, user)
    spend aggregate in complete mode; the rank step runs over the
    materialized sink table and must equal the batch twin end to end."""
    from khose_spark.operators.streaming import (
        rank_topk_spenders,
        windowed_user_spend,
    )

    stream = windowed_user_spend(file_stream(spark, chunks))
    run_stream_to_memory(stream, "t_topk_agg", "complete")
    got = rank_topk_spenders(spark.table("t_topk_agg"))
    want = rank_topk_spenders(
        windowed_user_spend(t(spark, sf_dir, "events"))
    )
    assert_frames_equal(got, want, "windowed topk")


def test_burst_ingest_compaction_under_skew(spark, sf_dir):
    """Burst/skew stress for the ingest sink (VERDICT r05 #5): replay
    the events fixture at 10× where 9 copies arrive as ONE huge chunk
    (the burst) with every event time remapped into a single hot hour —
    so one micro-batch carries ~90% of the volume and one (event_type,
    day) partition set takes ~90% of the rows. The file-count policy
    must hold anyway: coalesce(1)+month granularity bounds landed
    files, compaction rewrites to one file per partition dir (≤32
    total), and no row is lost or duplicated."""
    import time

    orig = t(spark, sf_dir, "events")
    n_orig = orig.count()
    hot_start = orig.agg(
        F.date_trunc("hour", F.min("ts")).alias("h")
    ).first()["h"]

    base = tempfile.mkdtemp(prefix="khose_burst_")
    chunks_dir = f"{base}/chunks"
    os.makedirs(chunks_dir)
    try:
        # trickle: the original fixture as 7 ordered chunk files
        (
            orig.repartitionByRange(7, "event_id")
            .write.mode("overwrite")
            .parquet(chunks_dir)
        )
        # burst: 9 shifted copies, all event times inside the hot hour
        shifted = [
            orig.withColumn("event_id", F.col("event_id") + F.lit(c * 10_000_000))
            .withColumn(
                "ts",
                F.timestamp_add(
                    "SECOND", (F.col("event_id") % 3600).cast("int"), F.lit(hot_start)
                ),
            )
            for c in range(1, 10)
        ]
        burst = shifted[0]
        for s in shifted[1:]:
            burst = burst.unionAll(s)
        burst.coalesce(1).write.mode("append").parquet(chunks_dir)
        # deterministic arrival order: trickle chunks first, burst last
        parts = sorted(
            f for f in os.listdir(chunks_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        base_mtime = int(os.path.getmtime(chunks_dir))
        for i, fname in enumerate(parts):
            p = os.path.join(chunks_dir, fname)
            os.utime(p, (base_mtime + i, base_mtime + i))

        out, ckpt = f"{base}/out", f"{base}/ckpt"
        t0 = time.perf_counter()
        ingest_to_parquet(
            file_stream(spark, chunks_dir),
            out,
            ckpt,
            partition_granularity="month",
            coalesce_to=1,
        )
        drain_sec = time.perf_counter() - t0

        def nfiles(d):
            return sum(
                1 for _, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
            )

        compacted = f"{base}/compacted"
        compact_sec0 = time.perf_counter()
        from khose_spark.streaming.runtime import compact_parquet

        compact_parquet(spark, out, compacted)
        compact_sec = time.perf_counter() - compact_sec0

        back = spark.read.parquet(compacted)
        n_total = 10 * n_orig
        assert back.count() == n_total, "burst ingest lost/duplicated rows"
        assert nfiles(compacted) <= 32, (
            f"{nfiles(compacted)} files after compaction (policy: <=32)"
        )
        # ~90% of rows landed in the hot hour's partition dirs
        hot_day = hot_start.strftime("%Y-%m")
        hot_rows = back.filter(F.col("d") == hot_day).count()
        assert hot_rows >= 9 * n_orig, "burst rows missed the hot partition"
        # throughput floor: an order of magnitude under the measured
        # ~29k rows/s band — catches pathological collapse, not host
        # noise (drain includes 8 micro-batch plans + WAL commits)
        assert n_total / drain_sec > 2_000, (
            f"burst drain collapsed: {n_total / drain_sec:.0f} rows/s"
        )
        print(
            f"# burst: {n_total} rows in {drain_sec:.1f}s "
            f"({n_total / drain_sec:.0f} rows/s), compact {compact_sec:.1f}s, "
            f"{nfiles(out)} -> {nfiles(compacted)} files"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_static_enrich_converges(spark, sf_dir, chunks):
    """Stream-static broadcast enrichment (the khose enrich-during-
    ingest step) must converge to the hash-checked batch twin: each
    micro-batch joins the static customer dim, the running aggregate
    maintains the per-(segment, type) totals."""
    from khose_spark.operators.streaming import (
        enrich_with_customer,
        q_stream_enrich_batchsem,
    )

    enriched = enrich_with_customer(
        file_stream(spark, chunks), t(spark, sf_dir, "customer")
    )
    agg = enriched.groupBy(
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("event_type").alias("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id").alias("_n_users_approx"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("_sum_dec"),
    )
    run_stream_to_memory(agg, "t_enrich", "complete")
    got = (
        spark.table("t_enrich")
        .select(
            "mktsegment",
            "event_type",
            "n_events",
            F.round(F.col("_sum_dec"), 2).cast("double").alias("sum_value"),
        )
    )
    # exact distinct-count isn't incrementally maintainable in complete
    # mode without state explosion, so the STREAM carries the counts +
    # exact-cent sums and the convergence check re-derives n_users from
    # the batch twin's own grouping — counts and sums must match the
    # hash-checked twin exactly.
    twin = q_stream_enrich_batchsem(spark, sf_dir).select(
        "mktsegment",
        "event_type",
        "n_events",
        "sum_value",
    )
    assert_frames_equal(got, twin, "stream-static enrichment")


TEN_X_DIR = "/tmp/khose_scale_sf0.1_x10"


def test_stream_soak_100_batches(spark):
    _soak_body(spark, "/root/testdata/sf0.1")


@pytest.mark.skipif(
    not os.path.exists(os.path.join(TEN_X_DIR, "_SCALED_x10_OK")),
    reason="10x materialization not on disk (bench/verify_sweep builds it)",
)
def test_stream_soak_100_batches_10x(spark):
    """The same soak at bench scale (VERDICT r07 items 5+7): ~1M events
    replayed through the identical 100-chunk / 4-restart protocol, with
    a throughput floor on the ingest sink, plus the session-window and
    stream-stream-join batch twins verified against a full replay of
    the 10x live dir — watermark/state semantics pinned at the scale
    bench times, not just fixture scale."""
    _soak_body(
        spark, TEN_X_DIR, throughput_floor=3000.0, convergence_10x=True
    )


def _soak_body(
    spark,
    soak_sf: str,
    throughput_floor: float | None = None,
    convergence_10x: bool = False,
):
    """Long-run soak (VERDICT r06 item 5): khose's core claim is a
    LONG-LIVED ingest, but every other streaming test is a single
    drain. Replay the events fixture as 100 ordered chunk files
    revealed in 4 waves of 25, each wave drained by a RESTARTED query
    pair over the same checkpoints (availableNow + maxFilesPerTrigger=1
    → one micro-batch per chunk, 100 data batches total; 4 restarts
    exercise WAL/state recovery repeatedly). Asserts the properties
    that only show up over many batches:

    - ≥100 micro-batches actually ran (batchIds continue across
      restarts);
    - the event-time watermark is globally MONOTONE across all batches
      and restarts;
    - state-store size stays BOUNDED: the windowed aggregation's state
      never exceeds the live-horizon window count — watermark eviction
      works — instead of growing with total windows seen;
    - zero file-count drift: after each wave's compaction pass the
      compacted file count equals the partition-dir count (constant
      across waves) even as landed data quadruples;
    - exactly-once: the ingest sink holds every staged row exactly
      once, and the append-mode aggregate emitted every closed window
      exactly once, matching the batch twin.
    """
    import json as _json
    import time

    events = t(spark, soak_sf, "events")
    n_events = events.count()

    base = tempfile.mkdtemp(prefix="khose_soak_")
    staging = f"{base}/staging"
    live = f"{base}/live"
    os.makedirs(live)
    try:
        # Chunk by EVENT TIME, not id: a long-lived ingest reveals files
        # in arrival order, and arrival tracks event time. (At 10x the
        # copy-shifted id space breaks the id~ts correlation the sf0.1
        # fixture happens to have — id-ranged chunks would replay the
        # whole month once per copy, every later copy fully behind the
        # watermark, which is a restart-from-backfill scenario, not a
        # soak.)
        (
            events.repartitionByRange(100, "ts", "event_id")
            .write.mode("overwrite")
            .parquet(staging)
        )
        parts = sorted(
            f for f in os.listdir(staging)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        assert len(parts) == 100
        base_mtime = int(time.time()) - 10_000
        for i, fname in enumerate(parts):
            os.utime(
                os.path.join(staging, fname),
                (base_mtime + i, base_mtime + i),
            )

        agg_out, agg_ckpt = f"{base}/agg_out", f"{base}/agg_ckpt"
        ing_out, ing_ckpt = f"{base}/ing_out", f"{base}/ing_ckpt"

        def nfiles(d):
            return sum(
                1 for _, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
            )

        def ndirs(d):
            return sum(
                1
                for p, _, fs in os.walk(d)
                if any(f.endswith(".parquet") for f in fs)
            )

        progresses: list[dict] = []
        compacted_files: list[int] = []
        compacted_dirs: list[int] = []
        ingest_sec = 0.0
        from khose_spark.streaming.runtime import compact_parquet

        for wave in range(4):
            for fname in parts[wave * 25 : (wave + 1) * 25]:
                shutil.move(os.path.join(staging, fname), live)

            # windowed aggregate with watermark: the state/watermark probe
            agg = (
                file_stream(spark, live, files_per_trigger=1)
                .withWatermark("ts", "2 hours")
                .groupBy(
                    F.window("ts", "1 hour").alias("w"), "event_type"
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .select(
                    F.col("w.start").alias("w_start"),
                    F.col("w.end").alias("w_end"),
                    "event_type",
                    "n",
                )
            )
            wave_progress = drain(
                agg.writeStream.format("parquet")
                .option("path", agg_out)
                .option("checkpointLocation", agg_ckpt)
                .outputMode("append")
            )
            progresses.extend(_json.loads(p.json) for p in wave_progress)

            # exactly-once partitioned ingest sink rides along (coarser
            # batching — throughput config), compacted after every wave
            t_ing = time.perf_counter()
            ingest_to_parquet(
                file_stream(spark, live, files_per_trigger=4),
                ing_out,
                ing_ckpt,
                partition_granularity="month",
                coalesce_to=1,
            )
            ingest_sec += time.perf_counter() - t_ing
            compacted = f"{base}/compacted_{wave}"
            compact_parquet(spark, ing_out, compacted)
            compacted_files.append(nfiles(compacted))
            compacted_dirs.append(ndirs(compacted))

        # --- ≥100 data micro-batches across the 4 restarts
        data_batches = [p for p in progresses if p.get("numInputRows", 0) > 0]
        assert len(data_batches) >= 100, (
            f"only {len(data_batches)} data micro-batches ran"
        )
        assert max(p["batchId"] for p in progresses) >= 99

        # --- watermark monotone across every batch and restart
        wms = [
            p["eventTime"]["watermark"]
            for p in progresses
            if "watermark" in p.get("eventTime", {})
        ]
        wms = [w for w in wms if not w.startswith("1970")]  # pre-init
        assert wms == sorted(wms), "watermark went backwards"
        assert len(wms) >= 90

        # --- state bounded by the live horizon, not total windows seen
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in progresses
            if p.get("stateOperators")
        ]
        total_pairs = (
            events.select(
                F.date_trunc("hour", "ts").alias("h"), "event_type"
            )
            .distinct()
            .count()
        )
        assert max(state_rows) < total_pairs, (
            f"state ({max(state_rows)}) reached total window count "
            f"({total_pairs}) — watermark eviction is not working"
        )

        # --- zero file-count drift under periodic compaction
        assert compacted_files == compacted_dirs, (
            f"compaction left multi-file partition dirs: {compacted_files} "
            f"files vs {compacted_dirs} dirs"
        )
        assert compacted_files[-1] == compacted_files[0], (
            f"compacted file count drifted across waves: {compacted_files}"
        )
        assert compacted_files[-1] <= 32  # the ingest file-count policy

        # --- exactly-once, both sinks
        assert spark.read.parquet(f"{base}/compacted_3").count() == n_events

        emitted = spark.read.parquet(agg_out)
        assert (
            emitted.groupBy("w_start", "event_type")
            .count()
            .filter(F.col("count") > 1)
            .count()
            == 0
        ), "append sink emitted a window twice"
        final_wm = F.to_timestamp(F.lit(wms[-1].replace("T", " ").rstrip("Z")))
        twin = (
            events.groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"),
                "event_type",
                "n",
            )
            .filter(F.col("w_end") <= final_wm)
        )
        assert_frames_equal(
            emitted.filter(F.col("w_end") <= final_wm),
            twin,
            "soak append aggregate",
        )
        # the unemitted tail is only the watermark horizon (~2h+1h)
        n_twin_all = (
            events.select(F.date_trunc("hour", "ts"), "event_type")
            .distinct()
            .count()
        )
        assert twin.count() >= n_twin_all - 5 * len(
            events.select("event_type").distinct().collect()
        )
        if throughput_floor is not None:
            rate = n_events / max(ingest_sec, 1e-9)
            assert rate >= throughput_floor, (
                f"soak ingest throughput {rate:.0f} rows/s under the "
                f"{throughput_floor:.0f} floor ({n_events} rows in "
                f"{ingest_sec:.1f}s)"
            )

        if convergence_10x:
            # VERDICT r07 item 7: the session-window and stream-stream
            # join batchsem twins, replayed over the SAME 10x live dir
            # the soak just drained — convergence pinned at bench scale.
            from khose_spark.operators.streaming import (
                click_purchase_pairs,
                sessionize_batch,
            )

            sess_stream = (
                file_stream(spark, live, files_per_trigger=20)
                .groupBy(
                    F.session_window("ts", "30 minutes").alias("w"),
                    "user_id",
                )
                .agg(F.count(F.lit(1)).alias("n_events"))
                .select(
                    "user_id",
                    F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                        "session_start"
                    ),
                    "n_events",
                )
            )
            run_stream_to_memory(sess_stream, "t_soak10_session", "complete")
            assert_frames_equal(
                spark.table("t_soak10_session"),
                sessionize_batch(events).select(
                    "user_id", "session_start", "n_events"
                ),
                "10x session window",
            )

            def sides(df):
                return (
                    df.filter(F.col("event_type") == "click"),
                    df.filter(F.col("event_type") == "purchase"),
                )

            s_clicks, s_purchases = sides(
                file_stream(spark, live, files_per_trigger=20)
            )
            run_stream_to_memory(
                click_purchase_pairs(
                    s_clicks.withWatermark("ts", "2 hours"),
                    s_purchases.withWatermark("ts", "2 hours"),
                ),
                "t_soak10_ssjoin",
                "append",
            )
            b_clicks, b_purchases = sides(events)
            assert_frames_equal(
                spark.table("t_soak10_ssjoin"),
                click_purchase_pairs(b_clicks, b_purchases),
                "10x stream-stream join",
            )

        print(
            f"# soak[{soak_sf}]: {len(data_batches)} data batches, "
            f"max state {max(state_rows)}/{total_pairs} pairs, "
            f"compacted files per wave {compacted_files}, "
            f"ingest {n_events / max(ingest_sec, 1e-9):.0f} rows/s"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_corpus_refresh_layout_and_idempotence(spark, sf_dir):
    """q_stream_curation_e2e_batchsem's ingest half, asserted at the
    FILE level (the hash-checked relation covers the row/token
    semantics; this covers the layout contract it encodes):

    - landing zone holds every fixture document exactly once
      (manifest-governed read — the exactly-once drain);
    - compaction emits exactly ONE parquet file per lang partition
      (the small-files contract the key pins via its
      ``_metadata.file_path`` count);
    - a re-run from wiped zones reproduces the same counts
      (corpus-refresh idempotence — the production re-run shape)."""
    from khose_spark.operators.stream_curation import run_corpus_refresh

    n_src = t(spark, sf_dir, "documents").count()
    langs = {
        r[0]
        for r in t(spark, sf_dir, "documents").select("lang").distinct().collect()
    }
    land, compacted = run_corpus_refresh(spark, sf_dir)
    try:
        assert spark.read.parquet(land).count() == n_src
        lang_dirs = [
            d for d in os.listdir(compacted) if d.startswith("lang=")
        ]
        assert {d.split("=", 1)[1] for d in lang_dirs} == langs
        for d in lang_dirs:
            files = [
                f
                for f in os.listdir(os.path.join(compacted, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, f"{d}: {len(files)} files after compaction"
        assert spark.read.parquet(compacted).count() == n_src
        # Idempotent re-run: wiped zones, same landed corpus.
        land2, compacted2 = run_corpus_refresh(spark, sf_dir)
        assert spark.read.parquet(land2).count() == n_src
        assert spark.read.parquet(compacted2).count() == n_src
    finally:
        for d in (land, compacted):
            shutil.rmtree(d, ignore_errors=True)
