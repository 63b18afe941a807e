"""Tests of the benchmark itself: run with ``python3 -m pytest perfbench -q``
from the repository root. They take a few minutes (one traced run per
workload on the tiny fixture)."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402
from layers import percentile, sql_metric_value  # noqa: E402

TINY = os.path.join(HERE, "data", "sf0.001")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def test_benchmark_json_matches_harness():
    assert [(m["name"], m["unit"]) for m in BENCHMARK["end_to_end"]] == list(harness.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["per_layer"]] == list(
        harness.PER_LAYER
    )
    assert [w["name"] for w in BENCHMARK["workloads"]] == ["ingest", "relational", "curation"]
    assert len(BENCHMARK["per_layer"]) <= 128
    setup = next(m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])


def test_sql_metric_value_parses_spark_formats():
    assert sql_metric_value("Some(1,500)") == 1500
    assert sql_metric_value("Some(114.5 KiB)") == 114.5 * 1024
    assert sql_metric_value("Some(1.9 s)") == 1.9
    assert sql_metric_value("Some(209 ms)") == pytest.approx(0.209)
    assert sql_metric_value("Some(total (min, med, max)\n2.0 MiB (1.0 MiB, ...))") == 2 * 2**20
    assert sql_metric_value("None") is None


def test_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    assert percentile(xs, 0.9) == pytest.approx(90.1)
    # 20 samples support only the median for a requested p90.
    assert percentile(xs[:20], 0.9) == percentile(xs[:20], 0.5) == 10.5


# -- noop keeps the full plan --------------------------------------------

_OP = re.compile(r"^[\s:+\-|]*([A-Za-z][A-Za-z0-9]*)")


def _operators(plan: str) -> Counter:
    """Multiset of operator names in a logical plan's tree string."""
    ops = Counter()
    for line in plan.splitlines():
        m = _OP.match(line)
        if m:
            ops[m.group(1)] += 1
    return ops


def _optimized_section(description: str) -> str:
    part = description.split("== Optimized Logical Plan ==", 1)[1]
    return part.split("== Physical Plan ==", 1)[0]


@pytest.fixture(scope="module")
def spark():
    tmp = tempfile.mkdtemp(prefix="perfbench_test_")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("KHOSE_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={tmp}/warehouse "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    tempfile.tempdir = tmp
    from khose_spark import memo, registry
    from khose_spark.session import get_spark

    session = get_spark("perfbench-test")
    registry.load_all()
    session.conf.set("spark.sql.ui.explainMode", "extended")
    yield session
    memo.release_all()
    session.stop()
    tempfile.tempdir = None
    subprocess.run(["rm", "-rf", tmp], check=False)


def test_noop_write_keeps_every_operator(spark):
    """Timing a key into the noop sink produces its whole output: the
    write's optimized plan keeps every operator of the key's own
    optimized plan. ``count()`` does not, for at least one chosen key."""
    from khose_spark import registry

    sql = spark._jsparkSession.sharedState().statusStore()
    lost, pruned_by_count = {}, []
    for key in harness.RELATIONAL_KEYS + harness.CURATION_KEYS:
        df = registry.QUERIES[key](spark, TINY)
        full = _operators(df._jdf.queryExecution().optimizedPlan().toString())
        counted = _operators(df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString())
        if any(counted[op] < n for op, n in full.items()):
            pruned_by_count.append(key)
        mark = sql.executionsCount()
        df.write.format("noop").mode("overwrite").save()
        execs = sql.executionsList(mark, sql.executionsCount() - mark).iterator()
        written = Counter()
        while execs.hasNext():
            desc = execs.next().physicalPlanDescription()
            if "OverwriteByExpression" in desc:
                written = _operators(_optimized_section(desc))
        missing = {op: n - written[op] for op, n in full.items() if written[op] < n}
        if missing:
            lost[key] = missing
    assert not lost, f"noop write dropped operators: {lost}"
    assert pruned_by_count, "count() pruned no chosen key; the check above proves nothing"


# -- traced run reports every layer ----------------------------------------

# Layers each workload must exercise (non-zero in its traced run).
EXERCISED = {
    "ingest": [
        "kinesis_sim.stage_s",
        "kinesis_sim.staged_bytes",
        "runtime.drain_s",
        "runtime.triggers",
        "runtime.rows_landed",
        "runtime.files_landed",
        "runtime.phase.addBatch_ms",
        "runtime.phase.walCommit_ms",
        "runtime.compact_s",
        "runtime.compact_shuffle_bytes",
        "pipeline.run_s",
        "pipeline.triggers",
        "pipeline.trigger_p90_ms",
        "pipeline.rows_out",
        "pipeline.kept_ratio",
        "tables.scan_files",
        "tables.scan_rows",
    ],
    "relational": [
        "tables.scan_files",
        "tables.scan_bytes",
        "tables.scan_rows",
        *(
            f"operators.{fam}.{field}"
            for fam in ("tpch", "join", "agg", "win", "sort", "ts", "dq")
            for field in ("wall_s", "cpu_s", "jobs")
        ),
    ],
    "curation": [
        *(
            f"operators.{fam}.{field}"
            for fam in ("llm", "graph", "udf")
            for field in ("wall_s", "cpu_s", "jobs")
        ),
        "vecexec.python_worker_s",
        "vecexec.python_bytes_sent",
        "vecexec.python_rows_out",
        "memo.persisted_rdds",
        "memo.pinned_mb",
    ],
}


@pytest.mark.parametrize("workload", ["ingest", "relational", "curation"])
def test_traced_run_reports_every_layer_metric(workload):
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", "1",
            "--seconds", "1",
            "--trace", "1",
            "--base", os.path.relpath(TINY, ROOT),
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in BENCHMARK["per_layer"]}
    zero = [name for name in EXERCISED[workload] if not metrics[name]["value"] > 0]
    assert not zero, f"{workload}: layers not measured: {zero}"
    assert metrics["trace.spans"]["value"] > 0
    assert metrics["trace.overhead_ratio"]["value"] > 0
