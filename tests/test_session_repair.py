"""prep_session hostile-session repair (SURVEY.md §0.2 determinism laws).

The driver hands queries ITS OWN SparkSession, which may arrive with any
timezone, AQE off, or Arrow off. Every registered query routes through
prep_session (registry.query wraps the callable), so these laws must
hold no matter how hostile the incoming session config is — this suite
sabotages the shared session, proves one registered-query invocation
repairs it, and restores nothing by hand (repair IS the contract).
"""

from __future__ import annotations

import pytest

from khose_spark import registry
from khose_spark.session import prep_session

registry.load_all()

_SABOTAGE = {
    "spark.sql.session.timeZone": "America/New_York",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
}

_EXPECT = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


@pytest.mark.parametrize("conf,expected", sorted(_EXPECT.items()))
def test_registered_query_repairs_hostile_session(
    spark, sf_dir, conf, expected
):
    for k, v in _SABOTAGE.items():
        spark.conf.set(k, v)
    # Any registered query must route through prep_session.
    registry.QUERIES["q_scan_count"](spark, sf_dir)
    assert spark.conf.get(conf) == expected


def test_prep_session_is_idempotent(spark):
    prep_session(spark)
    before = {k: spark.conf.get(k) for k in _EXPECT}
    prep_session(spark)
    after = {k: spark.conf.get(k) for k in _EXPECT}
    assert before == after == _EXPECT


def test_repair_fixes_timestamp_hashing(spark, sf_dir):
    """The concrete failure the tz law prevents: a non-UTC session
    formats fixture timestamps differently, silently corrupting every
    date-keyed hash. Run the same date projection under sabotage and
    assert the repaired session yields the UTC rendering."""
    from pyspark.sql import functions as F

    from khose_spark.tables import t

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    prep_session(spark)
    row = (
        t(spark, sf_dir, "events")
        .select(F.date_format(F.min("ts"), "yyyy-MM-dd HH").alias("d"))
        .collect()[0]
    )
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # fixture events start 2024-01-01 00:xx UTC; a New-York session
    # would render 2023-12-31 19.
    assert row.d.startswith("2024-01-01"), row.d


def test_workers_import_nothing_from_the_working_directory(sf_dir, tmp_path):
    """Kernel keys run when the package is importable on the driver only:
    a process whose working directory is not the repository, with the
    repository on its own sys.path but not on PYTHONPATH, still runs an
    Arrow-kernel key on its Python workers."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from khose_spark import memo, registry
from khose_spark.session import get_spark
registry.load_all()
spark = get_spark("khose-workdir-test")
try:
    rows = registry.QUERIES["q_llm_kmeans_fixedk"](spark, {sf_dir!r}).collect()
    print("ROWS", len(rows))
finally:
    memo.release_all()
    spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        TMPDIR=str(tmp_path),
        SPARK_GRAFT_CPUS="2",
        KHOSE_DRIVER_MEMORY="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 64" in proc.stdout
