"""SparkSession factory and per-query session preparation.

Determinism laws (SURVEY.md §0.2, §4.2.5): the session MUST run in UTC
(timestamp hashing vs the DuckDB oracle breaks otherwise) and with AQE
on. ``prep_session`` applies the runtime-settable subset to a session we
did not create (the driver passes its own session into ``queries()``).
"""

from __future__ import annotations

import os
import sys
import warnings

from pyspark import cloudpickle
from pyspark.sql import SparkSession

# Runtime-settable confs applied to every session (ours or the driver's).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS), which Spark's parquet reader
    # rejects by default; read as long and convert (tables.t handles it).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture scale (sf<=0.1) fits comfortably in 32 partitions; AQE
    # coalesces further. At 100 TB this would be sized to cluster cores.
    "spark.sql.shuffle.partitions": os.environ.get("KHOSE_SHUFFLE_PARTITIONS", "32"),
}

# Entries of Spark's JVM-wide cache of compiled generated classes
# (static: read once per JVM, at its first compile). Spark's default of
# 100 holds less than one pass of the board: a perfbench pass compiles
# 108 distinct classes for the relational keys and about 190 for
# curation, and a sweep of all 463 keys at sf0.001 compiles about 5,700.
# At 100 every warm pass evicts and recompiles what the pass before it
# compiled: a second sweep in one JVM compiled 8,195 classes at 100 and
# 135-205 at this size, for 45 MB more metaspace and 187 MB more heap
# after GC. The cache holds only what a session compiles, so a smaller
# working set pays less.
_CODEGEN_CACHE_MAX_ENTRIES = 8192


def get_spark(app_name: str = "khose-spark") -> SparkSession:
    """Create (or get) a local SparkSession with the engine's defaults.

    Static confs, such as the codegen cache size, apply only when this
    call creates the JVM's first session; ``prep_session`` cannot set
    them on a session someone else created."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("KHOSE_MASTER", f"local[{cpus}]"))
        .config("spark.driver.memory", os.environ.get("KHOSE_DRIVER_MEMORY", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    prep_session(spark)
    return spark


# Confs whose effective value is determinism-critical: a silent failure
# to set these makes every timestamp/decimal-hashing query diverge from
# the DuckDB oracle with no diagnostic.
_CRITICAL_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def prep_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable determinism/perf confs to an existing session.

    Static confs are out of its reach: a driver-owned session keeps its
    own codegen cache size (``_CODEGEN_CACHE_MAX_ENTRIES`` applies only
    to sessions ``get_spark`` creates).

    After applying, read the determinism-critical keys back and warn
    loudly if the effective value diverges (e.g. a driver-provided
    session that locks its timezone) — parity failures are otherwise
    undiagnosable.

    Also ships ``khose_spark`` functions to Python workers BY VALUE:
    the package may be importable on the driver only (its directory on
    ``sys.path`` but not on the workers' ``PYTHONPATH``), and a kernel
    pickled by reference would fail there with ModuleNotFoundError."""
    cloudpickle.register_pickle_by_value(sys.modules["khose_spark"])
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by cluster admin
            pass
    for k in _CRITICAL_CONFS:
        want = _RUNTIME_CONFS[k]
        try:
            got = spark.conf.get(k)
        except Exception:  # pragma: no cover
            got = None
        if got != want:  # pragma: no cover - only on locked sessions
            warnings.warn(
                f"prep_session: determinism-critical conf {k}={got!r} "
                f"(wanted {want!r}) could not be applied; oracle "
                "hash-parity WILL break for affected queries",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark
