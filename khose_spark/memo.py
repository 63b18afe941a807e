"""The session artifact store: every heavy intermediate the board reuses
across registered keys lives here, under one key and one lifecycle.

Entries are keyed ``(applicationId, sf_dir, name)`` and created by
``get(spark, name, sf_dir, build)``, which returns the stored value or
runs ``build()`` once. Four kinds of value share the call:

- checkpointed / persisted relations (doc shingles, MinHash signatures,
  trade edges, capped pair stats, the k-NN backbone);
- catalog-table artifacts (the PQ indexes), whose builds claim their
  tables with ``table`` and their directories with ``temp_dir``;
- plain driver values (the fixed-k Lloyd centroid lists);
- fixture-table schemas (``tables.t``), named ``schema:{path}`` with a
  file fingerprint of the path in the ``sf_dir`` slot, so a rewrite at
  the same path is a miss that evicts the stale schema.

Lifecycle rules, the same for every entry:

- **LRU-of-one sf_dir per name**: building ``name`` for a new sf_dir
  first releases every other entry of that name, so a 10x scaling block
  or a test sweeping fixtures never pins two corpora at once.
- **No stopped applications**: any miss also releases the entries of
  every other applicationId. A process has one live SparkContext, so
  those entries are dead, and each holds its session, which would keep
  the stopped context's JVM objects reachable (a set-up that restarts
  the session and reads tables through ``tables.t`` would otherwise
  keep one context per restart).
- **Deterministic release**: ``release_all()`` frees every entry NOW —
  unpersists its storage blocks, drops its catalog tables and removes
  its directories, and removes the scratch root (below). bench.py
  calls it after the timed loop, ``plancheck.reset_plan_state`` before
  every plan render.
- **No partial artifacts**: if ``build`` raises, the blocks, tables and
  directories it had created are removed before the error propagates.

Scratch files: ``scratch(sf_dir, name)`` names a directory under this
process's root ``$TMPDIR/khose_scratch_<pid>`` for the files a key
writes and reads back (sinks, staged stream chunks, landing zones).
``release_all`` removes the root, so no caller may hold a scratch path
across it. An ``atexit`` hook removes the root and every entry's
directories (files only: the JVM may be gone), so a process that never
calls ``release_all`` (the CLI, a grading driver) leaves nothing behind.

Mechanics: ``checkpoint(df)`` is the engine's one eager
materialization: it hands ``df`` to every hook in ``CHECKPOINT_HOOKS``
(``plancheck.record_checkpoints`` registers one), then returns
``df.localCheckpoint()``. ``get`` does not rely on it to find blocks: a
local checkpoint persists an *internal* RDD the returned DataFrame does
not expose, and some builds (``_fixed_lloyd``) also materialize
``persist()``-ed relations, so ``get`` snapshots
``sc.getPersistentRDDs()`` around ``build`` and records the RDDs that
appeared and no other entry owns — builds may nest (the signatures
build reads the shingle memo), and each block belongs to the innermost
entry that created it. Builds are driver-sequential, like every query
path. On a real cluster the relations would be reliable checkpoints or
written tables — a local checkpoint is lost with an executor, and
``checkpoint`` is the one function that choice would change; see
OPTIMIZATION_r14.md for the production posture.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from dataclasses import dataclass, field
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

V = TypeVar("V")


@dataclass
class _Entry:
    spark: SparkSession
    value: object = None
    rdds: dict = field(default_factory=dict)  # RDD id -> JavaRDD handle
    tables: list = field(default_factory=list)
    dirs: list = field(default_factory=list)


_ENTRIES: dict[tuple[str, str, str], _Entry] = {}
# Entries whose build is running, innermost last: ``table``/``temp_dir``
# attach what they create to the top one.
_BUILDING: list[_Entry] = []
# Callables run on each DataFrame ``checkpoint`` is about to materialize.
CHECKPOINT_HOOKS: list[Callable[[DataFrame], None]] = []


def checkpoint(df: DataFrame) -> DataFrame:
    """``df`` eagerly materialized. Every hook in ``CHECKPOINT_HOOKS``
    sees ``df`` first, while its plan is still the one about to execute.
    In method chains: ``.transform(checkpoint)``."""
    for hook in CHECKPOINT_HOOKS:
        hook(df)
    return df.localCheckpoint()


def _persistent_rdds(spark) -> dict:
    """id -> JavaRDD of every RDD the JVM currently holds persisted."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i): jmap.get(i) for i in jmap.keySet().toArray()}


def get(spark, name: str, sf_dir: str, build: Callable[[], V]) -> V:
    """The session's ``name`` artifact for ``sf_dir``, built on first use.

    On a miss, releases the other ``name`` entries (LRU-of-one) and
    every entry of a stopped application, runs ``build()`` and records
    the persisted RDDs, catalog tables and directories it created, so
    ``release_all`` can free them."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    hit = _ENTRIES.get(key)
    if hit is not None:
        return hit.value
    for old in [k for k in _ENTRIES if k[2] == name or k[0] != app]:
        _free(_ENTRIES.pop(old))
    entry = _Entry(spark)
    before = set(_persistent_rdds(spark))
    _BUILDING.append(entry)
    try:
        entry.value = build()
    except BaseException:
        entry.rdds = _new_rdds(spark, before)
        _free(entry)
        raise
    finally:
        _BUILDING.pop()
    entry.rdds = _new_rdds(spark, before)
    _ENTRIES[key] = entry
    return entry.value


def _new_rdds(spark, before: set[int]) -> dict:
    """Persisted RDDs that appeared since ``before`` and that no stored
    entry owns (a nested build's blocks stay with that build's entry)."""
    owned = {i for e in _ENTRIES.values() for i in e.rdds}
    return {
        i: h
        for i, h in _persistent_rdds(spark).items()
        if i not in before and i not in owned and h is not None
    }


def table(name: str) -> str:
    """Claim catalog table ``name`` for the entry being built: any stale
    table of that name is dropped now, and the table on release."""
    entry = _BUILDING[-1]
    entry.spark.sql(f"DROP TABLE IF EXISTS {name}")
    entry.tables.append(name)
    return name


def temp_dir(prefix: str) -> str:
    """A fresh directory owned by the entry being built, removed with it."""
    entry = _BUILDING[-1]
    path = tempfile.mkdtemp(prefix=prefix)
    entry.dirs.append(path)
    return path


def _free(entry: _Entry) -> None:
    """Unpersist, drop and remove everything ``entry`` holds. Covers both
    relation styles: ``persist()`` entries (cached in the CacheManager,
    invisible to the RDD snapshot) free via ``DataFrame.unpersist``;
    ``checkpoint`` entries via their tracked RDD handles."""
    if isinstance(entry.value, DataFrame):
        try:
            entry.value.unpersist()
        except Exception:  # noqa: BLE001 — context gone / already cleaned
            pass
    for h in entry.rdds.values():
        try:
            h.unpersist(False)
        except Exception:  # noqa: BLE001 — context gone / already cleaned
            pass
    for name in entry.tables:
        try:
            entry.spark.sql(f"DROP TABLE IF EXISTS {name}")
        except Exception:  # noqa: BLE001 — context gone
            pass
    for path in entry.dirs:
        shutil.rmtree(path, ignore_errors=True)


def _tmp_root() -> str:
    return os.path.join(tempfile.gettempdir(), f"khose_scratch_{os.getpid()}")


def scratch(sf_dir: str, name: str) -> str:
    """Path of scratch directory ``name`` for ``sf_dir`` under this
    process's scratch root; the caller creates and overwrites it."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(_tmp_root(), f"{name}_{tag}")


def release_all() -> None:
    """Release every entry in the store and remove the scratch root."""
    while _ENTRIES:
        _free(_ENTRIES.pop(next(iter(_ENTRIES))))
    shutil.rmtree(_tmp_root(), ignore_errors=True)


@atexit.register
def _remove_files_at_exit() -> None:
    for entry in _ENTRIES.values():
        for path in entry.dirs:
            shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(_tmp_root(), ignore_errors=True)
