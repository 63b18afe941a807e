"""The session artifact store (khose_spark.memo): releasing it leaves no
index directory, catalog table or pinned block behind, and neither does
a build that fails partway."""

from __future__ import annotations

import ast
import glob
import inspect
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from khose_spark import memo
from khose_spark.operators import (
    dedup_audit,
    graph,
    scans,
    similarity,
    textindex,
)
from khose_spark.operators import similarity_fixedk as fk

_INDEX_PREFIXES = ("pq", "ivfpq")


def _index_dirs() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "khose_*pq*")))


def _index_tables(spark) -> set[str]:
    return {
        tb.name
        for tb in spark.catalog.listTables()
        if tb.name.startswith(_INDEX_PREFIXES)
    }


def _persisted_ids(spark) -> set[int]:
    return set(memo._persistent_rdds(spark))


def test_release_all_leaves_no_artifacts(spark, sf_dir):
    memo.release_all()
    dirs_before = _index_dirs()
    build = similarity.build_pq_index
    build(spark, sf_dir, "pq", similarity.encode_pq_sampled)
    build(spark, sf_dir, "pqf", fk.encode_pq_fixedk)
    build(
        spark, sf_dir, "ivfpqf", fk.encode_ivfpq_fixedk, partition_by="cid"
    )
    dedup_audit._det_signatures(spark, sf_dir)
    graph._knn_backbone(spark, sf_dir)
    assign, _cent = fk._fixed_lloyd(spark, sf_dir)
    assign.unpersist()  # the consumer's half of the Lloyd contract
    scans.q_sink_bucketed_join(spark, sf_dir)

    assert len(_index_dirs() - dirs_before) == 3
    assert len(_index_tables(spark)) == 6
    pinned = {i for e in memo._ENTRIES.values() for i in e.rdds}
    assert pinned, "checkpoint memos recorded no RDD blocks"
    probe = memo.scratch(sf_dir, "probe")
    os.makedirs(probe)

    memo.release_all()
    assert _index_dirs() - dirs_before == set()
    assert _index_tables(spark) == set()
    assert not pinned & _persisted_ids(spark)
    assert not memo._ENTRIES
    assert not os.path.exists(os.path.dirname(probe))
    # No catalog table is left over deleted scratch files.
    assert not [
        tb.name for tb in spark.catalog.listTables() if "_bj_" in tb.name
    ]


def test_failed_build_leaves_nothing_behind(spark, sf_dir):
    dirs_before = _index_dirs()
    rdds_before = _persisted_ids(spark)

    def encode(spark, sf_dir):
        codes, cb = similarity.encode_pq_sampled(spark, sf_dir)
        # The codes table and a checkpoint land before the codebook
        # write fails.
        boom = F.expr("raise_error('codebook write failed')")
        return memo.checkpoint(codes), cb.withColumn("boom", boom)

    with pytest.raises(Exception, match="codebook write failed"):
        similarity.build_pq_index(spark, sf_dir, "pqboom", encode)

    assert _index_dirs() - dirs_before == set()
    assert not {tb for tb in _index_tables(spark) if "boom" in tb}
    assert _persisted_ids(spark) <= rdds_before
    assert not [k for k in memo._ENTRIES if k[2] == "pqboom"]


def test_miss_frees_entries_of_a_stopped_application(spark, tmp_path):
    # A stopped SparkContext's entries are dead, and each one holds its
    # session, which keeps that context's JVM objects reachable.
    stale = tmp_path / "stale"
    stale.mkdir()
    key = ("local-stopped", "sf", "stale")
    memo._ENTRIES[key] = memo._Entry(spark, value=1, dirs=[str(stale)])

    assert memo.get(spark, "fresh", "sf", lambda: 2) == 2
    assert key not in memo._ENTRIES
    assert not stale.exists()
    memo.release_all()


def test_doc_count_is_a_store_entry(spark, sf_dir):
    memo.release_all()
    textindex.q_llm_bpe_merges(spark, sf_dir)
    assert [k for k in memo._ENTRIES if k[2] == "doc_count"]
    memo.release_all()
    assert not [k for k in memo._ENTRIES if k[2] == "doc_count"]


def test_only_memo_checkpoint_calls_local_checkpoint():
    """Every eager materialization goes through ``memo.checkpoint``. A
    direct ``localCheckpoint`` would lock a bare ``Scan ExistingRDD``
    stub with no recorded interior, and its work would slip past the
    cartesian, BNLJ and shuffle gates."""
    lines, start = inspect.getsourcelines(memo.checkpoint)
    helper = range(start, start + len(lines))
    pkg = os.path.dirname(os.path.abspath(memo.__file__))
    refs = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "localCheckpoint":
                refs.append((os.path.relpath(path, pkg), node.lineno))
    outside = [r for r in refs if r[0] != "memo.py" or r[1] not in helper]
    assert not outside, f"call memo.checkpoint instead at {outside}"
    assert len(refs) == 1, refs


def test_process_exit_leaves_no_scratch(sf_dir, tmp_path):
    """A process that never calls ``release_all`` (the CLI, a grading
    driver) still leaves no ``khose_*`` file in its temp dir: the exit
    hook removes the scratch root (sink files, staged chunks, landing
    zones) and every entry's directories (the PQ index)."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import os, sys
sys.path.insert(0, {repo!r})
from khose_spark import registry
from khose_spark.session import get_spark
registry.load_all()
spark = get_spark("khose-exit-test")
for key in ("q_llm_ann_pq_indexed_fixedk", "q_stream_curation_e2e_batchsem",
            "q_sink_parquet_roundtrip"):
    registry.QUERIES[key](spark, {sf_dir!r}).collect()
print("BEFORE EXIT", sorted(n for n in os.listdir({str(tmp_path)!r})
                            if n.startswith("khose_")))
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
    assert "khose_pqf_" in proc.stdout, proc.stdout  # there was something to remove
    assert not glob.glob(os.path.join(tmp_path, "khose_*"))
