"""khose_spark.scaling — the Nx fixture scale-up behind bench.py's
scaling proof. The properties that make the proof honest:

1. Conservation: factor N multiplies every fact-table row count by
   exactly N and leaves dimensions untouched.
2. Key disjointness: copy-shifted primary keys never collide.
3. Decorrelation: copies are NOT near-duplicates of each other —
   cross-copy shingle Jaccard stays far below every dedup threshold,
   so dedup outputs (and costs) scale linearly like a genuinely grown
   corpus, not quadratically like a cloned one.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from khose_spark.scaling import DIM_TABLES, FACT_KEYS, ensure_scale_dir


def test_scale_dir_properties(spark, sf_dir):
    dest = tempfile.mkdtemp(prefix="khose_scaletest_")
    try:
        out = ensure_scale_dir(spark, sf_dir, dest, factor=3)
        for tname in DIM_TABLES:
            a = spark.read.parquet(f"{sf_dir}/{tname}.parquet").count()
            b = spark.read.parquet(f"{out}/{tname}.parquet").count()
            assert a == b, f"dim {tname} changed cardinality"
        for tname, keys in FACT_KEYS.items():
            base = spark.read.parquet(f"{sf_dir}/{tname}.parquet")
            big = spark.read.parquet(f"{out}/{tname}.parquet")
            assert big.count() == 3 * base.count(), tname
            k = keys[0]
            assert (
                big.select(k).distinct().count()
                == 3 * base.select(k).distinct().count()
            ), f"{tname}.{k} copies collide"

        # decorrelation: max cross-copy 3-shingle Jaccard between a doc
        # and its copy-shifted twin stays far under the 0.7/0.8 dedup
        # thresholds (the tag token breaks 3 of every 4 windows)
        from khose_spark.operators.llm import shingles

        docs = spark.read.parquet(f"{out}/documents.parquet")
        sh = shingles(docs).withColumn(
            "orig", F.col("doc_id") % 1_000_000_000
        )
        pair_overlap = (
            sh.alias("a")
            .join(
                sh.alias("b"),
                (F.col("a.orig") == F.col("b.orig"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("a.shingle") == F.col("b.shingle")),
            )
            .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        jac = (
            pair_overlap.join(sizes.withColumnRenamed("doc_id", "da"), "da")
            .withColumnRenamed("n", "na")
            .join(sizes.withColumnRenamed("doc_id", "db"), "db")
            .withColumnRenamed("n", "nb")
            .select(
                (
                    F.col("n_common")
                    / (F.col("na") + F.col("nb") - F.col("n_common"))
                ).alias("j")
            )
        )
        max_j = jac.agg(F.max("j")).first()[0]
        assert max_j is not None and max_j < 0.5, (
            f"cross-copy Jaccard {max_j} — copies are near-duplicates, "
            "dedup costs would scale quadratically"
        )

        # embeddings stay unit-consistent: rotation preserves the norm
        emb = spark.read.parquet(f"{out}/embeddings.parquet")
        norm = F.sqrt(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x * x
            )
        )
        big_norms = emb.withColumn(
            "orig", F.col("vec_id") % 1_000_000_000
        ).groupBy("orig").agg(
            F.round(F.max(norm) - F.min(norm), 6).alias("spread")
        )
        assert big_norms.agg(F.max("spread")).first()[0] <= 1e-4
    finally:
        shutil.rmtree(dest, ignore_errors=True)


def test_clustered_dir_properties(spark, sf_dir):
    """Honesty gate for the clustered-embedding twin (round 8): the
    geometry claims bench's recall_clustered block rides on —
    determinism, unit norms, genuine cluster separation, and SPREAD
    within-cluster distances (the 1-D manifold that makes top-3 a
    quantizer-resolvable notion)."""
    import numpy as np

    from khose_spark.scaling import ensure_clustered_dir

    dest = tempfile.mkdtemp(prefix="khose_clustertest_")
    dest2 = tempfile.mkdtemp(prefix="khose_clustertest2_")
    try:
        out = ensure_clustered_dir(spark, sf_dir, dest, n_clusters=8)
        emb = spark.read.parquet(f"{out}/embeddings.parquet")
        base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        # row/column conservation; every other table readable via link
        assert emb.count() == base.count()
        assert emb.columns == base.columns
        assert (
            spark.read.parquet(f"{out}/documents.parquet").count()
            == spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        )

        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        # unit norms
        norms = np.linalg.norm(mat, axis=1)
        assert np.abs(norms - 1.0).max() < 1e-5

        # determinism: a rebuild in a fresh dir is value-identical
        out2 = ensure_clustered_dir(spark, sf_dir, dest2, n_clusters=8)
        rows2 = spark.read.parquet(f"{out2}/embeddings.parquet").select(
            "vec_id", "embedding"
        ).collect()
        m2 = {r["vec_id"]: r["embedding"] for r in rows2}
        for r in rows[:50]:
            assert list(m2[r["vec_id"]]) == list(r["embedding"])

        # cluster structure: mean within-cluster cosine far above
        # cross-cluster (sample to keep the test O(sample^2))
        sel = ids < 400
        sids, smat = ids[sel], mat[sel]
        cos = smat @ smat.T
        same = (sids[:, None] % 8) == (sids[None, :] % 8)
        off = ~np.eye(len(sids), dtype=bool)
        within = cos[same & off].mean()
        across = cos[~same].mean()
        assert within > 0.8, f"within-cluster cosine too low: {within}"
        assert across < 0.4, f"clusters not separated: {across}"

        # spread: within-cluster pairwise distances must NOT
        # concentrate — the manifold term gives a wide spread
        d = np.sqrt(np.maximum(0, 2 - 2 * cos[same & off]))
        assert d.max() > 3 * max(d.min(), 1e-6), (
            f"within-cluster distances concentrate: min={d.min()} "
            f"max={d.max()}"
        )
    finally:
        shutil.rmtree(dest, ignore_errors=True)
        shutil.rmtree(dest2, ignore_errors=True)


def test_srp_band_width_law(spark):
    """The SRP band-width scale law as a measurement (VERDICT r07 item
    6): candidate pairs ~ n_bands * n^2 / 2^(b+1), so going from 4-bit
    bands (4 bands, 16 buckets each) to 8-bit bands (2 bands, 256
    buckets) must shrink the candidate set by ~(4/2)*(256/16) = 32x.
    Runs on the 10x dir bench materializes (n = 20k vectors, where the
    law dominates fixed effects); skips if it isn't on disk."""
    import os

    import pytest

    ten_x = "/tmp/khose_scale_sf0.1_x10"
    if not os.path.exists(os.path.join(ten_x, "_SCALED_x10_OK")):
        pytest.skip("10x materialization not on disk (bench builds it)")
    from khose_spark.operators.similarity import srp_candidates

    c4 = srp_candidates(spark, ten_x, band_bits=4)[0].count()
    c8 = srp_candidates(spark, ten_x, band_bits=8)[0].count()
    assert c8 > 0, "8-bit bands found no candidates at 20k vectors"
    ratio = c4 / c8
    # 32x predicted; generous tolerance covers non-uniform code mass
    # and cross-band dedup, while still rejecting 'no effect' (ratio~1)
    # and 'quadratic collapse' (ratio >> 128)
    assert 8 <= ratio <= 128, (
        f"band-width law violated: cand(b=4)={c4} cand(b=8)={c8} "
        f"ratio={ratio:.1f}, expected ~32"
    )


def test_hard_twin_geometry(spark, sf_dir):
    """The hard clustered twin (noise=0.33) keeps REAL cluster signal
    (within-cluster cosine above cross-cluster) while blurring the
    boundary enough that the signal is no longer the easy twin's —
    the property that makes its routed-recall gate non-saturated."""
    import numpy as np

    from khose_spark.scaling import ensure_clustered_dir

    dest = tempfile.mkdtemp(prefix="khose_hardtwintest_")
    try:
        out = ensure_clustered_dir(
            spark, sf_dir, dest, n_clusters=8, noise=0.33
        )
        emb = spark.read.parquet(f"{out}/embeddings.parquet")
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        assert np.abs(norms - 1.0).max() < 1e-5
        sel = ids < 400
        sids, smat = ids[sel], mat[sel]
        cos = smat @ smat.T
        same = (sids[:, None] % 8) == (sids[None, :] % 8)
        off = ~np.eye(len(sids), dtype=bool)
        within = cos[same & off].mean()
        across = cos[~same].mean()
        # still clustered ...
        assert within - across > 0.15, (
            f"hard twin lost its cluster signal: within={within:.3f} "
            f"across={across:.3f}"
        )
        # ... but materially blurred vs the easy twin's >0.8 / <0.4 gap
        assert within < 0.7, (
            f"hard twin not actually hard: within={within:.3f} "
            "(easy-twin territory — noise knob had no effect?)"
        )
    finally:
        shutil.rmtree(dest, ignore_errors=True)
