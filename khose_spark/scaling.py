"""Deterministic N× scale-up of a fixture directory — the empirical
backing for the "would this survive 100 TB" posture.

The plan gates (tests/test_plans.py, plans.lock.json) prove the SHAPE of
every query is scale-safe; this module proves the MEASUREMENT: bench.py
re-times the heavy tail of the suite on a 10× materialization of sf0.1
and reports sec@10×/sec@1× per key, so superlinear growth is a recorded
number instead of a docstring argument.

Scale-up semantics (same keyspace, more volume — the shape a growing
production deployment actually has):

- Fact tables (orders, lineitem, events, documents, embeddings) are
  unioned ``factor`` times with copy-shifted primary keys (offset 10^9
  per copy, far above any fixture key).
- Dimension tables (region, nation, customer, supplier, part) are
  copied unchanged: 10× more facts per dimension key, constant
  dimension cardinality — so per-key fan-in genuinely grows.
- ``documents.text`` gets a copy-specific tag token spliced in every
  3rd word for copies > 0. With 3-word shingles this drops cross-copy
  Jaccard to ~0.14 (three-quarters of each window straddles a tag),
  well under every dedup threshold — near-dup candidate sets scale
  ~linearly instead of quadratically in the copy count, which is the
  honest workload (real corpus growth adds new documents, not 9
  verbatim clones of every document).
- ``embeddings.embedding`` is cyclically rotated by the copy index:
  unit norm preserved, copies decorrelated (random-ish vectors are
  near-orthogonal to their rotations), so ANN/semdedup candidate
  volumes grow ~linearly for the same reason.
- Timestamps / dates are untouched: the same time range at 10× density
  (more traffic, not a longer history).

Everything is derived deterministically from the copy index — no RNG —
so a regenerated directory is byte-stable modulo parquet encoding.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint

DIM_TABLES = ("region", "nation", "customer", "supplier", "part")
FACT_KEYS = {
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
_COPY_OFFSET = 1_000_000_000


def _tag_text(col, tag: str):
    """Splice ``tag`` in after every 3rd word (1-indexed positions
    3,6,…), decorrelating the copy's shingle space from the original."""
    words = F.split(col, " ")
    tagged = F.transform(
        words,
        lambda w, i: F.when(
            (i + 1) % 3 == 0, F.concat(w, F.lit(" " + tag))
        ).otherwise(w),
    )
    return F.array_join(tagged, " ")


def _rotate(vec, by: int):
    """Norm-preserving decorrelating transform for copy index ``by``:
    cyclic rotation by ``by mod dim`` positions, NEGATED on every odd
    full cycle (``(by // dim) % 2 == 1``).

    The modulo keeps the slice well-defined past the embedding
    dimension (ADVICE r06 item 1); the sign flip keeps the
    decorrelation invariant alive there too — without it, copy == dim
    (64) would rotate a full cycle and emit an EXACT duplicate of the
    base vector. With the flip, copies dim..2·dim−1 are negated
    rotations (cosine ≈ −cosine of the rotation — still far from any
    near-dup threshold), so the generator is decorrelated for factors
    up to 2×dim = 128; ``ensure_scale_dir`` asserts that bound.
    """
    n = F.size(vec)
    b = F.pmod(F.lit(by), n)
    rotated = F.concat(
        F.slice(vec, b + F.lit(1), F.greatest(n - b, F.lit(0))),
        F.slice(vec, F.lit(1), b),
    )
    odd_cycle = F.pmod(F.floor(F.lit(by) / n), F.lit(2)) == 1
    return F.when(
        odd_cycle, F.transform(rotated, lambda x: -x)
    ).otherwise(rotated)


def _scaled_copy(df: DataFrame, table: str, copy: int) -> DataFrame:
    if copy == 0:
        return df
    shift = copy * _COPY_OFFSET
    out = df
    for k in FACT_KEYS[table]:
        out = out.withColumn(k, F.col(k) + F.lit(shift))
    if table == "documents":
        tag = f"zq{copy}tag"
        out = out.withColumn("text", _tag_text(F.col("text"), tag))
        out = out.withColumn("n_chars", F.length("text"))
    elif table == "embeddings":
        out = out.withColumn(
            "embedding", _rotate(F.col("embedding"), copy).cast(
                df.schema["embedding"].dataType.simpleString()
            )
        )
    return out


def _unit_hash(col):
    """Deterministic double in [-1, 1) from the md5 of a string column
    — the generator's only randomness source (no RNG, byte-stable)."""
    h = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("double")
    return h / F.lit(float(2**31)) - 1.0


def _hash_vec(prefix, dim: int):
    """Array<double> of ``dim`` independent md5-derived components."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: _unit_hash(
            F.concat_ws("|", prefix, j.cast("string"))
        ),
    )


def _l2_normalize(vec):
    norm = F.sqrt(
        F.aggregate(
            vec, F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    return F.transform(vec, lambda x: x / norm)


def ensure_clustered_dir(
    spark: SparkSession,
    base_dir: str,
    dest: str,
    n_clusters: int = 32,
    noise: float = 0.03,
) -> str:
    """Materialize (once) a twin of ``base_dir`` whose embeddings have
    REAL cluster structure — the fixture VERDICT r07 asked for to make
    the IVF/PQ recall geometry argument dispositive instead of
    corroborated. The fixture's random-ish vectors concentrate pairwise
    distances, so ANY lossy quantizer has near-zero top-3 agreement
    with exact search; this twin replaces them with vectors a real
    embedding model would produce (tight clusters, spread neighbors)
    while keeping vec_id/label/doc linkage and every other table
    (symlinked) identical.

    Geometry (all md5-derived — deterministic, honesty-tested in
    tests/test_scaling.py): vector i of cluster c = vec_id mod k is
      normalize(centroid_c + (0.08 + 0.5·u_i)·dir_c + 0.03·noise_i)
    — a 1-D manifold per cluster, not an isotropic blob: within-cluster
    distances are SPREAD along dir_c (|u_i − u_j|), so "the top-3
    neighbors" is a stable, quantizer-resolvable notion, exactly the
    local-manifold shape real embeddings have. centroid_c and dir_c are
    md5 unit vectors (random directions are near-orthogonal in d=64, so
    clusters are well-separated at perturbation radius ≲ 0.6).

    ``noise`` scales the isotropic perturbation (default 0.03 — the
    original easy twin). Raising it blurs cluster boundaries so lossy
    routing starts to MISS occasionally: the round-13 hard twin uses a
    level tuned to put composed-probed-search recall in a non-saturated
    band (a 1000‰ gate has no drift signal — VERDICT r12 item 6)."""
    ntag = "" if noise == 0.03 else f"_n{int(round(noise * 1000))}"
    marker = os.path.join(dest, f"_CLUSTERED_k{n_clusters}{ntag}_OK")
    if os.path.exists(marker):
        return dest
    os.makedirs(dest, exist_ok=True)
    emb = spark.read.parquet(os.path.join(base_dir, "embeddings.parquet"))
    dim = len(emb.select("embedding").first()["embedding"])
    elem_type = emb.schema["embedding"].dataType.simpleString()
    # The centroid/direction dimension is k rows — build it as its own
    # relation and BROADCAST-join it on cluster id rather than inlining
    # the md5 arrays per fact row: inlined, the nested
    # normalize(zip_with(normalize(64-md5-transform), …)) tree
    # re-expands at every self-reference and wedges codegen (measured:
    # the single-expression form never finished a 2k-row write).
    cdim = spark.range(n_clusters).select(
        F.col("id").cast("int").alias("cluster_id"),
        _l2_normalize(
            _hash_vec(F.concat(F.lit("cent|"), F.col("id")), dim)
        ).alias("cent"),
        _l2_normalize(
            _hash_vec(F.concat(F.lit("dir|"), F.col("id")), dim)
        ).alias("dir"),
    ).transform(checkpoint)
    staged = (
        emb.withColumn(
            "cluster_id",
            F.pmod(F.col("vec_id"), F.lit(n_clusters)).cast("int"),
        )
        .join(F.broadcast(cdim), "cluster_id")
        .withColumn(
            "u",
            (
                _unit_hash(
                    F.concat(F.lit("u|"), F.col("vec_id").cast("string"))
                )
                + 1.0
            )
            / 2.0,
        )
        .withColumn(
            "noise",
            _hash_vec(
                F.concat(F.lit("noise|"), F.col("vec_id").cast("string")),
                dim,
            ),
        )
        .transform(checkpoint)  # md5 arrays now plain columns, trees stay flat
    )
    scale = F.lit(0.08) + F.lit(0.5) * F.col("u")
    mixed = F.zip_with(
        F.zip_with(F.col("cent"), F.col("dir"), lambda c, d: c + scale * d),
        F.col("noise"),
        lambda cd, nz: cd + F.lit(float(noise)) * nz,
    )
    out = (
        staged.withColumn("mixed", mixed)
        .transform(checkpoint)
        .select(
            *emb.drop("embedding").columns,
            _l2_normalize(F.col("mixed")).cast(elem_type).alias("embedding"),
        )
        .select(*emb.columns)
    )
    out.write.mode("overwrite").parquet(
        os.path.join(dest, "embeddings.parquet")
    )
    for table in [*DIM_TABLES, *FACT_KEYS]:
        if table == "embeddings":
            continue
        link = os.path.join(dest, f"{table}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(base_dir, f"{table}.parquet"), link)
    with open(marker, "w") as f:
        f.write("ok\n")
    return dest


def ensure_scale_dir(
    spark: SparkSession,
    base_dir: str,
    dest: str,
    factor: int = 10,
) -> str:
    """Materialize (once) a ``factor``× copy of ``base_dir`` under
    ``dest`` and return ``dest``. A marker file makes re-runs free."""
    # 128 = 2 × the fixture embedding dim: past it the rotate+flip
    # transform cycles and copies would be exact duplicates (see
    # _rotate). Raise the transform's period before raising this.
    assert factor <= 128, f"decorrelation breaks past factor 128: {factor}"
    marker = os.path.join(dest, f"_SCALED_x{factor}_OK")
    if os.path.exists(marker):
        return dest
    os.makedirs(dest, exist_ok=True)
    for table in DIM_TABLES:
        df = spark.read.parquet(os.path.join(base_dir, f"{table}.parquet"))
        df.write.mode("overwrite").parquet(
            os.path.join(dest, f"{table}.parquet")
        )
    for table in FACT_KEYS:
        base = spark.read.parquet(os.path.join(base_dir, f"{table}.parquet"))
        copies = [_scaled_copy(base, table, c) for c in range(factor)]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionAll(c)
        # One output file per copy keeps the scan parallelism of the
        # result proportional to its size (the base fixture is a single
        # row group, i.e. one split).
        out.repartition(factor).write.mode("overwrite").parquet(
            os.path.join(dest, f"{table}.parquet")
        )
    with open(marker, "w") as f:
        f.write("ok\n")
    return dest
