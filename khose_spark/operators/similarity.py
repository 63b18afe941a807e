"""Similarity search over embedding columns — the scale paths
(SURVEY.md §4.2.3). Three operators beyond the naive crossJoin baseline
in ``llm.py``:

- ``q_llm_cosine_topk_blocked``: exact top-k, but computed as blocked
  numpy matmuls inside ``mapInPandas`` with per-partition partial top-k
  before the global selection — the brute-force plan that actually
  scales (query block broadcast once; each executor touches only its
  partition of the corpus; the shuffle carries k rows per (partition,
  query), not the corpus). Registered against the SAME DuckDB oracle as
  the naive plan: both are exact, so they must hash-match.
- ``q_llm_ann_ivf``: IVF-style approximate search — assign every vector
  to its nearest of a fixed centroid set, probe only the query's own
  cell, exact re-rank inside it. Deterministic (fixed centroids, rounded
  assignment scores), so the oracle recomputes it exactly in SQL.
- ``q_llm_neardup_cosine``: embedding-cosine near-duplicate pairs
  (sim >= 0.3), the vector-space sibling of the Jaccard/SimHash text
  near-dup family.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark import memo
from khose_spark.memo import checkpoint
from khose_spark.operators.llm import _COSINE_ORACLE_CTE
from khose_spark.registry import query
from khose_spark.tables import t

_TOPK_ORACLE = (
    _COSINE_ORACLE_CTE
    + """
    SELECT qid, vec_id AS neighbor_id, sim, rn AS rank FROM (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
      FROM sims
    ) WHERE rn <= 5
    """
)


@query("q_llm_cosine_topk_blocked", oracle=_TOPK_ORACLE)
def q_llm_cosine_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors 0..9, blocked-matmul form.

    The query block (10×64 floats) is collected and broadcast — at 100 TB
    the query side of a kNN batch is always the small side; the corpus
    never leaves the executors. Each Arrow batch computes one
    float64 GEMM (queries × batch) and emits only its local top-5 per
    query; a tiny global window pass finishes the selection. Ranking is
    on the ROUNDED sim with vec_id tiebreak, identical to the naive plan.
    """
    k, n_queries = 5, 10
    e = t(spark, sf_dir, "embeddings")
    qrows = (
        e.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows:  # no query vectors: nothing to rank
        return spark.createDataFrame(
            [], "qid long, neighbor_id long, sim double, rank int"
        )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qnorm = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    bq = spark.sparkContext.broadcast((qids, qnorm))

    def block_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, b_qnorm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            vmat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vmat /= np.linalg.norm(vmat, axis=1, keepdims=True)
            sims = np.round(b_qnorm @ vmat.T, 4)  # (n_queries, batch)
            out = []
            for qi, qid in enumerate(b_qids):
                mask = vids != qid
                s, v = sims[qi][mask], vids[mask]
                # partial top-k on (sim desc, vec_id asc) — lossless
                # superset of the global top-k's per-partition members.
                order = np.lexsort((v, -s))[:k]
                out.append(
                    pd.DataFrame(
                        {"qid": qid, "neighbor_id": v[order], "sim": s[order]}
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = e.select("vec_id", "embedding").mapInPandas(
        block_topk, "qid long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partial.select("qid", "neighbor_id", "sim", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def _dbl_base(e: DataFrame) -> DataFrame:
    """(vec_id, v): the embeddings with float elements widened to double."""
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    return e.select("vec_id", dbl.alias("v"))


def _cos(a: str, b: str) -> Column:
    """Sequential-fold cosine of two double-array columns — one fixed
    expression tree, so rounded values are bit-identical wherever used."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    return dot / (F.sqrt(sq(a)) * F.sqrt(sq(b)))


def _top3(cell_sims: DataFrame) -> DataFrame:
    """(qid, neighbor_id, sim, rank): each query's 3 best candidates of
    ``cell_sims`` by sim, vec_id tiebreak."""
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cell_sims.select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            "sim",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 3)
    )


def _ivf_top3(base: DataFrame, cent: DataFrame) -> DataFrame:
    """IVF search for queries vec_id < 10: every vector of ``base`` goes
    to its nearest centroid of ``cent`` (argmax of round(cos, 6), cid
    tiebreak); a query probes only its own cell and exact-reranks it."""
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("asim"), F.asc("cid")
    )
    assign = (
        base.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "cid", F.round(_cos("v", "cv"), 6).alias("asim")
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    probe = (
        base.filter(F.col("vec_id") < 10)
        .join(assign, "vec_id")
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"), "cid")
    )
    members = assign.join(base, "vec_id").select("cid", "vec_id", "v")
    cell_sims = (
        F.broadcast(probe)
        .join(members, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(_cos("qv", "v"), 4).alias("sim"))
    )
    return _top3(cell_sims)


def _sql_cell_rank(
    outer: str, inner: str, cent: str = "cent", where: str = "",
    keep: str = "rn = 1",
) -> str:
    """SQL twin of the assign step of :func:`_ivf_top3`: each ``base``
    vector's cells of ``cent`` ranked by round(cos, 6), cid tiebreak."""
    return f"""
      SELECT {outer} FROM (
        SELECT {inner}, c.cid,
               row_number() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY round(list_cosine_similarity(b.v, c.cv), 6) DESC, c.cid ASC
               ) AS rn
        FROM base b CROSS JOIN {cent} c
        {where}
      ) WHERE {keep}"""


# Probe 1: each query vec_id < 10 searches only its own cell.
_SQL_IVF_PROBE1 = """
      SELECT b.vec_id AS qid, b.v AS qv, a.cid
      FROM base b JOIN assign a ON a.vec_id = b.vec_id
      WHERE b.vec_id < 10"""


def _sql_ivf_head(cent: str, probe: str) -> str:
    """SQL twin of :func:`_ivf_top3`'s routing: the ``base``, ``cent``,
    ``assign`` and ``probe`` CTEs, the last left open."""
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cent AS (
{cent}
    ), assign AS ({_sql_cell_rank("vec_id, cid", "b.vec_id")}
    ), probe AS ({probe}"""


# SQL twin of the rerank in :func:`_ivf_top3` and :func:`_top3`.
_SQL_IVF_TOP3 = """
    ), cell_sims AS (
      SELECT p.qid, b.vec_id,
             round(list_cosine_similarity(p.qv, b.v), 4) AS sim
      FROM probe p
      JOIN assign a ON a.cid = p.cid
      JOIN base b ON b.vec_id = a.vec_id
      WHERE b.vec_id <> p.qid
    )
    SELECT qid, vec_id AS neighbor_id, sim, rn AS rank FROM (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
      FROM cell_sims
    ) WHERE rn <= 3
    """


def _centroid_audit(stats: DataFrame, cent: DataFrame) -> DataFrame:
    """k-means audit rows: ``stats`` per cid joined with the first four
    centroid coordinates, each rounded to 6 decimals."""
    return stats.join(F.broadcast(cent), "cid").select(
        F.col("cid").alias("cluster_id"),
        "n_members",
        "avg_dist",
        *[
            F.round(F.element_at("cv", i), 6).alias(f"c{i}")
            for i in range(1, 5)
        ],
    )


def _silhouette_rollup(sil: DataFrame) -> DataFrame:
    """Per-cluster silhouette audit of (cid, s) rows."""
    return (
        sil.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("s"), 4).alias("silhouette_avg"),
            F.sum((F.col("s") < 0).cast("long")).alias("n_negative"),
        )
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "silhouette_avg",
            "n_negative",
        )
    )


def _semdedup_audit(assign: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per-cluster dedup audit: members, duplicate pairs, dropped and
    kept counts from (cid, vec_id) ``assign`` and (cid, id_a, id_b)
    ``pairs``, materialized (a k-row result)."""
    members = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    pstats = pairs.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("id_b").alias("n_dropped"),
    )
    return (
        members.join(F.broadcast(pstats), "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_members") - F.coalesce("n_dropped", F.lit(0)))
            .alias("n_kept"),
        )
        .transform(checkpoint)
    )


# Nearest centroid of ``cent`` per ``base`` vector by round(L2², 6),
# cid tiebreak, keeping the vector: the semdedup routing.
_SQL_L2_ASSIGN = """
      SELECT vec_id, v, cid FROM (
        SELECT b.vec_id, b.v, c.cid,
               row_number() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY round(list_sum(list_transform(range(1, 65),
                           i -> (b.v[i] - c.cv[i]) ^ 2)), 6) ASC, c.cid ASC
               ) AS rn
        FROM base b CROSS JOIN cent c
      ) WHERE rn = 1"""

# SQL twin of :func:`_semdedup_audit` over ``assign`` and ``pairs``.
_SQL_SEMDEDUP_AUDIT = """    ), members AS (
      SELECT cid, count(*) AS n_members FROM assign GROUP BY cid
    ), pstats AS (
      SELECT cid, count(*) AS n_dup_pairs,
             count(DISTINCT id_b) AS n_dropped
      FROM pairs GROUP BY cid
    )
    SELECT m.cid AS cluster_id, n_members,
           COALESCE(n_dup_pairs, 0) AS n_dup_pairs,
           COALESCE(n_dropped, 0) AS n_dropped,
           n_members - COALESCE(n_dropped, 0) AS n_kept
    FROM members m LEFT JOIN pstats p ON m.cid = p.cid
    """


@query(
    "q_llm_ann_ivf",
    oracle=_sql_ivf_head(
        "SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id % 50 = 0",
        _SQL_IVF_PROBE1,
    )
    + _SQL_IVF_TOP3,
)
def q_llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors: every vector is
    assigned to its nearest centroid (fixed seed set: vec_id % 50 == 0);
    a query probes only its own cell and exact-reranks inside it. The
    partition-by-cell layout is the 100 TB design — each query touches
    1/n_cells of the corpus; recall is traded via n_probe (here 1).
    Deterministic: assignment argmax on round(sim, 6) with centroid-id
    tiebreak, so Spark and DuckDB agree bit-for-bit after rounding."""
    base = _dbl_base(t(spark, sf_dir, "embeddings"))
    cent = base.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    return _ivf_top3(base, cent)


@query(
    "q_llm_neardup_cosine",
    oracle="""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS sim
    FROM base a JOIN base b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
    """,
)
def q_llm_neardup_cosine(
    spark: SparkSession, sf_dir: str, n_blocks: int = 8
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim >= 0.3, id_a < id_b) —
    the semantic-dedup sibling of Jaccard/SimHash text dedup.

    Physical plan: a distributed TILE-GRID self-block join — nothing is
    ever materialized on the driver (the previous broadcast-GEMM form
    collected the whole corpus driver-side; at 100× vectors the driver
    OOMs before the executors work). Each vector lands in block
    ``vec_id % n_blocks``; each unordered block pair (bi <= bj) is one
    tile, co-located by a single shuffle on the tile key; inside a tile
    an ``applyInPandas`` worker runs one float64 GEMM between the two
    block matrices (upper triangle only on diagonal tiles) and emits
    just the above-threshold pairs. Every unordered vector pair meets in
    exactly one tile, so no pair is produced twice and no dedup pass is
    needed.

    Scale accounting: each row is replicated n_blocks times (side A of
    its row of tiles + side B of its column), so shuffle volume is
    N·B rows while per-worker memory is 2·N/B vectors — choose
    B ≈ sqrt(N·d/executor_mem) and both stay bounded; total work is the
    unavoidable exact-all-pairs O(N²) FLOPs, spread over B(B+1)/2
    independent tiles. Sub-quadratic variants (SRP/IVF candidates +
    exact rerank) live alongside as q_llm_lsh_srp / q_llm_ann_ivf."""
    B = n_blocks
    e = t(spark, sf_dir, "embeddings")
    # pmod, not %: Spark's % is a signed remainder, so a negative vec_id
    # would land in a negative block that no tile ever pairs — silently
    # dropping its cross-block pairs. pmod keeps every id in [0, B-1].
    blocked = e.select(
        "vec_id", "embedding", F.pmod(F.col("vec_id"), F.lit(B)).cast("int").alias("blk")
    )
    # Side A of tiles (blk, tj) for tj in blk..B-1 — sequence() is safe
    # here (start <= stop always). Side B of tiles (ti, blk) for
    # ti < blk; the diagonal tile holds its block once, as side A.
    side_a = blocked.select(
        F.col("blk").alias("ti"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("tj"),
        F.lit(0).alias("side"),
        "vec_id",
        "embedding",
    )
    side_b = (
        blocked.select(
            F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("ti"),
            F.col("blk").alias("tj"),
            F.lit(1).alias("side"),
            "vec_id",
            "embedding",
        )
        .filter(F.col("ti") < F.col("tj"))
    )

    _EMPTY_TILE = pd.DataFrame(
        {
            "id_a": pd.Series(dtype="int64"),
            "id_b": pd.Series(dtype="int64"),
            "sim": pd.Series(dtype="float64"),
        }
    )

    def tile_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = key
        a = pdf[pdf["side"] == 0]
        # A tile can arrive one-sided (corpus smaller than B, or a block
        # with no residents): np.stack on a zero-length array raises, so
        # an empty side means an empty tile, not a crash.
        if len(a) == 0 or (ti != tj and (pdf["side"] == 1).sum() == 0):
            return _EMPTY_TILE
        aids = a["vec_id"].to_numpy(dtype=np.int64)
        amat = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        amat /= np.linalg.norm(amat, axis=1, keepdims=True)
        if ti == tj:
            bids, bmat = aids, amat
        else:
            b = pdf[pdf["side"] == 1]
            bids = b["vec_id"].to_numpy(dtype=np.int64)
            bmat = np.stack(b["embedding"].to_numpy()).astype(np.float64)
            bmat /= np.linalg.norm(bmat, axis=1, keepdims=True)
        sims = np.round(amat @ bmat.T, 4)
        keep = sims >= 0.3
        if ti == tj:
            # upper triangle only — each same-block pair once.
            keep &= aids[:, None] < bids[None, :]
        # off-diagonal: blocks partition the ids, so every (a, b) is a
        # distinct pair and meets in exactly this tile; min/max orders it.
        ra, rb = np.nonzero(keep)
        lo, hi = np.minimum(aids[ra], bids[rb]), np.maximum(aids[ra], bids[rb])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": sims[ra, rb]})

    return (
        side_a.unionByName(side_b)
        .groupBy("ti", "tj")
        .applyInPandas(tile_pairs, "id_a long, id_b long, sim double")
    )


def _srp_planes(n_planes: int = 16, dim: int = 64) -> list[list[float]]:
    """Deterministic random-hyperplane matrix shared with the SQL
    oracle: component (p, d) = (hexval(md5(f"{p}_{d}")[0]) - 7.5)/7.5,
    i.e. 16 quantized levels in [-1, 1] derived from md5 — bit-identical
    in any engine that has md5."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0], 16) - 7.5) / 7.5
            for d in range(1, dim + 1)
        ]
        for p in range(n_planes)
    ]


# SQL twin of :func:`_srp_planes`: the planes CTE body, 16 md5-derived
# hyperplanes.
_SQL_SRP_PLANES = """
      SELECT p, list_transform(range(1, 65),
               d -> (instr('0123456789abcdef',
                           substr(md5(concat(CAST(p AS VARCHAR), '_',
                                             CAST(d AS VARCHAR))), 1, 1))
                     - 1 - 7.5) / 7.5) AS hp
      FROM range(0, 16) t(p)"""


def _srp_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), planes AS ({_SQL_SRP_PLANES}
    ), bits AS (
      SELECT vec_id, p,
             CASE WHEN round(list_dot_product(v, hp), 6) > 0 THEN 1 ELSE 0 END AS bit
      FROM base CROSS JOIN planes
    ), bands AS (
      SELECT vec_id, CAST(p // 4 AS INT) AS band,
             CAST(sum(bit * CAST(pow(2, p % 4) AS INT)) AS INT) AS code
      FROM bits GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           round(list_cosine_similarity(va.v, vb.v), 4) AS sim
    FROM cand
    JOIN base va ON va.vec_id = id_a
    JOIN base vb ON vb.vec_id = id_b
    WHERE round(list_cosine_similarity(va.v, vb.v), 4) >= 0.3
    """


def srp_candidates(
    spark: SparkSession, sf_dir: str, band_bits: int = 4
) -> tuple[DataFrame, DataFrame]:
    """(candidate pairs, base vectors) for SRP-LSH at ``band_bits``-bit
    bands over the fixed 16-bit sign codes. ``band_bits=4`` is the
    hash-checked CONTRACT q_llm_lsh_srp registers (identical plan to
    the pre-r08 inline form); other widths exist so the band-width
    scale law — expected bucket occupancy n/2^b, candidate pairs ~
    n_bands · n²/2^(b+1) — is an ASSERTED measurement
    (tests/test_scaling.py::test_srp_band_width_law), not a docstring
    claim. Production picks b to keep n/2^b bounded; only these two
    constants change, never the plan shape."""
    assert 16 % band_bits == 0, band_bits
    e = t(spark, sf_dir, "embeddings")
    base = _dbl_base(e)
    planes = spark.createDataFrame(
        [(p, hp) for p, hp in enumerate(_srp_planes())], "p int, hp array<double>"
    )
    dot = F.aggregate(
        F.zip_with("v", "hp", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    bits = (
        base.crossJoin(F.broadcast(planes))
        .select(
            "vec_id",
            "p",
            F.when(F.round(dot, 6) > 0, 1).otherwise(0).alias("bit"),
        )
    )
    bands = (
        bits.groupBy(
            "vec_id", (F.col("p") / band_bits).cast("int").alias("band")
        )
        .agg(
            F.sum(
                F.col("bit") * F.pow(2, F.col("p") % band_bits).cast("int")
            )
            .cast("int")
            .alias("code")
        )
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    return cand, base


@query("q_llm_lsh_srp", oracle=_srp_oracle())
def q_llm_lsh_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (SRP) LSH near-dup: 16-bit sign codes against
    md5-derived hyperplanes, 4×4-bit band join for candidates, exact
    cosine >= 0.3 rerank on candidates only — the embedding-space
    sibling of the SimHash band join, and the third ANN family next to
    brute-force GEMM and IVF.

    Everything is deterministic (fixed quantized hyperplanes; sign on
    the ROUNDED sequential dot product, computed with the same
    left-to-right fold in both engines), so even the LSH bucketing is
    hash-checked — rare for an "approximate" method. At 100 TB: codes
    are one map-side pass, the band join shuffles (band, code) buckets,
    rerank touches only candidate pairs.

    Band-width scale law (measured on the r07 10× sweep): 4-bit bands
    give only 16 buckets/band, so candidate pairs grow ~n²/16 per band
    once n ≫ 2⁴ — at 20k vectors (10× fixture) the rerank saw ~680k
    candidates and took 422 s where 2k vectors took ~3 s. The CONTRACT
    here fixes 16-bit codes / 4-bit bands so the bucketing itself stays
    hash-checkable; a production deployment scales code width with
    corpus size (b-bit bands ⇒ expected bucket n/2^b — keep n/2^b
    bounded, e.g. 16-bit bands at 10⁶ vectors), which changes only the
    two constants in this function, not the plan shape."""
    cand, base = srp_candidates(spark, sf_dir, band_bits=4)
    va = base.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = base.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    sim = F.round(_cos("va", "vb"), 4)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= 0.3)
    )


@query(
    "q_llm_vec_quantize",
    oracle="""
    WITH qd AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_transform(embedding, x -> greatest(-127.0, least(127.0,
               round(CAST(x AS DOUBLE) * 127, 0)))) AS q
      FROM embeddings
    )
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(v, x -> x * x))), 4) AS norm,
           CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS sum_absq,
           round(list_max(list_transform(v, x -> abs(x -
             greatest(-127.0, least(127.0, round(x * 127, 0))) / 127))), 6)
             AS max_err,
           CAST(len(list_filter(q, x -> abs(x) = 127.0)) AS INT) AS n_sat
    FROM qd
    """,
)
def q_llm_vec_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization QA: per vector, the symmetric
    [-127,127] quantized code's total magnitude, the max dequantization
    error, and the saturation count, alongside the original L2 norm —
    the audit a production ANN index runs before switching its store to
    int8 (4× memory / bandwidth at 100 TB of vectors).

    Everything is elementwise over the embedding array (zero shuffle,
    zero join): quantize = clamp(round(x*127)); error is recomputed from
    x alone so no array zip is needed. Exact-integer sums (|q| <= 127*64)
    carry the hash check; the two continuous outputs are rounded."""
    emb = t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    quant = lambda x: F.greatest(  # noqa: E731
        F.lit(-127.0), F.least(F.lit(127.0), F.round(x * 127, 0))
    )
    q = F.transform(v, quant)
    ssum = lambda arr, fn: F.aggregate(  # noqa: E731
        F.transform(arr, fn), F.lit(0.0), lambda acc, x: acc + x
    )
    return emb.select(
        "vec_id",
        F.round(F.sqrt(ssum(v, lambda x: x * x)), 4).alias("norm"),
        ssum(q, F.abs).cast("long").alias("sum_absq"),
        F.round(
            F.array_max(F.transform(v, lambda x: F.abs(x - quant(x) / 127))), 6
        ).alias("max_err"),
        F.size(F.filter(q, lambda x: F.abs(x) == 127.0)).alias("n_sat"),
    )


_PQ_M = 8          # subspaces
_PQ_DIM = 8        # dims per subspace (64-d vectors)

# The ADC scan over every encoded vector; similarity_fixedk swaps it
# for its probed-cell form by string surgery.
_ADC_FULL = """), adc AS (      -- asymmetric distance: sum of 8 LUT lookups
      SELECT l.qid, a.vec_id,
             round(sum(l.pdist), 4) AS approx_dist
      FROM assign a
      JOIN lut l ON l.sub_id = a.sub_id AND l.code = a.code
      WHERE a.vec_id <> l.qid
      GROUP BY l.qid, a.vec_id
    )"""

_PQ_ORACLE = f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sub AS (      -- one row per (vector, subspace): the 8-dim slice
      SELECT vec_id, s.sub_id,
             v[1 + 8 * s.sub_id : 8 + 8 * s.sub_id] AS sv
      FROM base, (SELECT unnest(range(0, {_PQ_M})) AS sub_id) s
    ), cb AS (       -- deterministic codebook: seed vectors' slices
      SELECT vec_id // 50 AS code, sub_id, sv AS cv
      FROM sub WHERE vec_id % 50 = 0
    ), assign AS (   -- nearest code per (vector, subspace)
      SELECT vec_id, sub_id, code FROM (
        SELECT sub.vec_id, sub.sub_id, cb.code,
               row_number() OVER (
                 PARTITION BY sub.vec_id, sub.sub_id
                 ORDER BY round(list_sum(list_transform(range(1, 9),
                           i -> (sub.sv[i] - cb.cv[i]) ^ 2)), 6) ASC,
                          cb.code ASC
               ) AS rn
        FROM sub JOIN cb ON sub.sub_id = cb.sub_id
      ) WHERE rn = 1
    ), lut AS (      -- per query: distance to every code in every subspace
      SELECT q.vec_id AS qid, cb.sub_id, cb.code,
             round(list_sum(list_transform(range(1, 9),
                   i -> (q.sv[i] - cb.cv[i]) ^ 2)), 6) AS pdist
      FROM sub q JOIN cb ON q.sub_id = cb.sub_id
      WHERE q.vec_id < 10
    {_ADC_FULL}
    SELECT qid, vec_id AS neighbor_id, approx_dist, rn AS rank FROM (
      SELECT qid, vec_id, approx_dist,
             row_number() OVER (PARTITION BY qid
                                ORDER BY approx_dist ASC, vec_id ASC) AS rn
      FROM adc
    ) WHERE rn <= 3
    """


def _pq_subvectors(e: DataFrame) -> DataFrame:
    """(vec_id, sub_id, sv): the 8 fixed 8-dim slices of each vector."""
    base = _dbl_base(e)
    return base.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub_id"),
                        F.slice("v", 1 + _PQ_DIM * s, _PQ_DIM).alias("sv"),
                    )
                    for s in range(_PQ_M)
                ]
            )
        ).alias("x"),
    ).select("vec_id", "x.sub_id", "x.sv")


def _pq_codebook(sub: DataFrame) -> DataFrame:
    """Deterministic seed codebook: the slices of every 50th vector."""
    return sub.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") / 50).cast("long").alias("code"),
        "sub_id",
        F.col("sv").alias("cv"),
    )


def _pq_l2sq(a: str, b: str):
    # Unrolled over the fixed 8-dim subspace instead of a
    # zip_with/aggregate fold: higher-order lambdas run interpreted
    # per element, and this expression evaluates once per
    # (vector-subspace × code) candidate — the hot inner product of
    # the whole PQ pipeline (~5M lambda evals at sf0.1 before;
    # element_at chains stay inside whole-stage codegen). Addition
    # order matches the fold ((0+t1)+t2… ≡ t1+t2…), so results are
    # bit-identical.
    terms = [
        (F.element_at(a, i) - F.element_at(b, i))
        * (F.element_at(a, i) - F.element_at(b, i))
        for i in range(1, _PQ_DIM + 1)
    ]
    out = terms[0]
    for term in terms[1:]:
        out = out + term
    return out


def _pq_assign(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """PQ encoding: nearest code per (vector, subspace) — the 8-byte
    corpus representation."""
    w_assign = Window.partitionBy("vec_id", "sub_id").orderBy(
        F.asc("d2"), F.asc("code")
    )
    return (
        sub.join(F.broadcast(cb), "sub_id")
        .select(
            "vec_id", "sub_id", "code",
            F.round(_pq_l2sq("sv", "cv"), 6).alias("d2"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub_id", "code")
    )


def _pq_lut(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Per-query (subspace, code) → partial-distance lookup table."""
    return (
        sub.filter(F.col("vec_id") < 10)
        .withColumnRenamed("vec_id", "qid")
        .join(F.broadcast(cb), "sub_id")
        .select(
            "qid", "sub_id", "code",
            F.round(_pq_l2sq("sv", "cv"), 6).alias("pdist"),
        )
    )


def _pq_search(codes: DataFrame, lut: DataFrame, k: int = 3) -> DataFrame:
    """ADC search over PQ codes: 8 LUT additions per vector, top-k per
    query (k=3 for the ADC-final keys; the rerank key widens to its
    candidate pool). The LUT broadcasts; the codes side is never
    re-keyed before the (qid, vec_id) aggregation, so a codes relation
    already hash-distributed on vec_id (the bucketed index) aggregates
    with ZERO exchange."""
    adc = (
        codes.join(F.broadcast(lut), ["sub_id", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.round(F.sum("pdist"), 4).alias("approx_dist"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.asc("approx_dist"), F.asc("vec_id")
    )
    return (
        adc.select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            "approx_dist",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


@query("q_llm_ann_pq", oracle=_PQ_ORACLE)
def q_llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the embedding-compression scale path:
    64-d vectors split into 8 subspaces × 8 dims, each subvector
    replaced by the id of its nearest codebook entry (deterministic
    seed codebook: the slices of every 50th vector), so the stored
    corpus shrinks from 64 floats to 8 small ints per vector.  Queries
    never touch raw corpus vectors: each query precomputes a
    (subspace, code) → partial-distance lookup table, and the
    asymmetric distance is 8 LUT additions per PQ code — the classic
    IVF-PQ/FAISS layout, where at 100 TB the LUT (m × n_codes rows per
    query) broadcasts and the scan reads only the 8-byte codes.

    Determinism: code assignment argmins round(L2², 6) with code-id
    tiebreak; final ranking sorts round(ADC, 4) with neighbor-id
    tiebreak — the proven IVF pattern, so Spark and DuckDB agree
    bit-for-bit.

    This single-job form re-encodes the corpus inline; the production
    two-job lifecycle (build once, search many) is
    :func:`build_pq_index` over :func:`encode_pq_sampled` +
    ``q_llm_ann_pq_indexed``."""
    sub = _pq_subvectors(t(spark, sf_dir, "embeddings"))
    cb = _pq_codebook(sub)
    return _pq_search(_pq_assign(sub, cb), _pq_lut(sub, cb))


_PQ_BUCKETS = 8


def encode_pq_sampled(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(codes, codebook) of the sampled PQ contract — the encoder
    :func:`build_pq_index` persists for the q_llm_ann_pq_* keys."""
    sub = _pq_subvectors(t(spark, sf_dir, "embeddings"))
    cb = _pq_codebook(sub)
    return _pq_assign(sub, cb), cb


def build_pq_index(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    encode: Callable[[SparkSession, str], tuple[DataFrame, DataFrame]],
    partition_by: str | None = None,
) -> tuple[str, str]:
    """INDEX-BUILD job of the two-job ANN lifecycle: run ``encode(spark,
    sf_dir) -> (codes, codebook)`` once and persist the search-time
    layout —

    - ``codes``: (vec_id, sub_id, code[, partition_by]), written as a
      parquet table BUCKETED by vec_id (the aggregation key of every
      future search), so the search job's (qid, vec_id) ADC aggregation
      needs no exchange: hash-distribution on vec_id already clusters
      it. ``partition_by`` (the IVF cell id) adds a directory level per
      value, so a broadcast probe set prunes the scan to its cells.
    - ``codebook``: the centroid slices, a broadcast-sized dim.

    This is the real 100 TB pattern: the O(corpus) encode cost is paid
    once, at write time; every query-batch job afterwards reads ONLY
    the 8-byte codes + the codebook — never the raw vectors. Returns
    (codes_table, codebook_table) catalog names, a khose_spark.memo
    entry per (application, sf_dir, name): repeated searches in one
    session reuse the index, and ``memo.release_all`` drops its tables
    and removes its files.

    The tables are EXTERNAL, in a fresh directory the memo entry owns:
    the session catalog is in-memory but a managed table's warehouse
    directory is not, so a second process would die with
    LOCATION_ALREADY_EXISTS on a leftover dir. In production the
    location is the index's permanent object-store prefix and the
    catalog is shared, so overwrite semantics apply instead."""

    def build() -> tuple[str, str]:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        loc = memo.temp_dir(f"khose_{name}_{tag}_")
        codes_tbl = memo.table(f"{name}_codes_{tag}")
        cb_tbl = memo.table(f"{name}_codebook_{tag}")
        codes, cb = encode(spark, sf_dir)
        writer = codes.write.format("parquet")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        (
            writer.bucketBy(_PQ_BUCKETS, "vec_id")
            .option("path", f"{loc}/codes")
            .saveAsTable(codes_tbl)
        )
        (
            cb.write.format("parquet")
            .option("path", f"{loc}/codebook")
            .saveAsTable(cb_tbl)
        )
        return codes_tbl, cb_tbl

    return memo.get(spark, name, sf_dir, build)


@query("q_llm_ann_pq_indexed", oracle=_PQ_ORACLE)
def q_llm_ann_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEARCH job of the two-job ANN lifecycle (same answer as
    q_llm_ann_pq — the shared oracle hash-certifies that splitting the
    pipeline changes nothing): read the bucketed 8-byte codes and the
    codebook written by :func:`build_pq_index`, slice only the QUERY
    vectors from the corpus, and run broadcast-LUT ADC top-3.

    Plan (asserted in tests/test_bucketing.py): the codes scan carries
    its bucket distribution on vec_id through the broadcast LUT join
    into the (qid, vec_id) aggregation — zero shuffle before the final
    10-row per-query ranking window. At 100 TB the search job's only
    data motion is the broadcast of the per-query LUT."""
    codes_tbl, cb_tbl = build_pq_index(spark, sf_dir, "pq", encode_pq_sampled)
    codes = spark.table(codes_tbl)
    cb = spark.table(cb_tbl)
    qsub = _pq_subvectors(
        t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    )
    return _pq_search(codes, _pq_lut(qsub, cb))


_PQ_RERANK_R = 50  # ADC candidate pool refined exactly: the
# measured pool-recall curve on the clustered twin is 567 permille
# at R=10, 833 at R=20, 1000 at R=50 (r08) — R=50 makes the exact
# stage's answer limited only by candidate recall that is already
# total on resolvable geometry, at 50 x |queries| refinement rows

# The rerank oracle shares the full ADC CTE chain with _PQ_ORACLE
# (byte-identical prefix — the codebook/assign/LUT stages are
# definitionally the same index), then widens to the top-R candidate
# pool and re-ranks it by EXACT full-precision L2^2 (round-4, id
# tiebreak — the same contract as the recall harness's ground truth).
_PQ_RERANK_ORACLE = _PQ_ORACLE[
    : _PQ_ORACLE.index("    SELECT qid, vec_id AS neighbor_id")
] + f"""
    , cand AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY approx_dist ASC, vec_id ASC)
                 AS rn
        FROM adc
      ) WHERE rn <= {_PQ_RERANK_R}
    )
    SELECT qid, neighbor_id, exact_dist, rank FROM (
      SELECT c.qid, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> (q.v[i] - n.v[i]) ^ 2)), 4) AS exact_dist,
             row_number() OVER (PARTITION BY c.qid ORDER BY
               round(list_sum(list_transform(range(1, 65),
                     i -> (q.v[i] - n.v[i]) ^ 2)), 4) ASC,
               c.vec_id ASC) AS rank
      FROM cand c
      JOIN base q ON q.vec_id = c.qid
      JOIN base n ON n.vec_id = c.vec_id
    ) WHERE rank <= 3
    ORDER BY qid, rank
    """


@query("q_llm_ann_pq_rerank", oracle=_PQ_RERANK_ORACLE)
def q_llm_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ+R — the REFINEMENT stage that makes PQ production-grade:
    ADC ranks the whole corpus from the 8-byte codes exactly as
    q_llm_ann_pq_indexed does, but keeps a top-10 candidate pool per
    query instead of answering from approximate distances; the pool
    (R x queries rows — ~100 here) then fetches its RAW vectors and
    re-ranks by exact full-precision L2^2 (round-4, id tiebreak — the
    recall harness's own ground-truth metric). This is FAISS's
    IVFPQR / two-stage search: compressed codes prune 99.x% of the
    corpus, exact math decides the final order, so the quantizer's
    cell-size distortion (the measured 0-133 permille ADC-final top-3
    agreement on concentrated fixture geometry) stops being the
    answer's accuracy bound and becomes only a candidate-recall bound.

    Plan: identical zero-shuffle ADC aggregation over the bucketed
    codes (tests/test_bucketing.py), then the ~100-row candidate pool
    broadcasts against the embeddings scan — the corpus is read, never
    shuffled, and only R rows per query ever leave it. At 100 TB the
    refinement step touches R x |queries| vectors total; everything
    else moves 8-byte codes."""
    codes_tbl, cb_tbl = build_pq_index(spark, sf_dir, "pq", encode_pq_sampled)
    e = t(spark, sf_dir, "embeddings")
    return _exact_rerank(_rerank_pool(spark, codes_tbl, cb_tbl, e), e)


def _rerank_pool(
    spark: SparkSession, codes_tbl: str, cb_tbl: str, e: DataFrame
) -> DataFrame:
    """(qid, cand_id): each query's top-R ADC candidates off a PQ index."""
    qsub = _pq_subvectors(e.filter(F.col("vec_id") < 10))
    lut = _pq_lut(qsub, spark.table(cb_tbl))
    return _pq_search(spark.table(codes_tbl), lut, k=_PQ_RERANK_R).select(
        "qid", F.col("neighbor_id").alias("cand_id")
    )


def _exact_rerank(cand: DataFrame, e: DataFrame) -> DataFrame:
    """Top-3 of each query's (qid, cand_id) pool by EXACT full-precision
    L2² (zip_with fold, round-4, id tiebreak): the pool broadcasts
    against the embeddings scan, so only R rows per query leave it."""
    base = _dbl_base(e)
    qv = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_vec"), F.col("v").alias("qv")
    )
    pool = cand.join(F.broadcast(qv), F.col("qid") == F.col("q_vec"))
    exact_dist = F.round(
        F.aggregate(
            F.zip_with("qv", "v", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        4,
    )
    w = Window.partitionBy("qid").orderBy(
        F.asc("exact_dist"), F.asc("neighbor_id")
    )
    return (
        base.join(F.broadcast(pool), F.col("vec_id") == F.col("cand_id"))
        .select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            exact_dist.alias("exact_dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("qid", "rank")
    )


_KM_ITERS = 3
_KM_DIM = 64


# The sampled-codebook fixture contract: k = n/50 seed centroids taken
# from the data. The _fixedk twins (similarity_fixedk.py) swap ONLY
# this CTE body for a constant-k md5-ranked seed set.
_KM_CENT0_SAMPLED = (
    "SELECT vec_id // 50 AS cid, v AS cv FROM base WHERE vec_id % 50 = 0"
)


def _km_cte_chain(cent0_sql: str = _KM_CENT0_SAMPLED) -> str:
    """Shared unrolled Lloyd CTE chain (base … assign3/cent3): each
    iteration assigns every vector to its nearest centroid (argmin on
    round(L2², 6), centroid-id tiebreak) and recomputes centroids as
    per-dimension means ROUNDED to 6 decimals — the rounding is the
    determinism contract (see q_llm_kmeans docstring). Used by both the
    k-means oracle and the silhouette oracle so the clustering they
    audit is definitionally the same one; ``cent0_sql`` parameterizes
    the seed-centroid CTE (sampled n/50 default vs the fixed-k twins)."""
    dims = ", ".join(
        f"round(avg(v[{i}]), 6) AS c{i}" for i in range(1, _KM_DIM + 1)
    )
    relist = "list_value(" + ", ".join(
        f"c{i}" for i in range(1, _KM_DIM + 1)
    ) + ")"
    sql = f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cent0 AS (
      {cent0_sql}
    )"""
    prev = "cent0"
    for it in range(1, _KM_ITERS + 1):
        sql += f""", assign{it} AS (
      SELECT vec_id, v, cid FROM (
        SELECT b.vec_id, b.v, c.cid,
               row_number() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY round(list_sum(list_transform(range(1, {_KM_DIM + 1}),
                           i -> (b.v[i] - c.cv[i]) ^ 2)), 6) ASC, c.cid ASC
               ) AS rn
        FROM base b CROSS JOIN {prev} c
      ) WHERE rn = 1
    ), cent{it} AS (
      SELECT cid, {relist} AS cv
      FROM (SELECT cid, {dims} FROM assign{it} GROUP BY cid)
    )"""
        prev = f"cent{it}"
    return sql


def _km_oracle(cent0_sql: str = _KM_CENT0_SAMPLED) -> str:
    """q_llm_kmeans twin: the shared Lloyd chain + per-cluster stats."""
    sql = _km_cte_chain(cent0_sql) + f"""
    SELECT m.cid AS cluster_id, n_members, avg_dist,
           round(cv[1], 6) AS c1, round(cv[2], 6) AS c2,
           round(cv[3], 6) AS c3, round(cv[4], 6) AS c4
    FROM (
      SELECT a.cid, count(*) AS n_members,
             round(avg(sqrt(list_sum(list_transform(range(1, {_KM_DIM + 1}),
                   i -> (a.v[i] - c.cv[i]) ^ 2)))), 4) AS avg_dist
      FROM assign{_KM_ITERS} a JOIN cent{_KM_ITERS} c ON a.cid = c.cid
      GROUP BY a.cid
    ) m JOIN cent{_KM_ITERS} c2 ON m.cid = c2.cid
    """
    return sql


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _lloyd(spark: SparkSession, sf_dir: str, cent: DataFrame | None = None):
    """The deterministic Lloyd loop shared by q_llm_kmeans and
    q_ml_silhouette (and their _fixedk twins): 3 iterations of
    broadcast-fold assignment (argmin on round(L2²,6), cid tiebreak —
    see q_llm_kmeans's determinism contract) + k-keyed centroid
    re-average rounded to 6, with a k-row eager checkpoint per round.
    ``cent`` overrides the seed centroids (default: the sampled n/50
    fixture contract). Returns (assign, cent) for the FINAL iteration;
    neither is persisted — each caller decides its own cache
    lifecycle."""
    e = t(spark, sf_dir, "embeddings")
    base = _dbl_base(e)
    if cent is None:
        cent = base.filter(F.col("vec_id") % 50 == 0).select(
            (F.col("vec_id") / 50).cast("long").alias("cid"),
            F.col("v").alias("cv"),
        )

    def argmin_cid(cents_col):
        """Fold the broadcast (cid, cv) array to the nearest centroid's
        cid: map each centroid to (round(L2²,6), cid) once, then keep
        the first strict minimum — the array is cid-ascending
        (array_sort on structs orders by cid, the leading field), so
        ties break to the smaller cid, matching the oracle's
        row_number ORDER BY d2, cid."""
        scored = F.transform(
            cents_col,
            lambda c: F.struct(
                F.round(_l2sq(F.col("v"), c["cv"]), 6).alias("d2"),
                c["cid"].alias("cid"),
            ),
        )
        init = F.struct(
            F.lit(float("inf")).alias("d2"), F.lit(-1).cast("long").alias("cid")
        )
        return F.aggregate(
            scored,
            init,
            lambda acc, x: F.when(x["d2"] < acc["d2"], x).otherwise(acc),
            lambda acc: acc["cid"],
        )

    assign = None
    for _ in range(_KM_ITERS):
        cents_row = cent.agg(
            F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents")
        )
        assign = (
            base.crossJoin(F.broadcast(cents_row))
            .select("vec_id", "v", argmin_cid(F.col("cents")).alias("cid"))
        )
        cent = assign.groupBy("cid").agg(
            F.array(
                *[
                    F.round(F.avg(F.element_at("v", i)), 6)
                    for i in range(1, _KM_DIM + 1)
                ]
            ).alias("cv")
        # k-row eager checkpoint per Lloyd round (the graph-loop
        # posture): without it each iteration's broadcast materializes
        # the whole PRIOR assignment chain again — the interpreted
        # argmin fold ran ~O(iters²) times (measured 10s -> ~4s at
        # sf0.1).
        ).transform(checkpoint)
    return assign, cent


@query("q_llm_kmeans", oracle=_km_oracle())
def q_llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means over the embedding corpus (k = corpus/50
    seed centroids, 3 fixed Lloyd iterations): per-cluster member count,
    mean distance to centroid, and the first 4 centroid coordinates —
    proof that even ITERATIVE algorithms can be hash-checked against an
    oracle (the DuckDB twin unrolls the loop as a CTE chain) instead of
    falling back to rows-only grading.

    Determinism contract: (a) assignment argmins round(L2², 6) with
    centroid-id tiebreak; (b) each iteration's recomputed centroids are
    ROUNDED to 6 decimals before the next assignment — per-dimension
    means are continuous quantities, so round(6) is hash-stable
    (sqlutil law), and rounding re-synchronizes both engines' floats
    every iteration so drift cannot compound.

    Scale shape: each iteration's centroids collapse to a ONE-ROW
    broadcast holding the (cid, centroid) array, and assignment is a
    map-side argmin FOLD over that array — vectors never shuffle for
    assignment (a per-vector row_number window would re-shuffle the
    whole corpus every iteration).  The only shuffles are the 3 k-keyed
    centroid re-averages + the final stats aggregate — Lloyd's
    algorithm as 3 broadcast-crosses + 3 tiny aggregations, the
    standard distributed k-means layout."""
    assign, cent = _lloyd(spark, sf_dir)
    l2sq = _l2sq
    # The final assignment feeds both the stats aggregate and (via the
    # centroid relation) the output join — unpersisted, each consumer
    # re-executes the whole 3-iteration Lloyd chain (measured: 18
    # shuffle exchanges vs 8). The persisted assignment table is the
    # standard k-means artifact at scale; centroids are k rows.
    assign = assign.persist()
    cent = cent.persist()
    stats = (
        assign.join(F.broadcast(cent), "cid")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg(F.sqrt(l2sq("v", "cv"))), 4).alias("avg_dist"),
        )
    )
    # k-row audit; release both Lloyd caches
    out = _centroid_audit(stats, cent).transform(checkpoint)
    assign.unpersist()
    cent.unpersist()
    return out


def _silhouette_oracle(cent0_sql: str = _KM_CENT0_SAMPLED) -> str:
    """Simplified-silhouette twin over the SAME unrolled Lloyd chain as
    the k-means oracle (shared _km_cte_chain, so the clustering under
    audit is definitionally identical)."""
    n = _KM_ITERS
    return _km_cte_chain(cent0_sql) + f""", dists AS (
      SELECT a.vec_id, a.cid AS own, c.cid,
             round(sqrt(list_sum(list_transform(range(1, {_KM_DIM + 1}),
                   i -> (a.v[i] - c.cv[i]) ^ 2))), 6) AS d
      FROM assign{n} a CROSS JOIN cent{n} c
    ), sil AS (
      SELECT vec_id, own,
             round((min(CASE WHEN cid <> own THEN d END)
                    - min(CASE WHEN cid = own THEN d END))
                   / greatest(min(CASE WHEN cid <> own THEN d END),
                              min(CASE WHEN cid = own THEN d END)),
                   6) AS s
      FROM dists GROUP BY vec_id, own
    )
    SELECT own AS cluster_id,
           count(*) AS n_members,
           round(avg(s), 4) AS silhouette_avg,
           CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative
    FROM sil GROUP BY own ORDER BY own
    """


@query("q_ml_silhouette", oracle=_silhouette_oracle())
def q_ml_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified-silhouette clustering-quality audit of the
    q_llm_kmeans clustering (round 7): for each vector, a = distance to
    its OWN final centroid, b = distance to the nearest OTHER centroid,
    s = (b − a) / max(a, b); per cluster — member count, mean
    silhouette (round 4), and the count of NEGATIVE silhouettes
    (vectors sitting closer to a foreign centroid: the would-be
    reassignments a further Lloyd round would move). The centroid-based
    simplified form IS the scale-correct silhouette: the classic
    all-pairs form is O(n²) by definition, while this is one
    broadcast-fold pass — the same reason SemDeDup and IVF rerank
    within cells only.

    Determinism: the clustering comes from the SHARED `_lloyd` helper
    (identical plan subtree to q_llm_kmeans, per-round round(6)
    re-sync); per-point distances and s round to 6 BEFORE the mean so
    both engines average identical values; one round(4) at the
    boundary. Plan: the Lloyd chain's checkpointed k-row centroids
    broadcast into ONE map-side pass over the final assignment (a and
    b fold over the same scored array — no per-centroid join, no
    shuffle of vectors), then one k-keyed rollup."""
    assign, cent = _lloyd(spark, sf_dir)
    cents_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents")
    )
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            c["cid"].alias("cid"),
            F.round(F.sqrt(_l2sq(F.col("v"), c["cv"])), 6).alias("d"),
        ),
    )
    own = F.col("cid")
    a = F.get(F.filter(scored, lambda x: x["cid"] == own), 0)["d"]
    b = F.array_min(
        F.transform(
            F.filter(scored, lambda x: x["cid"] != own), lambda x: x["d"]
        )
    )
    sil = (
        assign.crossJoin(F.broadcast(cents_row))
        .select(
            "cid",
            F.round((b - a) / F.greatest(a, b), 6).alias("s"),
        )
    )
    return _silhouette_rollup(sil).orderBy("cluster_id")


@query(
    "q_llm_embed_pool",
    oracle="""
    WITH dims AS (
      SELECT label,
             unnest(list_transform(range(1, 65),
                    i -> {'dim': i, 'v': embedding[i]})) AS dv
      FROM embeddings
    ), means AS (
      SELECT label, dv.dim AS dim,
             round(avg(CAST(dv.v AS DOUBLE)), 6) AS m
      FROM dims GROUP BY 1, 2
    ), vecs AS (
      SELECT label, count(*) AS n_dims,
             round(sqrt(sum(m * m)), 4) AS centroid_norm,
             round(max(abs(m)), 6) AS max_abs_dim
      FROM means GROUP BY label
    )
    SELECT v.label, n.n_vecs, v.n_dims, v.centroid_norm, v.max_abs_dim
    FROM vecs v JOIN (
      SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label
    ) n ON n.label = v.label
    """,
)
def q_llm_embed_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroid audit (mean pooling): average the
    64-d vectors within each label, report the centroid's L2 norm and
    largest component — the pre-flight QA for classifier prototypes /
    nearest-centroid search (and the aggregation step of k-means,
    audited standalone). Output is scalar-only (parity law: no array
    columns ever reach the driver canon).

    Plan: posexplode to (label, dim, value) — 64 rows per vector,
    map-side — then ONE shuffle to the (label, dim) grid (cardinality
    640, fixed), then a 10-row re-agg. At 100 TB the partial aggs fold
    vectors into 640 running sums per mapper; nothing ever shuffles a
    raw vector. Per-dim means are rounded to 6 before the norm so both
    engines fold identical doubles (partial-agg order noise ~1e-15 is
    absorbed; the norm itself then rounds to 4)."""
    e = t(spark, sf_dir, "embeddings")
    dims = e.select(
        "label",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))),
    ).select("label", (F.col("pos") + 1).alias("dim"), F.col("col").alias("v"))
    means = dims.groupBy("label", "dim").agg(
        F.round(F.avg("v"), 6).alias("m")
    )
    vecs = means.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias(
            "centroid_norm"
        ),
        F.round(F.max(F.abs("m")), 6).alias("max_abs_dim"),
    )
    n_vecs = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return vecs.join(F.broadcast(n_vecs), "label").select(
        "label", "n_vecs", "n_dims", "centroid_norm", "max_abs_dim"
    )


_SEMDEDUP_THRESH = 0.3  # fixture-scaled (random 64-d cosines ~N(0, .12))


@query(
    "q_llm_semdedup",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cent AS (
      SELECT vec_id // 50 AS cid, v AS cv FROM base WHERE vec_id % 50 = 0
    ), assign AS ({_SQL_L2_ASSIGN}
    ), pairs AS (
      SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {_SEMDEDUP_THRESH}
{_SQL_SEMDEDUP_AUDIT}""",
)
def q_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (cluster-then-prune; the published
    two-stage pattern for embedding dedup at corpus scale): assign every
    vector to its nearest seed centroid (deterministic k = n/50 seeds,
    map-side argmin fold over a 1-row broadcast centroid array — the
    q_llm_kmeans assignment, no shuffle), then search for near-dup
    pairs ONLY within each cluster (cosine >= 0.3, round(4)) and drop
    the higher id of each pair. Output: per-cluster members / dup
    pairs / dropped / kept — the dedup audit a curation run logs.

    Why this scales where all-pairs cannot: the candidate space shrinks
    from O(n²) to sum over clusters of |c|² — with balanced clusters a
    k-fold reduction, tunable via k; the within-cluster self-join is an
    equi-join on cid (one shuffle of (id, vec) pairs), and vectors
    never move for the assignment itself. The oracle recomputes the
    identical pipeline as a CTE chain — hash-certified, not rows-only."""
    e = t(spark, sf_dir, "embeddings")
    base = _dbl_base(e)
    cent = base.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") / 50).cast("long").alias("cid"),
        F.col("v").alias("cv"),
    )

    def l2sq(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    scored = lambda cents: F.transform(  # noqa: E731
        cents,
        lambda c: F.struct(
            F.round(l2sq(F.col("v"), c["cv"]), 6).alias("d2"),
            c["cid"].alias("cid"),
        ),
    )
    init = F.struct(
        F.lit(float("inf")).alias("d2"), F.lit(-1).cast("long").alias("cid")
    )
    cents_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents")
    )
    assign = (
        base.crossJoin(F.broadcast(cents_row))
        .select(
            "vec_id",
            "v",
            F.aggregate(
                scored(F.col("cents")),
                init,
                lambda acc, x: F.when(x["d2"] < acc["d2"], x).otherwise(acc),
                lambda acc: acc["cid"],
            ).alias("cid"),
        )
        .persist()
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    # Precompute each vector's norm ONCE on the persisted assignment:
    # higher-order lambdas run interpreted, and recomputing both norms
    # inside every candidate pair tripled the per-pair fold work
    # (sqrt(dot(v,v)) here is the same expression over the same doubles,
    # so the cosine value — and the hash — is bit-identical).
    a = assign.select(
        F.col("cid").alias("p_cid"),
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("na"),
    )
    b = assign.select(
        F.col("cid").alias("b_cid"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nb"),
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(
            b,
            (F.col("p_cid") == F.col("b_cid")) & (F.col("id_a") < F.col("id_b")),
        )
        .filter(F.round(cos, 4) >= _SEMDEDUP_THRESH)
        .select(F.col("p_cid").alias("cid"), "id_a", "id_b")
    )
    # k-row audit: eagerly materialize, then release the assignment
    # cache (the persist-lifecycle law from the round-4 ADVICE)
    out = _semdedup_audit(assign, pairs)
    assign.unpersist()
    return out


# Logistic-regression hyperparameters: 4 embedding dims + bias, fixed
# learning rate, 3 full-batch gradient steps from w = 0.
_LR_DIMS = 4
_LR_RATE = 1.0
_LR_ITERS = 3
_LR_ROUND = 6


def _lr_oracle() -> str:
    xs = [
        f"CAST(embedding[{j}] AS DOUBLE) AS x{j}"
        for j in range(1, _LR_DIMS + 1)
    ]
    margin = " + ".join(
        ["w0"] + [f"w{j} * x{j}" for j in range(1, _LR_DIMS + 1)]
    )
    prev = "it0"
    ctes = [
        "base AS (SELECT CAST(label % 2 AS DOUBLE) AS y, "
        + ", ".join(xs)
        + " FROM embeddings)",
        "it0 AS (SELECT "
        + ", ".join(f"0.0 AS w{j}" for j in range(_LR_DIMS + 1))
        + ")",
    ]
    for i in range(1, _LR_ITERS + 1):
        ctes.append(
            f"p{i} AS (SELECT b.*, "
            + ", ".join(f"w{j}" for j in range(_LR_DIMS + 1))
            + f", 1.0 / (1.0 + exp(-({margin}))) AS p "
            f"FROM base b CROSS JOIN {prev})"
        )
        updates = [
            f"round(any_value(w0) - {_LR_RATE} * avg((p - y) * 1.0),"
            f" {_LR_ROUND}) AS w0"
        ] + [
            f"round(any_value(w{j}) - {_LR_RATE} * avg((p - y) * x{j}),"
            f" {_LR_ROUND}) AS w{j}"
            for j in range(1, _LR_DIMS + 1)
        ]
        ctes.append(f"it{i} AS (SELECT " + ", ".join(updates) + f" FROM p{i})")
        prev = f"it{i}"
    return (
        "WITH " + ", ".join(ctes) + f"""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN (({margin}) > 0) = (y = 1.0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST((2000 * sum(CASE WHEN (({margin}) > 0) = (y = 1.0)
                                 THEN 1 ELSE 0 END) + count(*))
                // (2 * count(*)) AS BIGINT) AS accuracy_permille,
           """
        + ", ".join(
            f"any_value(w{j}) AS w{j}" for j in range(_LR_DIMS + 1)
        )
        + f" FROM base CROSS JOIN {prev}"
    )


@query("q_ml_logreg", oracle=_lr_oracle())
def q_ml_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression (full-batch gradient descent, 3
    steps, lr=1.0, w=0 start) predicting label parity from the first 4
    embedding dimensions + bias; emits the learned weights and the
    resubstitution accuracy — the third fully-oracled ITERATIVE
    algorithm (after k-means and PageRank): the DuckDB twin unrolls the
    gradient loop as a CTE chain.

    Determinism contract (the kmeans calculus): each step's weights are
    ROUNDED to 6 decimals before the next step, re-synchronizing both
    engines' floats so sigmoid/summation ulp noise cannot compound; the
    margin is written as the SAME left-associated chain on both sides,
    so the final sign test (margin > 0) compares identical doubles; the
    accuracy share uses the half-up integer-permille idiom.

    Scale shape: each iteration is one map-side pass over the corpus
    against a ONE-ROW broadcast weight vector plus a single 1-row
    gradient aggregate (avg is an associative partial agg) — vectors
    never shuffle; 3 iterations = 3 broadcast-crosses + 3 tiny
    reductions, the standard distributed GD layout (and exactly how
    MLlib's LogisticRegression treeAggregates its gradient)."""
    e = t(spark, sf_dir, "embeddings")
    base = e.select(
        (F.col("label") % 2).cast("double").alias("y"),
        *[
            F.element_at("embedding", j).cast("double").alias(f"x{j}")
            for j in range(1, _LR_DIMS + 1)
        ],
    )

    def margin_col():
        m = F.col("w0")
        for j in range(1, _LR_DIMS + 1):
            m = m + F.col(f"w{j}") * F.col(f"x{j}")
        return m

    w_row = spark.range(1).select(
        *[F.lit(0.0).alias(f"w{j}") for j in range(_LR_DIMS + 1)]
    )
    for _ in range(_LR_ITERS):
        scored = base.crossJoin(F.broadcast(w_row)).withColumn(
            "p", F.lit(1.0) / (F.lit(1.0) + F.exp(-margin_col()))
        )
        w_row = scored.agg(
            F.round(
                F.first("w0") - _LR_RATE * F.avg((F.col("p") - F.col("y"))),
                _LR_ROUND,
            ).alias("w0"),
            *[
                F.round(
                    F.first(f"w{j}")
                    - _LR_RATE
                    * F.avg((F.col("p") - F.col("y")) * F.col(f"x{j}")),
                    _LR_ROUND,
                ).alias(f"w{j}")
                for j in range(1, _LR_DIMS + 1)
            ],
        )
    final = base.crossJoin(F.broadcast(w_row))
    correct = ((margin_col() > 0) == (F.col("y") == 1.0)).cast("long")
    return final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(correct).alias("n_correct"),
        F.expr(
            f"CAST((2000 * sum(CAST((("
            + " + ".join(
                ["w0"] + [f"w{j} * x{j}" for j in range(1, _LR_DIMS + 1)]
            )
            + f") > 0) = (y = 1.0) AS BIGINT)) + count(*))"
            f" DIV (2 * count(*)) AS BIGINT)"
        ).alias("accuracy_permille"),
        *[
            F.first(f"w{j}").alias(f"w{j}")
            for j in range(_LR_DIMS + 1)
        ],
    )


@query(
    "q_llm_embedding_drift",
    oracle="""
    WITH halves AS (
      SELECT label, vec_id % 2 AS half,
             unnest(list_transform(range(1, 65),
                    i -> {'dim': i, 'v': embedding[i]})) AS dv
      FROM embeddings
    ), means AS (
      SELECT label, dv.dim AS dim,
             round(avg(CAST(dv.v AS DOUBLE))
                   FILTER (WHERE half = 0), 6) AS ma,
             round(avg(CAST(dv.v AS DOUBLE))
                   FILTER (WHERE half = 1), 6) AS mb
      FROM halves GROUP BY 1, 2
    ), counts AS (
      SELECT label,
             CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_a,
             CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_b
      FROM embeddings GROUP BY 1
    )
    SELECT m.label, c.n_a, c.n_b,
           round(sqrt(sum((ma - mb) * (ma - mb))), 4) AS centroid_l2,
           round(sum(ma * mb)
                 / (sqrt(sum(ma * ma)) * sqrt(sum(mb * mb))), 4)
               AS centroid_cos
    FROM means m JOIN counts c ON c.label = m.label
    GROUP BY 1, 2, 3
    """,
)
def q_llm_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift monitor: split each label's vectors into two
    deterministic halves (vec_id parity — the A/B cohorts a refreshed
    embedding model or a new crawl batch would occupy), compute both
    half-centroids, and report their L2 distance and cosine — the check
    that catches a silently re-versioned encoder (centroids jump) or a
    domain-shifted ingest batch before an ANN index is rebuilt over
    mixed-geometry vectors.

    Per-dim means round to 6 before the distance/cosine fold (the
    q_llm_embed_pool calculus: partial-agg order noise sits at 1e-15,
    far under the rounding grid) and the final scalars round to 4.

    Scale: one posexplode pass folds everything into the fixed
    (label, dim) grid — 640 cells, conditional aggs splitting the
    halves — then a 10-row re-agg; raw vectors never shuffle."""
    e = t(spark, sf_dir, "embeddings")
    halves = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))),
    ).select("label", "half", (F.col("pos") + 1).alias("dim"), F.col("col").alias("v"))
    means = halves.groupBy("label", "dim").agg(
        F.round(F.avg(F.when(F.col("half") == 0, F.col("v"))), 6).alias("ma"),
        F.round(F.avg(F.when(F.col("half") == 1, F.col("v"))), 6).alias("mb"),
    )
    counts = e.groupBy("label").agg(
        F.sum((F.col("vec_id") % 2 == 0).cast("long")).alias("n_a"),
        F.sum((F.col("vec_id") % 2 == 1).cast("long")).alias("n_b"),
    )
    drift = means.groupBy("label").agg(
        F.round(
            F.sqrt(F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))),
            4,
        ).alias("centroid_l2"),
        F.round(
            F.sum(F.col("ma") * F.col("mb"))
            / (
                F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
            ),
            4,
        ).alias("centroid_cos"),
    )
    return drift.join(F.broadcast(counts), "label").select(
        "label", "n_a", "n_b", "centroid_l2", "centroid_cos"
    )


@query(
    "q_llm_embedding_audit",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, label, len(embedding) AS dim,
             round(sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4)
                 AS norm
      FROM embeddings
    )
    SELECT count(*) AS n_vecs,
           CAST(min(dim) AS BIGINT) AS dim_min,
           CAST(max(dim) AS BIGINT) AS dim_max,
           CAST(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dim_mismatch,
           CAST(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_vecs,
           round(min(norm), 4) AS norm_min,
           round(max(norm), 4) AS norm_max,
           count(DISTINCT label) AS n_labels
    FROM vecs
    """,
)
def q_llm_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table quality gate — run BEFORE any ANN index build:
    vector count, dimension min/max and mismatch count (a ragged
    column silently breaks every GEMM/PQ path), zero-vector count
    (cosine is undefined on them), the L2-norm range (round-4, the
    vec_quantize norm idiom), and the label cardinality. The
    embeddings twin of q_profile_columns.

    Plan: one map-side pass over the vector column (length + one
    fused square-sum per row — the payload never shuffles) + a 1-row
    fold. Linear at any scale."""
    vecs = t(spark, sf_dir, "embeddings").select(
        "label",
        F.size("embedding").alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(
                    "embedding",
                    F.lit(0.0),
                    lambda acc, x: acc
                    + x.cast("double") * x.cast("double"),
                )
            ),
            4,
        ).alias("norm"),
    )
    return vecs.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("dim").cast("long").alias("dim_min"),
        F.max("dim").cast("long").alias("dim_max"),
        F.sum(F.when(F.col("dim") != 64, 1).otherwise(0)).alias(
            "n_dim_mismatch"
        ),
        F.sum(F.when(F.col("norm") == 0.0, 1).otherwise(0)).alias(
            "n_zero_vecs"
        ),
        F.round(F.min("norm"), 4).alias("norm_min"),
        F.round(F.max("norm"), 4).alias("norm_max"),
        F.countDistinct("label").alias("n_labels"),
    )
