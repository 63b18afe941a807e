"""SimHash near-duplicate detection (SURVEY.md §2.8 extension family).

A 32-bit SimHash per document over its distinct 3-word shingles, with
Hamming-distance candidate pairs found by **banding** (4 bands × 8 bits):
any pair within Hamming distance 3 differs in at most 3 of the 4 bands,
so by pigeonhole it matches on at least one full band — the band
equi-join is therefore a *lossless* candidate generator for the d<=3
filter, and it is the 100 TB plan: one shuffle on (band_id, band_bits)
instead of an O(n²) self-join. The DuckDB oracle computes the naive
all-pairs form; both are exact, so the results hash-match.

Portability: the per-shingle 32-bit hash is built from the first 8 hex
chars of md5(shingle) — md5 is bit-identical across engines, and the
hex→int arithmetic is plain SQL (Spark `conv`, DuckDB `instr` table
lookup), so no engine-specific hash function is involved.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.operators.llm import _sql_shingles, doc_shingles, shingles
from khose_spark.registry import query
from khose_spark.tables import t

_N_BITS = 32
_N_BANDS = 4
_BAND_BITS = _N_BITS // _N_BANDS
_MAX_HAMMING = 3


def simhash_signatures(docs: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, simhash) — 32-bit SimHash over distinct 3-word shingles.

    Each hex char j of md5(shingle)[0:8] carries bits 4(j-1)..4(j-1)+3.
    Per document and bit position: vote = sum(+1 if bit set else -1)
    over shingles; the signature bit is 1 iff the vote is positive
    (ties → 0, deterministic). One explode + one groupBy(doc_id): the
    shuffle key is the dense doc_id, never the text."""
    if sh is None:
        sh = shingles(docs)
    # One conv over the 8-char prefix, nibbles peeled arithmetically —
    # not 8× conv(substr(md5,...)): md5 is CSE'd but conv is not free,
    # and this runs once per shingle occurrence at corpus scale.
    h = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
    # r13: nibble/bit peeling as shiftright+bitwiseAND instead of
    # floor(h / 2^k) % m — identical integers for the nonnegative
    # 32-bit h (the oracle keeps the floor/mod spelling, certified
    # equal), but the JVM evaluates 2 integer ops per bit instead of a
    # double divide + floor + mod, and this runs 32× per shingle
    # occurrence.
    vals = sh.select(
        "doc_id",
        *[
            F.shiftright(h, 4 * (8 - j)).bitwiseAND(15).cast("int").alias(
                f"v{j}"
            )
            for j in range(1, 9)
        ],
    )
    bit_votes = [
        F.sum(
            2 * F.shiftright(F.col(f"v{j}"), k).bitwiseAND(1) - 1
        ).alias(f"vote{4 * (j - 1) + k}")
        for j in range(1, 9)
        for k in range(4)
    ]
    votes = vals.groupBy("doc_id").agg(*bit_votes)
    simhash = reduce(
        lambda a, b: a + b,
        [
            F.when(F.col(f"vote{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
            for i in range(_N_BITS)
        ],
    ).cast("long")
    return votes.select("doc_id", simhash.alias("simhash"))


def _oracle_sql() -> str:
    hex_vals = ", ".join(
        f"instr('0123456789abcdef', substr(md5(shingle), {j}, 1)) - 1 AS v{j}"
        for j in range(1, 9)
    )
    bits = " + ".join(
        f"CASE WHEN sum(2 * (floor(v{j} / {2 ** k}) % 2) - 1) > 0"
        f" THEN {2 ** (4 * (j - 1) + k)} ELSE 0 END"
        for j in range(1, 9)
        for k in range(4)
    )
    return f"""
    WITH {_sql_shingles()}, hx AS (
      SELECT doc_id, {hex_vals} FROM sh
    ), sig AS (
      SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM hx GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
    """


@query("q_llm_simhash", oracle=_oracle_sql())
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= 3, found via the
    lossless 4×8-bit band join (see module docstring). Emits
    (id_a, id_b, hamming) with id_a < id_b.

    The signature relation is persisted before the band self-join:
    without it, BOTH join sides re-run the whole shingle-explode +
    32-vote aggregation subplan (no ReusedExchange across the alias
    boundary — measured 4.1s -> 0.8s at sf0.1). The cached relation is
    (doc_id, simhash) = 16 bytes/doc — memory-trivial at any corpus
    size, spills to disk past memory either way."""
    # r13: the shingle base comes from the session-memoized
    # doc_shingles checkpoint (shared with the Jaccard/MinHash family).
    sig = simhash_signatures(
        t(spark, sf_dir, "documents"), sh=doc_shingles(spark, sf_dir)
    ).persist()
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band_id"),
                        (F.floor(F.col("simhash") / (2 ** (_BAND_BITS * band)))
                         % (2 ** _BAND_BITS)).alias("band_bits"),
                    )
                    for band in range(_N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_id", "b.band_bits")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    out = (
        cand.select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= _MAX_HAMMING)
        .transform(checkpoint)  # near-dup pairs; release the signature cache
    )
    sig.unpersist()
    return out
