"""Deterministic MinHash + LSH recall auditing (SURVEY.md §2.8
extension).

``q_llm_minhash_lsh`` (operators/llm.py) is rows-only because its
signatures use Spark's engine-specific ``hash()``. The two operators
here close that gap with an ENGINE-PORTABLE MinHash (md5-derived, so
DuckDB recomputes the identical signatures) — making the whole
MinHash→band→verify pipeline hash-checkable end to end:

* ``q_llm_minhash_det`` — 16-permutation md5 MinHash signatures, a
  LOSSLESS 8×2 band join (pigeonhole: ≥10 agreeing positions of 16 ⇒
  ≤6 disagreements ⇒ at least one of 8 bands fully agrees), exact
  agreement count on candidates only. The oracle computes the naive
  all-pairs form — a hash match certifies the band join loses nothing.
* ``q_llm_lsh_recall_audit`` — the measurement every LSH deployment
  needs: band-candidate recall against the exact-Jaccard ≥0.8 truth
  set, as exact integer counts + permille recall.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark import memo
from khose_spark.memo import checkpoint
from khose_spark.operators.llm import (
    _SQL_ALL_PAIRS_OVERLAP,
    _sql_shingles,
    all_pairs_overlap,
    doc_shingles,
    jaccard,
    shingle_array,
    sized_pairs,
)
from khose_spark.registry import query
from khose_spark.sqlutil import cents, sql_cents
from khose_spark.tables import t

_N_HASHES = 16
_BAND_ROWS = 2  # 8 bands x 2 rows: lossless for <= 7 disagreements
_MIN_AGREE = 10  # >= 10/16 agreeing positions (est. Jaccard >= ~0.6)

# Shared DuckDB shingle CTE (same idiom as q_llm_neardup_jaccard).
# sh/sig are re-read by multiple downstream CTEs in every consumer
# oracle; MATERIALIZED stops DuckDB re-running the shingle explode /
# 16-hash aggregation per reference (k-core precedent).
_SQL_SHINGLES = _sql_shingles(cte="sh AS MATERIALIZED")

# Each md5 digest (32 hex chars) yields FOUR independent 32-bit hash
# values (non-overlapping 8-char slices), so 16 permutations cost 4
# md5 evaluations per shingle, not 16 — the signature aggregation is
# the dominant cost of the whole pipeline at corpus scale.
_SQL_SIG = (
    "sig AS MATERIALIZED (\n      SELECT doc_id,\n"
    + ",\n".join(
        f"             min(substr(md5(concat('{i // 4}|', shingle)),"
        f" {8 * (i % 4) + 1}, 8)) AS s{i}"
        for i in range(_N_HASHES)
    )
    + "\n      FROM sh GROUP BY doc_id\n    )"
)

_SQL_AGREE = " + ".join(
    f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES)
)


def _det_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s0..s15): md5-permutation MinHash signatures — one
    shuffle on doc_id, map-side partial min. Engine-portable: min over
    fixed-width lowercase-hex slices is identical in Spark and DuckDB.

    Permutation i uses slice i%4 of digest md5('{i//4}|' || shingle):
    4 md5 evaluations per shingle instead of 16 (see _SQL_SIG note) —
    measured 3.2s -> 0.9s for the signature stage at sf0.1.

    The relation is eagerly materialized and memoized per (application,
    sf_dir) in khose_spark.memo, next to the doc_shingles checkpoint it
    is built from: five registered keys consume it, and it is always
    the FULL corpus's signatures. 16×8 hex chars per doc, so the pinned
    footprint is ~n_docs·150 B."""

    def build() -> DataFrame:
        base = doc_shingles(spark, sf_dir)
        digests = [
            F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))
            for s in range(4)
        ]
        return base.groupBy("doc_id").agg(
            *[
                F.min(
                    F.substring(digests[i // 4], 8 * (i % 4) + 1, 8)
                ).alias(f"s{i}")
                for i in range(_N_HASHES)
            ]
        ).transform(checkpoint)

    return memo.get(spark, "minhash_signatures", sf_dir, build)


def _bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key): one row per signature band, the key
    the band's _BAND_ROWS slots joined by "|"."""
    n_bands = _N_HASHES // _BAND_ROWS
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"s{b * _BAND_ROWS + r}")
                                for r in range(_BAND_ROWS)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band_id", "b.band_key")


def _band_candidates(sig: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one full band.
    One explode to (doc, band_id, band row values) + one equi-join
    shuffle on the band key — linear candidate generation, no all-pairs."""
    bands = _bands(sig)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )


@query(
    "q_llm_minhash_det",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({_SQL_AGREE} AS BIGINT) AS n_agree
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE {_SQL_AGREE} >= {_MIN_AGREE}
    """,
)
def q_llm_minhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MinHash near-dup detection, hash-checked end to
    end: 16 md5-permutation minhashes per doc, 8×2 band join for
    candidates, exact signature-agreement count (≥10/16) on candidates
    only. The band scheme is LOSSLESS for this threshold (≤6 differing
    positions cannot cover all 8 bands), so the linear-cost banded plan
    provably equals the oracle's quadratic all-pairs scan — the
    certification q_llm_minhash_lsh (engine-specific hash, rows-only)
    cannot offer.

    Scale: signature agg is one doc_id shuffle; the band join shuffles
    8 small rows per doc on (band_id, band_key); agreement counting
    joins the two signature rows per CANDIDATE pair only. At 100 TB the
    only skew risk is a degenerate band key shared by a huge cluster of
    true duplicates — exactly the rows you want to find."""
    sig = _det_signatures(spark, sf_dir)
    cand = _band_candidates(sig)
    a = sig.alias("a")
    b = sig.alias("b")
    agree = sum(
        F.when(F.col(f"a.s{i}") == F.col(f"b.s{i}"), 1).otherwise(0)
        for i in range(_N_HASHES)
    )
    out = (
        cand.join(a, cand["id_a"] == F.col("a.doc_id"))
        .join(b, cand["id_b"] == F.col("b.doc_id"))
        .select(
            "id_a", "id_b", agree.cast("long").alias("n_agree")
        )
        .filter(F.col("n_agree") >= _MIN_AGREE)
        # Pregel-style lifecycle (graph.py loop pattern, ADVICE round
        # 4): eagerly materialize the small candidate-pair result, then
        # release the big signature cache instead of leaving it pinned
        # in executor memory for the rest of the session.
        .transform(checkpoint)
    )
    return out


def _band_recall(spark: SparkSession, sf_dir: str, truth: Column) -> DataFrame:
    """One audit row (n_exact, n_candidates, n_hit, recall_permille):
    how many all-pairs shingle-overlap pairs meeting ``truth`` (over
    n_common/na/nb) the 8x2 band join proposes; 1000 when the truth set
    is empty."""
    sh = doc_shingles(spark, sf_dir)
    exact = (
        all_pairs_overlap(sh).filter(truth).select("id_a", "id_b").persist()
    )
    sig = _det_signatures(spark, sf_dir)
    cand = _band_candidates(sig).persist()
    hit = exact.join(cand, ["id_a", "id_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    row = n_exact.crossJoin(F.broadcast(n_cand)).crossJoin(F.broadcast(n_hit))
    recall = F.when(F.col("n_exact") == 0, F.lit(1000).cast("long")).otherwise(
        F.expr("(n_hit * 2000 + n_exact) DIV (2 * n_exact)").cast("long")
    )
    # Eagerly collapse to the single audit row, then release all four
    # cached intermediates — this query pinned the largest share of
    # executor memory across a full-suite session (ADVICE round 4).
    out = row.select(
        "n_exact", "n_candidates", "n_hit", recall.alias("recall_permille")
    ).transform(checkpoint)
    for df in (sh, exact, sig, cand):
        df.unpersist()
    return out

def _sql_band_recall(truth: str) -> str:
    """SQL twin of :func:`_band_recall`: the audit row for the all-pairs
    shingle-overlap pairs meeting ``truth`` (over n_common, sa.n and
    sb.n)."""
    return f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG},
    {_SQL_ALL_PAIRS_OVERLAP}, exact AS MATERIALIZED (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE {truth}
    ), cand AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {" OR ".join(
          "(" + " AND ".join(
              f"a.s{b * _BAND_ROWS + r} = b.s{b * _BAND_ROWS + r}"
              for r in range(_BAND_ROWS)
          ) + ")"
          for b in range(_N_HASHES // _BAND_ROWS)
      )}
    )
    SELECT (SELECT count(*) FROM exact) AS n_exact,
           (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM exact e
             JOIN cand c ON c.id_a = e.id_a AND c.id_b = e.id_b) AS n_hit,
           CASE WHEN (SELECT count(*) FROM exact) = 0 THEN 1000
                ELSE CAST(((SELECT count(*) FROM exact e
                            JOIN cand c ON c.id_a = e.id_a
                                       AND c.id_b = e.id_b) * 2000
                           + (SELECT count(*) FROM exact))
                          // (2 * (SELECT count(*) FROM exact)) AS BIGINT)
           END AS recall_permille
    """


@query(
    "q_llm_lsh_recall_audit",
    oracle=_sql_band_recall(
        "CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8"
    ),
)
def q_llm_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality gate: band-candidate recall vs the exact-Jaccard
    ≥0.8 truth set, as one audit row (n_exact, n_candidates, n_hit,
    half-up permille recall; 1000 when the truth set is empty). This is
    the measurement that decides bands×rows in production — and because
    the MinHash here is engine-portable, even the candidate set itself
    is hash-certified against DuckDB's all-pairs recomputation.

    Scale: truth set via shingle equi-join (the verify tier), candidates
    via the 8×2 band join — both linear-cost; the audit joins two pair
    lists and reduces to one row."""
    return _band_recall(spark, sf_dir, jaccard() >= 0.8)


_CDC_MOD = 16  # expected chunk length ~16 words


@query(
    "q_llm_cdc_chunking",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, lang, CAST(p.pos AS BIGINT) AS pos, p.w AS w
      FROM (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, len(ws) + 1),
                      i -> {{'pos': i, 'w': ws[i]}})) AS p
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws
              FROM documents)
      )
    ), flagged AS (
      SELECT doc_id, lang, pos, w,
             CASE WHEN (instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1)
                       % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM words
    ), chunked AS (
      SELECT doc_id, lang, pos, w,
             sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS chunk_no
      FROM flagged
    ), chunks AS (
      SELECT doc_id, lang, chunk_no,
             md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash,
             count(*) AS chunk_len
      FROM chunked GROUP BY 1, 2, 3
    )
    SELECT lang,
           count(*) AS n_chunks,
           count(DISTINCT chunk_hash) AS n_distinct_chunks,
           CAST(sum(chunk_len) AS BIGINT) AS n_words,
           CAST((2 * count(DISTINCT chunk_hash) * 1000 + count(*))
                // (2 * count(*)) AS BIGINT) AS unique_permille
    FROM chunks GROUP BY lang
    """,
)
def q_llm_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the Rabin-fingerprint storage-dedup
    primitive, word-granular): a chunk boundary opens wherever the
    word's own hash lands in a fixed residue class (expected chunk
    length 16 words) — boundaries depend only on CONTENT, so an
    insertion shifts at most one chunk instead of re-aligning the whole
    document (the property fixed-size blocking lacks). Per language:
    chunk count, distinct chunk hashes, and the dedup-relevant
    unique-chunk permille.

    Plan: per-word boundary flags map-side (one md5 nibble), chunk ids
    via ONE doc-partitioned running sum, chunk reassembly as a
    (doc, chunk) aggregation whose ordered concat uses
    array_sort(collect_list(struct(pos, w))) — deterministic without a
    sort within the shuffle. Everything is keyed by doc/chunk —
    linear, skew-free at any corpus size."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        "lang",
        F.posexplode(F.split("text", " ")).alias("pos0", "w"),
    ).select(
        "doc_id", "lang", (F.col("pos0") + 1).cast("long").alias("pos"), "w"
    )
    nibble = F.conv(F.substring(F.md5("w"), 1, 1), 16, 10).cast("int")
    flagged = words.withColumn(
        "boundary", ((nibble % _CDC_MOD) == 0).cast("long")
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    chunked = flagged.withColumn("chunk_no", F.sum("boundary").over(w_run))
    chunk_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "w"))),
            lambda x: x["w"],
        ),
        " ",
    )
    chunks = chunked.groupBy("doc_id", "lang", "chunk_no").agg(
        F.md5(chunk_text).alias("chunk_hash"),
        F.count(F.lit(1)).alias("chunk_len"),
    )
    return chunks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("chunk_hash").alias("n_distinct_chunks"),
        F.sum("chunk_len").cast("long").alias("n_words"),
        F.expr(
            "CAST((2 * count(DISTINCT chunk_hash) * 1000 + count(*))"
            " DIV (2 * count(*)) AS BIGINT)"
        ).alias("unique_permille"),
    )


# Sorted-neighborhood matching bands: exact duplicates (dist 0) vs near
# matches (dist 1..4 — two-word part names sharing the block adjective
# differ by up to one noun swap).
_SNM_NEAR_MAX = 4
_SNM_WINDOW = 2  # each record compares against the next 2 neighbors


@query(
    "q_er_sorted_neighborhood",
    oracle=f"""
    WITH base AS (
      SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk
      FROM part
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY blk
                                   ORDER BY p_name, p_partkey) AS rn
      FROM base
    ), pairs AS (
      SELECT a.blk, levenshtein(a.p_name, b.p_name) AS dist
      FROM ranked a
      JOIN ranked b ON b.blk = a.blk
                   AND b.rn - a.rn BETWEEN 1 AND {_SNM_WINDOW}
    ), recs AS (
      SELECT blk, count(*) AS n_records FROM base GROUP BY 1
    )
    SELECT r.blk, r.n_records,
           count(p.dist) AS n_pairs,
           CAST(sum(CASE WHEN p.dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact,
           CAST(sum(CASE WHEN p.dist BETWEEN 1 AND {_SNM_NEAR_MAX}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near
    FROM recs r LEFT JOIN pairs p ON p.blk = r.blk
    GROUP BY 1, 2
    """,
)
def q_er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution (Hernandez/Stolfo SNM)
    over part records: block by the name's first word, sort each block
    by (name, key), compare every record against its next 2 neighbors
    with edit distance, and report the per-block match-band audit
    (records, pairs compared, exact duplicates, near matches) — the
    linear-comparison dedup that replaces the O(n^2) all-pairs match.

    The Spark plan IS the SNM scan: one shuffle on the block key, two
    `lead()` lookups over the sorted window (no self-join at all), then
    a per-block aggregate. The oracle recomputes the same neighborhood
    via row_number + self-join, so the hash-match certifies the
    window-scan ≡ join formulation. All-integer output.

    Scale: block key cardinality bounds the shuffle and the window
    partitions; window w=2 makes comparisons exactly 2n regardless of
    block size. Skewed blocks (one giant adjective) degrade the window
    to one task — production mitigation is a composite block key
    (adjective + name-length bucket), same plan shape."""
    base = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split("p_name", " ").getItem(0).alias("blk"),
    )
    w = Window.partitionBy("blk").orderBy("p_name", "p_partkey")
    with_leads = base.select(
        "blk",
        "p_name",
        *[
            F.lead("p_name", i).over(w).alias(f"nb{i}")
            for i in range(1, _SNM_WINDOW + 1)
        ],
    )
    dists = with_leads.select(
        "blk",
        *[
            F.levenshtein("p_name", f"nb{i}").alias(f"d{i}")
            for i in range(1, _SNM_WINDOW + 1)
        ],
    )
    dcols = [F.col(f"d{i}") for i in range(1, _SNM_WINDOW + 1)]
    return dists.groupBy("blk").agg(
        F.count(F.lit(1)).alias("n_records"),
        sum(F.count(c) for c in dcols).alias("n_pairs"),
        sum(F.sum((c == 0).cast("long")) for c in dcols).alias("n_exact"),
        sum(
            F.sum(((c >= 1) & (c <= _SNM_NEAR_MAX)).cast("long"))
            for c in dcols
        ).alias("n_near"),
    )


# Bloom prefilter geometry: m = 63 * 1024 bit positions (63-bit words
# dodge signed-shift overflow in both engines, the q_agg_bitmap_distinct
# trick), k = 2 md5-derived hash functions (16 hex bits each).
_BLOOM_WORDS = 1024
_BLOOM_M = 63 * _BLOOM_WORDS
_BLOOM_EVAL_MAX_ID = 50


def _bloom_pos(col, lo: int):
    """Hash position lo..lo+3 hex chars of md5 -> [0, _BLOOM_M)."""
    return (
        F.conv(F.substring(F.md5(col), lo, 4), 16, 10).cast("long")
        % _BLOOM_M
    )


def _sql_bloom_pos(expr: str, lo: int) -> str:
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr(md5({expr}), {lo + j}, 1)) - 1)"
        f" * {16 ** (3 - j)}"
        for j in range(4)
    )
    return f"(({terms}) % {_BLOOM_M})"


@query(
    "q_llm_bloom_prefilter",
    oracle=f"""
    WITH {_sql_shingles()}, train_sh AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id >= {_BLOOM_EVAL_MAX_ID}
    ), eval_sh AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id < {_BLOOM_EVAL_MAX_ID}
    ), positions AS (
      SELECT {_sql_bloom_pos('shingle', 1)} AS pos FROM train_sh
      UNION ALL
      SELECT {_sql_bloom_pos('shingle', 5)} AS pos FROM train_sh
    ), bloom AS (
      SELECT pos // 63 AS word_idx,
             bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS word
      FROM positions GROUP BY 1
    ), bloom_stats AS (
      SELECT count(*) AS n_words_used,
             CAST(sum(bit_count(word)) AS BIGINT) AS n_bits_set
      FROM bloom
    ), probes AS (
      SELECT shingle, unnest([{_sql_bloom_pos('shingle', 1)},
                              {_sql_bloom_pos('shingle', 5)}]) AS pos
      FROM eval_sh
    ), tested AS (
      SELECT p.shingle,
             bool_and(coalesce((b.word & (1::BIGINT << CAST(p.pos % 63 AS INT)))
                               <> 0, FALSE)) AS bloom_hit
      FROM probes p LEFT JOIN bloom b ON b.word_idx = p.pos // 63
      GROUP BY 1
    ), flagged AS (
      SELECT t.shingle, t.bloom_hit,
             (ts.shingle IS NOT NULL) AS is_member
      FROM tested t LEFT JOIN train_sh ts ON ts.shingle = t.shingle
    )
    SELECT count(*) AS n_eval_shingles,
           CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_members,
           CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bloom_hits,
           CAST(sum(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST((2000 * sum(CASE WHEN bloom_hit AND NOT is_member
                                 THEN 1 ELSE 0 END)
                 + sum(CASE WHEN NOT is_member THEN 1 ELSE 0 END))
                // (2 * sum(CASE WHEN NOT is_member THEN 1 ELSE 0 END))
                AS BIGINT) AS fp_permille,
           any_value(n_words_used) AS n_words_used,
           any_value(n_bits_set) AS n_bits_set
    FROM flagged CROSS JOIN bloom_stats
    """,
)
def q_llm_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom-filter prefilter audit — the measured scale
    path q_llm_contamination's docstring promises: build a 64512-bit /
    2-hash Bloom filter over the training corpus's distinct 3-gram
    shingles, probe every eval-side shingle, and report hits vs ground
    truth (exact membership join) plus the false-positive permille and
    filter saturation — exactly the sizing report that decides whether
    a Bloom prefilter can replace the exact shingle join at 100 TB
    (expected FP rate at load factor p_set: p_set^k).

    Determinism: hashes are md5 hex arithmetic (engine-portable, the
    split_assign idiom), the filter is 1024 63-bit words built with
    bit_or (exactly the q_agg_bitmap_distinct wire format), and every
    output is an integer — even the Bloom BITS are hash-checked against
    the oracle's independently-built filter.

    Scale: filter build is one bit_or aggregate over 2 positions per
    distinct train shingle (map-side partial OR, 1024-row output);
    probing joins eval probes against the <=1024-row broadcast filter;
    the exact-membership join exists ONLY because this is the audit —
    the production prefilter drops it (that being the point)."""
    docs = t(spark, sf_dir, "documents")
    sh = doc_shingles(spark, sf_dir)
    train_sh = (
        sh.filter(F.col("doc_id") >= _BLOOM_EVAL_MAX_ID)
        .select("shingle")
        .distinct()
        .persist()
    )
    eval_sh = (
        sh.filter(F.col("doc_id") < _BLOOM_EVAL_MAX_ID)
        .select("shingle")
        .distinct()
    )
    positions = train_sh.select(
        F.explode(
            F.array(
                _bloom_pos(F.col("shingle"), 1),
                _bloom_pos(F.col("shingle"), 5),
            )
        ).alias("pos")
    )
    bloom = positions.groupBy(
        (F.col("pos") / 63).cast("long").alias("word_idx")
    ).agg(
        F.expr("bit_or(shiftleft(1L, CAST(pos % 63 AS INT)))").alias("word")
    ).persist()
    bloom_stats = bloom.agg(
        F.count(F.lit(1)).alias("n_words_used"),
        F.sum(F.bit_count("word")).cast("long").alias("n_bits_set"),
    )
    probes = eval_sh.select(
        "shingle",
        F.explode(
            F.array(
                _bloom_pos(F.col("shingle"), 1),
                _bloom_pos(F.col("shingle"), 5),
            )
        ).alias("pos"),
    )
    tested = (
        probes.join(
            F.broadcast(bloom),
            (F.col("pos") / 63).cast("long") == F.col("word_idx"),
            "left",
        )
        .groupBy("shingle")
        .agg(
            F.min(
                F.coalesce(
                    F.expr(
                        "(word & shiftleft(1L, CAST(pos % 63 AS INT))) != 0"
                    ),
                    F.lit(False),
                )
            ).alias("bloom_hit")
        )
    )
    flagged = tested.join(
        train_sh.withColumn("is_member", F.lit(True)), "shingle", "left"
    ).select(
        "bloom_hit", F.coalesce("is_member", F.lit(False)).alias("is_member")
    )
    non_member = (~F.col("is_member")).cast("long")
    fp = (F.col("bloom_hit") & ~F.col("is_member")).cast("long")
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n_eval_shingles"),
        F.sum(F.col("is_member").cast("long")).alias("n_members"),
        F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hits"),
        F.sum(fp).alias("n_false_pos"),
        F.sum(non_member).alias("_n_non_members"),
    )
    out = (
        agg.crossJoin(F.broadcast(bloom_stats))
        .select(
            "n_eval_shingles",
            "n_members",
            "n_bloom_hits",
            "n_false_pos",
            F.expr(
                "CAST((2000 * n_false_pos + _n_non_members)"
                " DIV (2 * _n_non_members) AS BIGINT)"
            ).alias("fp_permille"),
            "n_words_used",
            "n_bits_set",
        )
        # One audit row: materialize it, release both caches (the
        # recall-audit lifecycle pattern above).
        .transform(checkpoint)
    )
    train_sh.unpersist()
    bloom.unpersist()
    return out


# Fellegi-Sunter parameters (contract constants): m-probability per
# comparison field, the assumed u for the name-edit comparison (the one
# field whose random-agreement rate would need an all-pairs pass), and
# the decision thresholds on the rounded total weight.
_FS_M = 0.9
_FS_U_NAME = 0.001
_FS_SIZE_TOL = 2
_FS_NAME_TOL = 4
_FS_T_LINK = 4.0
_FS_T_NONLINK = 0.0


@query(
    "q_er_fellegi_sunter",
    oracle=f"""
    WITH base AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_size,
             string_split(p_name, ' ')[1] AS blk
      FROM part
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY blk
                                   ORDER BY p_name, p_partkey) AS rn
      FROM base
    ), pairs AS (
      SELECT CASE WHEN a.p_brand = b.p_brand THEN '1' ELSE '0' END ||
             CASE WHEN a.p_type = b.p_type THEN '1' ELSE '0' END ||
             CASE WHEN abs(a.p_size - b.p_size) <= {_FS_SIZE_TOL}
                  THEN '1' ELSE '0' END ||
             CASE WHEN levenshtein(a.p_name, b.p_name) <= {_FS_NAME_TOL}
                  THEN '1' ELSE '0' END AS pattern
      FROM ranked a
      JOIN ranked b ON b.blk = a.blk AND b.rn - a.rn BETWEEN 1 AND 2
    ), patt AS (
      SELECT pattern, count(*) AS n_pairs FROM pairs GROUP BY pattern
    ), nrec AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM base
    ), ub AS (
      SELECT CAST(sum(f * f) AS BIGINT) AS s2
      FROM (SELECT count(*) AS f FROM base GROUP BY p_brand)
    ), ut AS (
      SELECT CAST(sum(f * f) AS BIGINT) AS s2
      FROM (SELECT count(*) AS f FROM base GROUP BY p_type)
    ), us AS (
      SELECT CAST(sum(x.f * y.f) AS BIGINT) AS s2
      FROM (SELECT p_size, count(*) AS f FROM base GROUP BY 1) x
      JOIN (SELECT p_size, count(*) AS f FROM base GROUP BY 1) y
        ON abs(x.p_size - y.p_size) <= {_FS_SIZE_TOL}
    ), u AS (
      SELECT CAST(ub.s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
               AS u_brand,
             CAST(ut.s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
               AS u_type,
             CAST(us.s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
               AS u_size,
             {_FS_U_NAME} AS u_name
      FROM nrec CROSS JOIN ub CROSS JOIN ut CROSS JOIN us
    ), weighted AS (
      SELECT pattern, n_pairs,
             round(
               CASE substr(pattern, 1, 1) WHEN '1'
                 THEN ln({_FS_M} / u_brand)
                 ELSE ln({1.0 - _FS_M} / (1.0 - u_brand)) END
             + CASE substr(pattern, 2, 1) WHEN '1'
                 THEN ln({_FS_M} / u_type)
                 ELSE ln({1.0 - _FS_M} / (1.0 - u_type)) END
             + CASE substr(pattern, 3, 1) WHEN '1'
                 THEN ln({_FS_M} / u_size)
                 ELSE ln({1.0 - _FS_M} / (1.0 - u_size)) END
             + CASE substr(pattern, 4, 1) WHEN '1'
                 THEN ln({_FS_M} / u_name)
                 ELSE ln({1.0 - _FS_M} / (1.0 - u_name)) END, 4)
               AS weight
      FROM patt CROSS JOIN u
    )
    SELECT pattern, CAST(n_pairs AS BIGINT) AS n_pairs, weight,
           CASE WHEN weight >= {_FS_T_LINK} THEN 'link'
                WHEN weight <= {_FS_T_NONLINK} THEN 'non-link'
                ELSE 'possible' END AS decision
    FROM weighted
    """,
)
def q_er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage scoring over the
    sorted-neighborhood candidate pairs (q_er_sorted_neighborhood's
    blocking): each pair's four field comparisons (brand equal, type
    equal, size within ±2, name edit distance ≤ 4) collapse into an
    AGREEMENT PATTERN, and each pattern gets the classic log-likelihood
    match weight Σ ln(m/u) − the decision-theoretic core of every
    production ER engine (Splink et al.).

    u-probabilities (random-agreement rates) are ESTIMATED FROM DATA as
    Σf²/N² (exact int64 frequency sums, one double division); the name
    comparison's u is a contract constant (estimating it needs the
    all-pairs scan blocking exists to avoid). m = 0.9 per field.
    Weights are computed PER PATTERN (≤16 rows), not per pair — the
    per-pair work is pure integer/bit pattern formation, so the float
    surface is 16 rounded weight evaluations from broadcast scalars.

    Plan: one block-key window pass (the SNM scan, 2 lead lookups, no
    self-join), a ≤16-row pattern aggregation, frequency aggs for the
    u-estimates (vocabulary-sized), and a broadcast cross of the 1-row
    u-scalars. At 100 TB the candidate generation is linear in records
    (window w=2) and everything downstream is pattern/vocab-sized."""
    base = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        F.split("p_name", " ").getItem(0).alias("blk"),
    ).persist()
    w = Window.partitionBy("blk").orderBy("p_name", "p_partkey")
    leads = base.select(
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        *[
            F.lead(c, i).over(w).alias(f"{c}_{i}")
            for i in (1, 2)
            for c in ("p_name", "p_brand", "p_type", "p_size")
        ],
    )
    pair_sets = []
    for i in (1, 2):
        bit = lambda c: F.when(c, "1").otherwise("0")  # noqa: E731
        pair_sets.append(
            leads.filter(F.col(f"p_name_{i}").isNotNull()).select(
                F.concat(
                    bit(F.col("p_brand") == F.col(f"p_brand_{i}")),
                    bit(F.col("p_type") == F.col(f"p_type_{i}")),
                    bit(
                        F.abs(F.col("p_size") - F.col(f"p_size_{i}"))
                        <= _FS_SIZE_TOL
                    ),
                    bit(
                        F.levenshtein("p_name", f"p_name_{i}")
                        <= _FS_NAME_TOL
                    ),
                ).alias("pattern")
            )
        )
    patt = (
        pair_sets[0]
        .unionAll(pair_sets[1])
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    nrec = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ub = (
        base.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).cast("long").alias("s2_brand"))
    )
    ut = (
        base.groupBy("p_type")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).cast("long").alias("s2_type"))
    )
    sizes = base.groupBy("p_size").agg(F.count(F.lit(1)).alias("f"))
    us = (
        sizes.alias("x")
        .join(
            sizes.alias("y"),
            F.abs(F.col("x.p_size") - F.col("y.p_size")) <= _FS_SIZE_TOL,
        )
        .agg(
            F.sum(F.col("x.f") * F.col("y.f")).cast("long").alias("s2_size")
        )
    )
    n2 = F.col("n").cast("double") * F.col("n").cast("double")
    u_scalars = (
        nrec.crossJoin(F.broadcast(ub))
        .crossJoin(F.broadcast(ut))
        .crossJoin(F.broadcast(us))
        .select(
            (F.col("s2_brand").cast("double") / n2).alias("u_brand"),
            (F.col("s2_type").cast("double") / n2).alias("u_type"),
            (F.col("s2_size").cast("double") / n2).alias("u_size"),
            F.lit(_FS_U_NAME).alias("u_name"),
        )
    )

    def term(pos: int, u_col: str):
        agree = F.substring("pattern", pos, 1) == "1"
        return F.when(agree, F.log(_FS_M / F.col(u_col))).otherwise(
            F.log((1.0 - _FS_M) / (1.0 - F.col(u_col)))
        )

    weighted = patt.crossJoin(F.broadcast(u_scalars)).select(
        "pattern",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(
            term(1, "u_brand")
            + term(2, "u_type")
            + term(3, "u_size")
            + term(4, "u_name"),
            4,
        ).alias("weight"),
    )
    out = weighted.select(
        "pattern",
        "n_pairs",
        "weight",
        F.when(F.col("weight") >= _FS_T_LINK, "link")
        .when(F.col("weight") <= _FS_T_NONLINK, "non-link")
        .otherwise("possible")
        .alias("decision"),
    ).transform(checkpoint)
    base.unpersist()
    return out


def banded_delta_flags(sig: DataFrame) -> DataFrame:
    """Delta-vs-base near-dup flags off a (checkpointed) signature
    relation: returns the distinct ``delta_id`` column of delta docs
    (doc_id % 5 = 0 — the shared delta law) with >= {10}/16 signature
    agreement against ANY base doc, via the certified-lossless 8x2
    banding (some band fully agrees by pigeonhole). Shared by
    q_llm_incremental_dedup and the round-13 composed
    q_llm_corpus_refresh_incremental — both hash-match the oracle's
    all-pairs delta x base form because the banding is lossless at
    the >=10/16 threshold."""
    delta_sig = sig.filter(F.col("doc_id") % 5 == 0)
    base_sig = sig.filter(F.col("doc_id") % 5 != 0)

    cand = (
        _bands(delta_sig)
        .alias("d")
        .join(
            _bands(base_sig).alias("b"),
            (F.col("d.band_id") == F.col("b.band_id"))
            & (F.col("d.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col("d.doc_id").alias("delta_id"),
            F.col("b.doc_id").alias("base_id"),
        )
        .distinct()
    )
    agree = sum(
        (F.col(f"da.s{i}") == F.col(f"ba.s{i}")).cast("int")
        for i in range(_N_HASHES)
    )
    return (
        cand.join(
            delta_sig.alias("da"),
            F.col("delta_id") == F.col("da.doc_id"),
        )
        .join(
            base_sig.alias("ba"), F.col("base_id") == F.col("ba.doc_id")
        )
        .filter(agree >= _MIN_AGREE)
        .select("delta_id")
        .distinct()
    )


@query(
    "q_llm_incremental_dedup",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, flagged AS (
      SELECT DISTINCT a.doc_id AS delta_id
      FROM sig a JOIN sig b
        ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
      WHERE ({_SQL_AGREE}) >= {_MIN_AGREE}
    )
    SELECT d.lang, count(*) AS n_delta,
           CAST(sum(CASE WHEN f.delta_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST((2 * 1000 * sum(CASE WHEN f.delta_id IS NOT NULL
                                     THEN 1 ELSE 0 END) + count(*))
                // (2 * count(*)) AS BIGINT) AS flagged_permille
    FROM documents d LEFT JOIN flagged f ON f.delta_id = d.doc_id
    WHERE d.doc_id % 5 = 0
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def q_llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-base) near-dup screening — THE production
    ingest shape: the new batch (doc_id % 5 = 0 stands in for today's
    delta) is checked against the existing corpus (the base), never
    against itself, and per-language flag rates are reported. Uses the
    portable md5-MinHash signatures with the certified-lossless 8x2
    banding (>= 10/16 agreement => some band fully agrees, pigeonhole),
    so the oracle's all-pairs delta x base form hash-matches the
    banded plan exactly.

    Scale shape: the base signature table is the persisted artifact an
    incremental pipeline maintains; each delta batch costs one band
    equi-join (delta bands x base bands — linear in delta, never
    base x base) + agreement verification on candidates only. Here
    both sides derive from one signature aggregation (single doc_id
    shuffle) split by the delta predicate."""
    sig = _det_signatures(spark, sf_dir)
    flagged = banded_delta_flags(sig)
    delta_docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "lang")
    )
    return (
        delta_docs.join(
            flagged, delta_docs.doc_id == flagged.delta_id, "left_outer"
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_delta"),
            F.sum(
                F.when(F.col("delta_id").isNotNull(), 1).otherwise(0)
            ).alias("n_flagged"),
            F.expr(
                "CAST((2 * 1000 * sum(CASE WHEN delta_id IS NOT NULL"
                " THEN 1 ELSE 0 END) + count(1))"
                " DIV (2 * count(1)) AS BIGINT)"
            ).alias("flagged_permille"),
        )
        .orderBy("lang")
    )


@query(
    "q_er_golden_record",
    oracle=f"""
    WITH ranked AS (
      SELECT p_name, p_partkey, p_brand, p_size,
             {sql_cents('p_retailprice')}
                 AS price_cents,
             row_number() OVER (PARTITION BY p_name
               ORDER BY {sql_cents('p_retailprice')} DESC, p_partkey ASC) AS rn
      FROM part
    ), golden AS (
      SELECT p_name, p_partkey AS golden_partkey,
             price_cents AS golden_price_cents
      FROM ranked WHERE rn = 1
    ), merged AS (
      SELECT p_name, count(*) AS n_members,
             count(DISTINCT p_brand) AS n_brands,
             CAST(min(p_size) AS BIGINT) AS min_size,
             CAST(max(p_size) AS BIGINT) AS max_size
      FROM ranked GROUP BY p_name
    )
    SELECT m.p_name, m.n_members, g.golden_partkey,
           g.golden_price_cents, m.n_brands, m.min_size, m.max_size
    FROM merged m JOIN golden g ON g.p_name = m.p_name
    ORDER BY m.p_name
    """,
)
def q_er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the merge step that follows entity
    matching (q_er_sorted_neighborhood finds the duplicates, this
    resolves them): part records cluster by exact name, each cluster
    elects a survivor by the deterministic rule "highest retail price,
    then lowest key", and the merged row carries cluster size, brand
    spread, and the size range — the MDM consolidation report.

    Plan: one name-keyed window for the election + one name-keyed
    aggregate for the merged attributes (same shuffle key — one
    Exchange feeds both), joined back on the ~64-row cluster relation.
    Cluster count is bounded by the name domain, not the row count;
    prices compare as exact cents so the election is integer-decided."""
    ranked = t(spark, sf_dir, "part").select(
        "p_name",
        "p_partkey",
        "p_brand",
        "p_size",
        cents(F.col("p_retailprice")).alias("price_cents"),
    )
    w = Window.partitionBy("p_name").orderBy(
        F.col("price_cents").desc(), F.col("p_partkey").asc()
    )
    with_rn = ranked.withColumn("rn", F.row_number().over(w))
    golden = with_rn.filter(F.col("rn") == 1).select(
        F.col("p_name").alias("g_name"),
        F.col("p_partkey").alias("golden_partkey"),
        F.col("price_cents").alias("golden_price_cents"),
    )
    merged = ranked.groupBy("p_name").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("p_brand").alias("n_brands"),
        F.min("p_size").cast("long").alias("min_size"),
        F.max("p_size").cast("long").alias("max_size"),
    )
    return (
        merged.join(golden, merged.p_name == golden.g_name)
        .select(
            "p_name",
            "n_members",
            "golden_partkey",
            "golden_price_cents",
            "n_brands",
            "min_size",
            "max_size",
        )
        .orderBy("p_name")
    )


@query(
    "q_llm_source_overlap",
    oracle=f"""
    WITH {_sql_shingles("source", "ss AS MATERIALIZED")}, sizes AS (
      SELECT source, count(*) AS n FROM ss GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             count(*) AS n_common
      FROM ss a JOIN ss b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST((2 * 1000 * i.n_common + (sa.n + sb.n - i.n_common))
                // (2 * (sa.n + sb.n - i.n_common)) AS BIGINT)
               AS jaccard_permille
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY jaccard_permille DESC, i.src_a ASC, i.src_b ASC
    LIMIT 20
    """,
)
def q_llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between corpus SOURCES: each source's
    distinct 3-shingle vocabulary, intersected per source pair via a
    shingle-keyed equi-join (a shingle contributes at most
    |sources-per-shingle| choose 2 pair hits — linear shuffle volume,
    never source-vocabulary cross products), Jaccard in half-up
    permille, top-20 most-overlapping pairs. The provenance-level
    dedup view: q_llm_contamination asks "did eval leak into train",
    this asks "which feeds are re-crawling each other".

    Plan: map-side per-doc shingling (the shingles() no-shuffle law)
    → (source, shingle) distinct (one shuffle) → self-join on shingle
    + pair agg → two broadcast size lookups. Pair cardinality is
    bounded by the source-count square, not the corpus."""
    docs = t(spark, sf_dir, "documents")
    ss = (
        docs.select(
            "source",
            F.explode(
                F.array_distinct(
                    shingle_array(F.split(F.col("text"), " "))
                )
            ).alias("shingle"),
        )
        .distinct()
        .transform(checkpoint)  # feeds sizes + both join sides
    )
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        ss.alias("a")
        .join(
            ss.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                     F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                     F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr(
                "CAST((2 * 1000 * n_common + (n_a + n_b - n_common))"
                " DIV (2 * (n_a + n_b - n_common)) AS BIGINT)"
            ).alias("jaccard_permille"),
        )
        .orderBy(
            F.col("jaccard_permille").desc(),
            F.col("src_a").asc(),
            F.col("src_b").asc(),
        )
        .limit(20)
    )


# Fixture-scale truth twin for q_llm_lsh_threshold_sweep: the naive
# all-pairs agreement histogram (what the registered key computed until
# round 8). Kept as a module constant so tests/test_threshold_sweep.py
# can certify the banded registration against it in DuckDB at fixture
# scale — the q_llm_minhash_det losslessness precedent, applied to the
# ORACLE this time. Never registered: 50k docs is already 1.25B pairs.
SWEEP_ALL_PAIRS_SQL = f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, agreements AS (
      SELECT ({_SQL_AGREE}) AS agree
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    ), hist AS (
      SELECT agree, count(*) AS n FROM agreements GROUP BY agree
    ), grid AS (
      SELECT * FROM (VALUES (8), (10), (12), (14), (16)) g(threshold)
    )
    SELECT g.threshold,
           CAST(coalesce(sum(h.n), 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(h.n), 0) * 1000000
                // (SELECT sum(n) FROM hist) AS BIGINT) AS ppm_of_pairs
    FROM grid g LEFT JOIN hist h ON h.agree >= g.threshold
    GROUP BY g.threshold ORDER BY g.threshold
"""

_SQL_SLOTS = (
    "slots AS MATERIALIZED (\n      "
    + "\n      UNION ALL ".join(
        f"SELECT doc_id, {i} AS slot, s{i} AS val FROM sig"
        for i in range(_N_HASHES)
    )
    + "\n    )"
)


@query(
    "q_llm_lsh_threshold_sweep",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_SLOTS}, cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS agree
      FROM slots a JOIN slots b
        ON a.slot = b.slot AND a.val = b.val AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), hist AS (
      SELECT agree, count(*) AS n FROM cand GROUP BY agree
    ), tot AS (
      SELECT count(*) * (count(*) - 1) // 2 AS all_pairs FROM sig
    ), grid AS (
      SELECT * FROM (VALUES (8), (10), (12), (14), (16)) g(threshold)
    )
    SELECT g.threshold,
           CAST(coalesce(sum(h.n), 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(h.n), 0) * 1000000
                // (SELECT all_pairs FROM tot) AS BIGINT) AS ppm_of_pairs
    FROM grid g LEFT JOIN hist h ON h.agree >= g.threshold
    GROUP BY g.threshold ORDER BY g.threshold
    """,
)
def q_llm_lsh_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash agreement-threshold tuning table: for thresholds 8, 10,
    12, 14, 16 of 16 agreeing signature positions, how many document
    pairs qualify (count + parts-per-million of all pairs) — the sweep
    that decides the band geometry BEFORE a dedup run commits to one
    (>=10/16 is what q_llm_minhash_det ships with; this shows the
    knee). Signatures are the portable md5 MinHash, so the whole table
    is hash-checked.

    Registered plan (round 8 — replaces the all-pairs self-join, the
    last quadratic registration on the board): unpivot each signature
    to 16 (doc_id, slot, value) rows and equi-join on (slot, value)
    with id_a < id_b; a pair agreeing in k slots collides in exactly k
    single-slot bands, so count(*) per pair IS its agreement and, by
    pigeonhole, every pair with agreement >= 1 is generated (16x1
    banding is lossless for the whole 8..16 threshold grid). The
    agreement-0 mass never reaches the >=8 sums; the ppm denominator
    is the closed form n(n-1)/2 from the signature count. Both engines
    run this shape — cost is band-collision-bounded (Sum |group|^2
    over (slot,value) groups), never n^2. The retired all-pairs form
    survives as SWEEP_ALL_PAIRS_SQL, certified equal to this oracle at
    fixture scale by tests/test_threshold_sweep.py."""
    sig = _det_signatures(spark, sf_dir)
    slots = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("slot"),
                        F.col(f"s{i}").alias("val"),
                    )
                    for i in range(_N_HASHES)
                ]
            )
        ).alias("sv"),
    ).select("doc_id", "sv.slot", "sv.val")
    a, b = slots.alias("a"), slots.alias("b")
    hist = (
        a.join(
            b,
            (F.col("a.slot") == F.col("b.slot"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("agree"))
        .groupBy("agree")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(checkpoint)  # feeds all 5 threshold sums
    )
    grid = spark.createDataFrame(
        [(v,) for v in (8, 10, 12, 14, 16)], "threshold int"
    )
    total = sig.agg(
        F.expr("CAST(count(1) * (count(1) - 1) DIV 2 AS BIGINT)").alias(
            "n_total"
        )
    )
    return (
        F.broadcast(grid)
        .join(hist, hist.agree >= F.col("threshold"), "left_outer")
        .groupBy("threshold")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_pairs"))
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            "n_pairs",
            F.expr(
                "CAST(n_pairs * 1000000 DIV n_total AS BIGINT)"
            ).alias("ppm_of_pairs"),
        )
        .orderBy("threshold")
    )


@query(
    "q_llm_minhash_estimator_audit",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT i.id_a, i.id_b,
             (2 * 1000 * i.n_common
              + (sa.n + sb.n - i.n_common))
               // (2 * (sa.n + sb.n - i.n_common)) AS jac_permille,
             ({_SQL_AGREE}) * 1000 // {_N_HASHES} AS est_permille
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      JOIN sig a ON a.doc_id = i.id_a
      JOIN sig b ON b.doc_id = i.id_b
      WHERE 1000 * i.n_common >= 200 * (sa.n + sb.n - i.n_common)
    )
    SELECT count(*) AS n_pairs,
           CAST((2 * sum(abs(est_permille - jac_permille)) + count(*))
                // (2 * count(*)) AS BIGINT) AS mae_permille,
           CAST(max(abs(est_permille - jac_permille)) AS BIGINT)
               AS max_err_permille
    FROM scored
    """,
)
def q_llm_minhash_estimator_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How good are 16 hashes, really: over every pair with exact
    Jaccard >= 0.2 (shingle-intersection ground truth), the MinHash
    estimate agree/16 is compared against the exact similarity — mean
    and max absolute error in permille. The estimator-quality
    measurement behind every banding decision (q_llm_lsh_threshold_sweep
    picks the threshold; this prices the estimator variance the
    threshold rides on). All counts and both similarity forms are
    integer-exact (truncating agree*1000/16 mirrored in both engines).

    Fixture-scale shape: exact-Jaccard truth needs the shingle
    self-join (the recall-audit layout); at corpus scale the audit
    runs on a hash-sampled pair subset, same relation shapes."""
    sh = doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sig = _det_signatures(spark, sf_dir)
    agree = sum(
        (F.col(f"sa.s{i}") == F.col(f"sb.s{i}")).cast("int")
        for i in range(_N_HASHES)
    )
    scored = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("id_a"), F.col("n").alias("na")
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("id_b"), F.col("n").alias("nb")
            ),
            "id_b",
        )
        .filter(
            1000 * F.col("n_common")
            >= 200 * (F.col("na") + F.col("nb") - F.col("n_common"))
        )
        .join(sig.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select(
            F.expr(
                "(2 * 1000 * n_common + (na + nb - n_common))"
                " DIV (2 * (na + nb - n_common))"
            ).alias("jac_permille"),
            (agree * 1000)
            .cast("long")
            .alias("agree1000"),
        )
        .select(
            "jac_permille",
            F.expr(f"agree1000 DIV {_N_HASHES}").alias("est_permille"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr(
            "CAST((2 * sum(abs(est_permille - jac_permille))"
            " + count(1)) DIV (2 * count(1)) AS BIGINT)"
        ).alias("mae_permille"),
        F.max(
            F.abs(F.col("est_permille") - F.col("jac_permille"))
        ).alias("max_err_permille"),
    )


@query(
    "q_llm_dedup_funnel",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, s1 AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ), near_drop AS (
      SELECT DISTINCT b.doc_id
      FROM sig a
      JOIN sig b ON a.doc_id < b.doc_id
      JOIN s1 sa ON sa.doc_id = a.doc_id
      JOIN s1 sb ON sb.doc_id = b.doc_id
      WHERE ({_SQL_AGREE}) >= {_MIN_AGREE}
    ), counts AS (
      SELECT (SELECT count(*) FROM documents) AS n0,
             (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s1) -
               (SELECT count(*) FROM near_drop) AS n2
    )
    SELECT stage, rule, n_in, n_out, n_in - n_out AS n_dropped,
           (2 * 1000 * n_out + n0) // (2 * n0) AS survive_permille
    FROM (
      SELECT 1 AS stage, 'exact_md5' AS rule, n0 AS n_in, n1 AS n_out,
             n0 FROM counts
      UNION ALL
      SELECT 2, 'minhash_near_dup', n1, n2, n0 FROM counts
    ) ORDER BY stage
    """,
)
def q_llm_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline as a funnel: stage 1 keeps one doc per exact
    text hash (min doc_id), stage 2 drops every stage-1 survivor that
    has a near-duplicate partner with a smaller id among the survivors
    (portable MinHash, >= 10/16 agreement — the greedy keep-lowest
    rule, evaluated against the STATIC stage-1 survivor set so the
    result is order-free and engine-checkable). Per stage: in/out/
    dropped and cumulative survival permille — the
    q_llm_filter_funnel shape applied to the dedup ladder, composing
    q_llm_exact_dedup and q_llm_minhash_det into the report a corpus
    release publishes.

    Scale shape: stage 1 is one text-hash window; stage 2's pair
    source is the banded candidate generator at corpus scale (the
    certified-lossless equivalence makes the fixture-scale all-pairs
    oracle exact). Every number is an integer."""
    docs = t(spark, sf_dir, "documents")
    w_txt = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    s1 = (
        docs.withColumn("rn", F.row_number().over(w_txt))
        .filter(F.col("rn") == 1)
        .select("doc_id")
        .transform(checkpoint)  # feeds both stage counts + the pair filter
    )
    sig = _det_signatures(spark, sf_dir).join(
        s1, "doc_id", "left_semi"
    ).transform(checkpoint)
    cand = _band_candidates(sig)
    a, b = sig.alias("a"), sig.alias("b")
    agree = sum(
        (F.col(f"a.s{i}") == F.col(f"b.s{i}")).cast("int")
        for i in range(_N_HASHES)
    )
    near_drop = (
        cand.join(a, cand.id_a == F.col("a.doc_id"))
        .join(b, cand.id_b == F.col("b.doc_id"))
        .filter(agree >= _MIN_AGREE)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    n0 = docs.count()
    n1 = s1.count()
    n2 = n1 - near_drop.count()
    rows = [
        (1, "exact_md5", n0, n1),
        (2, "minhash_near_dup", n1, n2),
    ]
    funnel = spark.createDataFrame(
        rows, "stage int, rule string, n_in long, n_out long"
    )
    return funnel.select(
        "stage",
        "rule",
        "n_in",
        "n_out",
        (F.col("n_in") - F.col("n_out")).alias("n_dropped"),
        F.expr(
            f"(2 * 1000 * n_out + {n0}) DIV (2 * {n0})"
        ).alias("survive_permille"),
    ).orderBy("stage")


# 8x2 band keys, DuckDB-side: band b concatenates signature slots
# (2b, 2b+1) — the exact key _band_candidates joins on.
_SQL_BAND_KEYS = (
    "bandkeys AS (\n      "
    + "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id,"
        f" concat(s{2 * b}, '|', s{2 * b + 1}) AS band_key FROM sig"
        for b in range(_N_HASHES // _BAND_ROWS)
    )
    + "\n    )"
)


@query(
    "q_llm_band_occupancy",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BAND_KEYS}, buckets AS (
      SELECT band_id, band_key, count(*) AS s
      FROM bandkeys GROUP BY 1, 2
    )
    SELECT band_id,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(s) AS BIGINT) AS n_docs,
           CAST(max(s) AS BIGINT) AS max_bucket,
           CAST(sum(s * (s - 1) // 2) AS BIGINT) AS cand_pairs
    FROM buckets GROUP BY band_id ORDER BY band_id
    """,
)
def q_llm_band_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket occupancy audit — the observability metric every
    scale argument in this family rides on, measured instead of cited:
    per band of the 8x2 minhash scheme (the exact band keys
    q_llm_minhash_det joins on), the bucket count, the largest bucket,
    and the CANDIDATE-PAIR MASS sum s(s-1)/2 — which IS the dedup
    join's cost model (the SCALE100_SKIP reasons, plans.lock budget
    headrooms, and the band-width scale law all quote this quantity;
    now a hash-checked relation an operator can alert on before
    launching a dedup run). A skewed hot bucket shows up here as
    max_bucket >> n_docs/n_buckets long before it shows up as a
    straggler task.

    Plan: signature aggregate (shared _det_signatures shape) -> one
    band-key explode -> (band, key) count -> 8-row rollup. Linear,
    occupancy-bounded, zero pair enumeration — the audit of the
    quadratic mass costs nothing quadratic itself."""
    sig = _det_signatures(spark, sf_dir)
    buckets = _bands(sig).groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("s")
    )
    return (
        buckets.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("s").alias("n_docs"),
            F.max("s").alias("max_bucket"),
            F.sum(
                F.expr("CAST(s * (s - 1) DIV 2 AS BIGINT)")
            ).alias("cand_pairs"),
        )
        .orderBy("band_id")
    )


@query(
    "q_er_token_blocking",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT p_partkey, unnest(string_split(p_name, ' ')) AS w
      FROM part
    ), n_parts AS (
      SELECT CAST(count(DISTINCT p_partkey) AS BIGINT) AS np FROM part
    ), blocks AS (
      SELECT w, CAST(count(*) AS BIGINT) AS sz FROM tok GROUP BY w
    ), judged AS (
      SELECT b.w, b.sz,
             CASE WHEN b.sz * 100 > n.np THEN 1 ELSE 0 END AS skipped
      FROM blocks b CROSS JOIN n_parts n
    )
    SELECT max(n.np) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(1 - j.skipped) AS BIGINT) AS n_kept,
           CAST(sum(j.skipped) AS BIGINT) AS n_stop_tokens,
           CAST(sum(CASE WHEN j.skipped = 0
                         THEN j.sz * (j.sz - 1) // 2 ELSE 0 END)
                AS BIGINT) AS candidate_pairs,
           CAST(max(CASE WHEN j.skipped = 0 THEN j.sz ELSE 0 END)
                AS BIGINT) AS max_kept_block,
           CAST(sum(CASE WHEN j.skipped = 1 THEN j.sz ELSE 0 END)
                AS BIGINT) AS stop_token_mass
    FROM judged j CROSS JOIN n_parts n
    """,
)
def q_er_token_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-blocking audit for entity resolution over part names --
    the standard blocking scheme when keys have no sort order (the
    sorted-neighborhood alternative is q_er_sorted_neighborhood):
    records sharing ANY name token become comparison candidates, and
    tokens whose block exceeds 1% of the universe are dropped as stop
    tokens (the frequency cap every production blocker applies,
    otherwise one common word recreates the all-pairs blow-up).

    The audit never ENUMERATES pairs: per-block candidate mass has the
    closed form sz*(sz-1)/2, so the output -- total candidates, kept/
    dropped token counts, the heaviest surviving block, the mass
    hidden behind stop tokens -- folds from block SIZES alone. With the
    1% cap, enumerated-pair mass is bounded by (n/100)*sum(sz): linear
    with a constant, at every scale, and the cap is scale-relative so
    the skip set grows with the corpus instead of silently exploding.

    Exactness: pure int64 counts; sz^2 at the cap bound is (n/100)^2
    ~ 4e8 at 100x -- ten digits under int64.

    Plan: one explode + per-(part,token) distinct + token-keyed count
    (the only fact-sized shuffles) + a 1-row closed-form fold. At
    100 TB: two string-keyed shuffles, no pair materialization."""
    p = t(spark, sf_dir, "part")
    tok = p.select(
        "p_partkey", F.explode(F.split("p_name", " ")).alias("w")
    ).distinct()
    n_parts = p.agg(
        F.countDistinct("p_partkey").cast("long").alias("np")
    )
    blocks = tok.groupBy("w").agg(F.count(F.lit(1)).alias("sz"))
    judged = blocks.crossJoin(F.broadcast(n_parts)).select(
        "w",
        "sz",
        "np",
        F.when(F.col("sz") * 100 > F.col("np"), 1).otherwise(0).alias(
            "skipped"
        ),
    )
    kept = F.col("skipped") == 0
    return judged.agg(
        F.max("np").alias("n_parts"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(1 - F.col("skipped")).cast("long").alias("n_kept"),
        F.sum("skipped").cast("long").alias("n_stop_tokens"),
        F.sum(
            F.when(
                kept,
                F.expr("sz * (sz - 1) DIV 2"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("candidate_pairs"),
        F.max(F.when(kept, F.col("sz")).otherwise(F.lit(0)))
        .cast("long")
        .alias("max_kept_block"),
        F.sum(F.when(~kept, F.col("sz")).otherwise(F.lit(0)))
        .cast("long")
        .alias("stop_token_mass"),
    )


# ---------------------------------------------------------------------------
# Candidate-bounded exact-verify twins (round 9, VERDICT r08 item 2).
#
# q_llm_neardup_jaccard / q_llm_containment are the fixture-scale TRUTH
# TWINS of the banded production tier: their all-candidate generation
# (shingle self-join) is collision-mass-quadratic BY CONTRACT, which is
# why they sit in SCALE100_SKIP. The two keys below are the
# 100×-runnable form of the SAME SEMANTICS: candidates come from the
# lossless-for-agreement 8×2 MinHash band join (linear: one signature
# shuffle + one band-key equi-join), and the EXACT metric — true
# shingle-set Jaccard / containment, not signature agreement — is then
# computed on candidates only. Recall vs the all-pairs truth is the
# measured quantity q_llm_lsh_recall_audit reports; at the ≥0.8
# thresholds the md5-MinHash band join missed zero truth pairs on every
# fixture/scale swept (sf0.001→10×).
# ---------------------------------------------------------------------------

_SQL_BANDS = (
    "bands AS (\n"
    "      SELECT doc_id, band_id,\n"
    "             CASE band_id\n"
    + "\n".join(
        f"               WHEN {b} THEN concat_ws('|', "
        + ", ".join(f"s{b * _BAND_ROWS + r}" for r in range(_BAND_ROWS))
        + ")"
        for b in range(_N_HASHES // _BAND_ROWS)
    )
    + "\n             END AS band_key\n"
    "      FROM sig, (SELECT unnest(range(0, "
    f"{_N_HASHES // _BAND_ROWS})) AS band_id) g\n"
    "    ), cand AS MATERIALIZED (\n"
    "      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b\n"
    "      FROM bands a JOIN bands b\n"
    "        ON a.band_id = b.band_id AND a.band_key = b.band_key\n"
    "       AND a.doc_id < b.doc_id\n"
    "    )"
)

# Candidate-scoped shingle intersection: n_common per candidate pair
# only — the join fans each candidate out by |shingles(id_a)| and
# narrows on (id_b, shingle), so cost is candidate mass × doc length,
# never corpus².
_SQL_CAND_INTER = """
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    )
"""


def _candidate_overlap(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(id_b, id_a, n_common, na, nb) over candidate pairs only, via a
    candidate-scoped shingle equi-join. Mirrors _SQL_CAND_INTER."""
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(
        F.col("doc_id").alias("b_doc"), F.col("shingle").alias("shingle_b")
    )
    inter = (
        cand.join(a, "id_a")
        .join(
            b,
            (F.col("id_b") == F.col("b_doc"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return sized_pairs(inter, sh)


@query(
    "q_llm_neardup_jaccard_banded",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}, {_SQL_CAND_INTER}
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
)
def q_llm_neardup_jaccard_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-Jaccard near-dup pairs (≥ 0.8) with CANDIDATE-BOUNDED
    verification — the 100×-runnable production form of
    q_llm_neardup_jaccard (whose shingle self-join is the declared
    quadratic truth twin). Tier 1: md5-MinHash 8×2 band join generates
    candidates (one doc_id signature shuffle + one (band, key)
    equi-join — linear, collision-bounded). Tier 2: TRUE shingle-set
    Jaccard, not signature agreement, computed only for candidate
    pairs, so the verify cost is candidate mass × doc length. Same
    output schema and threshold as the truth twin; recall vs all-pairs
    is the quantity q_llm_lsh_recall_audit measures (1000‰ on every
    fixture swept — at J ≥ 0.8 the expected signature disagreement is
    ≤ 3.2/16, and ≥ 10/16 agreement pigeonholes into a full band).

    At 100 TB: signatures are one map-side-combined shuffle on doc_id;
    band join shuffles 8 short rows per doc; the verify join touches
    candidates only. The only skew is a degenerate band key shared by
    a true duplicate cluster — the rows being hunted."""
    sh = doc_shingles(spark, sf_dir)
    sig = _det_signatures(spark, sf_dir)
    cand = _band_candidates(sig)
    jac = jaccard()
    out = (
        _candidate_overlap(cand, sh)
        .filter(jac >= 0.8)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .transform(checkpoint)
    )
    return out


@query(
    "q_llm_containment_banded",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_SIG}, {_SQL_BANDS}, {_SQL_CAND_INTER}
    SELECT id_a, id_b, n_common, least(sa.n, sb.n) AS n_small,
           CAST((2 * 1000 * n_common + least(sa.n, sb.n))
                // (2 * least(sa.n, sb.n)) AS BIGINT)
             AS containment_permille
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST((2 * 1000 * n_common + least(sa.n, sb.n))
               // (2 * least(sa.n, sb.n)) AS BIGINT) >= 800
    """,
)
def q_llm_containment_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document containment (|A∩B| / min(|A|,|B|) ≥ 0.8, half-up
    integer permille) with CANDIDATE-BOUNDED verification — the
    100×-runnable form of q_llm_containment, same two-tier shape as
    q_llm_neardup_jaccard_banded: md5-MinHash 8×2 band candidates,
    exact shingle intersection on candidates only. Containment is the
    wrapper-page detector (a page embedded in a larger page scores
    ~1000‰ here while Jaccard dilutes), and high containment of the
    SMALLER set implies high signature agreement for comparable sizes,
    so the band prefilter keeps the same recall posture; asymmetric
    extremes (tiny A inside huge B) are the declared residual risk and
    exactly what the recall audit exists to watch.

    Plan identical to the banded-Jaccard twin: one signature shuffle,
    one band equi-join, candidate-scoped verify — linear at 100 TB."""
    sh = doc_shingles(spark, sf_dir)
    sig = _det_signatures(spark, sf_dir)
    cand = _band_candidates(sig)
    out = (
        _candidate_overlap(cand, sh)
        .withColumn("n_small", F.least("na", "nb"))
        .withColumn(
            "containment_permille",
            F.expr(
                "CAST((2 * 1000 * n_common + n_small)"
                " DIV (2 * n_small) AS BIGINT)"
            ),
        )
        .filter(F.col("containment_permille") >= 800)
        .select(
            "id_a", "id_b", "n_common", "n_small", "containment_permille"
        )
        .transform(checkpoint)
    )
    return out


@query(
    "q_er_phonetic_blocking",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT p_partkey,
             unnest(string_split(lower(p_name), ' ')) AS w
      FROM part
    ), keyed AS (
      SELECT p_partkey, w,
             concat(substr(w, 1, 1),
                    regexp_replace(substr(w, 2), '[aeiou]', '', 'g'))
               AS pkey
      FROM tok WHERE length(w) > 0
    ), blocks AS (
      SELECT pkey,
             CAST(count(DISTINCT w) AS BIGINT) AS n_raw_words,
             CAST(count(DISTINCT p_partkey) AS BIGINT) AS n_parts
      FROM keyed GROUP BY pkey
    )
    SELECT pkey, n_raw_words, n_parts,
           CAST(n_parts * (n_parts - 1) // 2 AS BIGINT)
             AS candidate_pairs,
           CASE WHEN n_raw_words > 1 THEN 1 ELSE 0 END AS is_fuzzy
    FROM blocks WHERE n_parts > 1
    ORDER BY candidate_pairs DESC, pkey ASC LIMIT 20
    """,
)
def q_er_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic-key blocking audit for entity resolution — the fuzzy
    sibling of q_er_token_blocking: words block on an engine-portable
    consonant-skeleton key (first letter + vowels stripped from the
    tail — 'bolt' and 'belt' collide on 'blt', so typo/variant families
    land in one block WITHOUT any pairwise edit-distance scan). Reports
    the top-20 blocks by closed-form candidate mass sz·(sz−1)/2 plus
    the is_fuzzy flag (block holds >1 distinct raw word = the blocks a
    matcher must actually adjudicate). No RE2-unsupported constructs
    (no backrefs), so Spark and DuckDB compute identical keys.

    Plan: distinct (part, word) explode, map-side key derivation, ONE
    block-keyed count aggregate, TakeOrdered top-20 — never a pair
    enumeration. At 100 TB: one shuffle on the phonetic key; skew =
    a stop-word-like skeleton, handled the token_blocking way (cap)
    if a real corpus needs it."""
    tok = (
        t(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.explode(F.split(F.lower("p_name"), " ")).alias("w"),
        )
        .filter(F.length("w") > 0)
        .distinct()
    )
    keyed = tok.select(
        "p_partkey",
        "w",
        F.concat(
            F.substring("w", 1, 1),
            F.regexp_replace(F.expr("substring(w, 2)"), "[aeiou]", ""),
        ).alias("pkey"),
    )
    blocks = keyed.groupBy("pkey").agg(
        F.countDistinct("w").alias("n_raw_words"),
        F.countDistinct("p_partkey").alias("n_parts"),
    )
    return (
        blocks.filter(F.col("n_parts") > 1)
        .select(
            "pkey",
            "n_raw_words",
            "n_parts",
            F.expr("CAST(n_parts * (n_parts - 1) DIV 2 AS BIGINT)").alias(
                "candidate_pairs"
            ),
            F.when(F.col("n_raw_words") > 1, 1).otherwise(0).alias(
                "is_fuzzy"
            ),
        )
        .orderBy(F.desc("candidate_pairs"), F.asc("pkey"))
        .limit(20)
    )


@query(
    "q_llm_containment_recall_audit",
    oracle=_sql_band_recall(
        """CAST((2 * 1000 * n_common + least(sa.n, sb.n))
                 // (2 * least(sa.n, sb.n)) AS BIGINT) >= 800"""
    ),
)
def q_llm_containment_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Band-candidate recall vs the exact CONTAINMENT ≥0.8 truth set —
    the containment twin of q_llm_lsh_recall_audit (VERDICT r09 item
    4). q_llm_containment_banded's docstring declares asymmetric
    tiny-inside-huge extremes as its residual recall risk (a small set
    fully contained in a much larger one has high containment but LOW
    Jaccard, so its MinHash signature agreement — which tracks Jaccard
    — can fall below the band threshold); until round 10 only the
    Jaccard tier had a measuring audit. Output: one row (n_exact,
    n_candidates, n_hit, half-up permille recall; 1000 when the truth
    set is empty), recorded at 1× and 10× per round by bench.py next
    to the Jaccard and two-tier recalls.

    The truth tier is the ALL-PAIRS shingle equi-join — quadratic by
    contract, exactly like the Jaccard recall audit (both sit in
    SCALE100_SKIP; the production tier they certify is the banded
    twin, which runs at 100×).

    Plan: truth via shingle equi-join + size joins; candidates via the
    8×2 band join; the audit semi-joins two pair lists and folds to
    one row. Caches released eagerly (the lsh_recall_audit lifecycle
    discipline)."""
    contain = F.expr(
        "CAST((2 * 1000 * n_common + least(na, nb))"
        " DIV (2 * least(na, nb)) AS BIGINT)"
    )
    return _band_recall(spark, sf_dir, contain >= 800)
