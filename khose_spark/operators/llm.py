"""LLM-data-pipeline operators (SURVEY.md §2.8; BASELINE.json north
star): deduplication, similarity search, text analysis, multimodal
columns — the operations a 100 TB training-data pipeline needs.

Scale posture per operator is documented on the function; the two-tier
pattern (exact algorithm for the hash-checked oracle, sketch/LSH variant
for the 100 TB path) follows SURVEY.md §4.2.3-4.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark import memo
from khose_spark.memo import checkpoint
from khose_spark.registry import query
from khose_spark.tables import t


@query(
    "q_llm_exact_dedup",
    oracle="""
    SELECT lang, count(*) AS n_docs
    FROM documents
    WHERE doc_id IN (
      SELECT min(doc_id) FROM documents GROUP BY md5(text)
    )
    GROUP BY lang
    """,
)
def q_llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: md5(text) as key, survivor = min doc_id per
    hash, survivor counts by lang. groupBy form (not dropDuplicates) so
    the survivor choice is deterministic. At 100 TB: single shuffle on
    the 128-bit hash — never on the text itself; hash cardinality
    ~n_docs so AQE-coalesced partitions stay balanced."""
    d = t(spark, sf_dir, "documents")
    survivors = (
        d.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        d.join(survivors, "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def shingles(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct k-word shingles per doc: (doc_id, shingle). Map-side only:
    the shingle set is built and deduped INSIDE the row via
    array_distinct (the distinct key is (doc_id, shingle), i.e. per-doc,
    so no cross-row — and therefore no shuffle — is ever needed; an
    explode + global .distinct() here costs a full shuffle of every
    shingle string at corpus scale). Docs shorter than k words emit no
    shingles via the typed empty-array branch, not a post-filter."""
    words = F.split(F.col(text_col), " ")
    sh = F.array_distinct(shingle_array(words, k))
    return df.select("doc_id", F.explode(sh).alias("shingle"))


def _sql_shingles(key: str = "doc_id", cte: str = "sh AS") -> str:
    """SQL twin of :func:`shingles` over ``documents``: the ``words`` CTE
    and the ``cte`` CTE (e.g. "sh AS MATERIALIZED") of distinct 3-word
    shingles per ``key``."""
    return f"""
    words AS (
      SELECT {key}, string_split(text, ' ') AS w FROM documents
    ), {cte} (
      SELECT DISTINCT {key}, shingle FROM (
        SELECT {key},
               unnest(list_transform(
                 range(1, greatest(len(w) - 1, 1)),
                 i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingle
        FROM words
      ) WHERE len(string_split(shingle, ' ')) = 3
    )"""


def shingle_array(words, k: int = 3):
    """Raw k-word shingle array (duplicates preserved, empty for docs
    shorter than k words) from a word-array column.

    Built from k SHIFTED COPIES of the word array folded with zip_with
    — k array slices per DOCUMENT — rather than a transform(sequence)
    lambda doing a slice per SHINGLE. Higher-order functions run
    interpreted (outside whole-stage codegen), so per-element work
    dominates: the shifted form measured 3-4× faster at sf0.1 (1.6s →
    0.6s for the 260k-shingle materialization), and it feeds every
    shingle consumer (Jaccard, MinHash, two-tier, SimHash,
    contamination, fingerprint, repetition)."""
    n = F.size(words)
    m = F.greatest(n - (k - 1), F.lit(0))  # shingle count (0 if short)
    shifted = [F.slice(words, j + 1, m) for j in range(k)]
    joined = reduce(
        lambda acc, nxt: F.zip_with(
            acc, nxt, lambda x, y: F.concat(x, F.lit(" "), y)
        ),
        shifted,
    )
    return F.when(n >= k, joined).otherwise(F.array().cast("array<string>"))


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical (doc_id, shingle) relation over the FULL documents
    table (k=3 over text), eagerly materialized and memoized per
    (application, sf_dir) in the khose_spark.memo store (guide §2.4):
    ~10 registered keys (Jaccard/containment families, MinHash
    signatures, SimHash, contamination, bloom prefilter) each re-ran the identical split+slice+explode subplan;
    one session now materializes it once and every later consumer
    starts from the checkpointed relation. Not a result cache: the
    relation is computed from the parquet input inside the first
    consumer's timed region, per process. ~40 bytes/shingle — low GBs
    at the 100× board, far below recomputation cost."""

    def build() -> DataFrame:
        base = t(spark, sf_dir, "documents")
        # The BUILD input is repartitioned to the
        # session's parallelism when the scan yields fewer splits than
        # cores (the sf0.1 documents table is one row-group, so the
        # explode otherwise runs single-threaded: 0.98 s measured vs
        # 0.29 s repartitioned). Only the one-time build pays the tiny
        # shuffle; consumer plans read the checkpoint and are unchanged.
        # At scale the scan has >= cores splits and this is a no-op.
        par = spark.sparkContext.defaultParallelism
        if base.rdd.getNumPartitions() < par:
            base = base.repartition(par)
        return shingles(base).transform(checkpoint)

    return memo.get(spark, "doc_shingles", sf_dir, build)


def jaccard() -> Column:
    """|A∩B| / |A∪B| of a sized pair row (n_common, na, nb)."""
    return F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))


def sized_pairs(inter: DataFrame, sh: DataFrame) -> DataFrame:
    """``inter``'s (id_a, id_b, n_common) rows joined with both docs'
    distinct shingle counts ``na`` and ``nb`` from ``sh``."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return inter.join(sa, "id_a").join(sb, "id_b")


# SQL twin of :func:`all_pairs_overlap` over ``sh``: the ``sizes`` and
# ``inter`` CTEs.
_SQL_ALL_PAIRS_OVERLAP = """sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


def all_pairs_overlap(sh: DataFrame) -> DataFrame:
    """(id_b, id_a, n_common, na, nb) for every doc pair id_a < id_b
    sharing a shingle: the all-pairs shingle equi-join, sized."""
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return sized_pairs(inter, sh)


@query(
    "q_llm_neardup_jaccard",
    oracle=f"""
    WITH {_sql_shingles()}, {_SQL_ALL_PAIRS_OVERLAP}
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    """,
)
def q_llm_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard near-dup pairs on 3-word shingle sets (>= 0.8),
    ordered (id_a < id_b). Shingle-join candidate generation: only pairs
    sharing a shingle are ever materialized. At 100 TB this self-join
    skews on hot shingles — that's what q_llm_minhash_lsh is for
    (banding prefilter, SURVEY.md §4.2.4); this exact form is the
    verifier stage of that two-tier pipeline.

    The (doc_id, shingle) relation comes from the session-memoized
    doc_shingles checkpoint: it feeds the size aggregate and BOTH
    self-join sides (and every other shingle consumer in the session),
    so the split+explode+distinct subplan runs once per process."""
    jac = jaccard()
    out = (
        all_pairs_overlap(doc_shingles(spark, sf_dir))
        .filter(jac >= 0.8)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        # Eagerly materialize the (tiny) near-dup pair list, then
        # release the corpus-scale shingle cache — the dedup cluster /
        # apply / funnel queries iterate over this result, so the
        # checkpoint also keeps the CC loop's lineage flat.
        .transform(checkpoint)
    )
    return out


def minhash_candidates(sh: DataFrame, n_hashes: int = 16, band_rows: int = 4) -> DataFrame:
    """MinHash+LSH banding candidate pairs (id_a, id_b) from a
    (doc_id, shingle) frame — the shared candidate generator for the
    rows-only LSH query and the two-tier verified pipeline.

    The banded-signature relation is persisted before the self-join:
    both sides otherwise recompute the 16-minhash aggregation; the
    cached relation is 3 ints per (doc, band) — trivial at any scale."""
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.hash(F.col("shingle"), F.lit(i))).alias(f"mh{i}")
            for i in range(n_hashes)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band_id"),
                        F.hash(
                            *[
                                F.col(f"mh{band * band_rows + r}")
                                for r in range(band_rows)
                            ]
                        ).alias("band_hash"),
                    )
                    for band in range(n_hashes // band_rows)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band_id", "b.band_hash").persist()
    a = bands.alias("a")
    b = bands.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
        # Candidate pairs are a vanishing fraction of all pairs by
        # design: eagerly materialize them and release the banded
        # signature cache rather than pin it for the session.
        .transform(checkpoint)
    )
    bands.unpersist()
    return out


@query("q_llm_minhash_lsh")  # rows-only: banding candidates are probabilistic
def q_llm_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding candidate pairs — the 100 TB scale path for
    near-dup (SURVEY.md §4.2.4). Hand-rolled with built-in functions only
    (fixed seeds -> deterministic for a given Spark hash impl, but
    engine-specific, hence rows-only):

    signature: 16 minhashes = min over shingles of hash(shingle, seed_i)
    banding:   4 bands x 4 rows; docs sharing any full band become a
               candidate pair. Cost: one groupBy per doc (signature),
               one shuffle on (band_id, band_hash) — no quadratic join.
    """
    return minhash_candidates(doc_shingles(spark, sf_dir))


@query("q_llm_neardup_two_tier")  # rows-only: tier-1 recall is probabilistic
def q_llm_neardup_two_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pipeline at 100 TB (SURVEY.md §4.2.4),
    both tiers composed: MinHash-LSH banding proposes candidate pairs
    (linear cost, no quadratic join), then exact Jaccard >= 0.8 is
    verified ONLY on candidates — the expensive shingle-intersection
    join touches a vanishing fraction of all pairs. Output is a subset
    of q_llm_neardup_jaccard's (missing pairs = LSH false negatives,
    tunable via bands×rows); rows-only check for that reason.

    The shingle relation is the session-memoized doc_shingles
    checkpoint — it feeds tier-1 (signatures) and three tier-2
    consumers (sizes + both intersection sides)."""
    sh = doc_shingles(spark, sf_dir)
    cand = minhash_candidates(sh)
    sa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])  # equi on (doc, shared shingle)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = jaccard()
    out = (
        sized_pairs(inter, sh)
        .filter(jac >= 0.8)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .transform(checkpoint)
    )
    return out


def cosine_candidates(spark: SparkSession, sf_dir: str, n_queries: int = 10) -> DataFrame:
    """All (query, neighbor, rounded cosine) pairs for vec_id < n_queries.

    Brute-force baseline: broadcast the query vectors against all
    embeddings; dot/norms via zip_with + in-order aggregate (identical
    sequential double summation in both engines). The IVF/blocked path
    for large corpora lives in khose_spark.operators.similarity."""
    e = t(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    base = e.select("vec_id", "label", dbl.alias("v"))
    q = base.select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    ).filter(F.col("qid") < n_queries)
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    pairs = F.broadcast(q).crossJoin(base).filter(F.col("qid") != F.col("vec_id"))
    return pairs.select(
        "qid",
        "vec_id",
        "label",
        F.round(dot / (F.sqrt(sq("qv")) * F.sqrt(sq("v"))), 4).alias("sim"),
    )


_COSINE_ORACLE_CTE = """
    WITH base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, v AS qv FROM base WHERE vec_id < 10
    ), sims AS (
      SELECT qid, vec_id, label,
             round(list_cosine_similarity(qv, v), 4) AS sim
      FROM q CROSS JOIN base
      WHERE qid <> vec_id
    )
"""


@query(
    "q_llm_cosine_topk",
    oracle=_COSINE_ORACLE_CTE
    + """
    SELECT qid, vec_id AS neighbor_id, sim, rn AS rank FROM (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
      FROM sims
    ) WHERE rn <= 5
    """,
)
def q_llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 nearest neighbors by cosine for query vectors 0..9.
    Ranking is on the ROUNDED similarity with vec_id tiebreak, so a
    last-ulp float divergence between engines cannot flip ranks."""
    sims = cosine_candidates(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.select("qid", "vec_id", "sim", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 5)
        .withColumnRenamed("vec_id", "neighbor_id")
    )


@query(
    "q_llm_knn_label_vote",
    oracle=_COSINE_ORACLE_CTE
    + """
    , top5 AS (
      SELECT qid, label FROM (
        SELECT qid, label,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rn
        FROM sims
      ) WHERE rn <= 5
    ), votes AS (
      SELECT qid, label, count(*) AS n_votes FROM top5 GROUP BY qid, label
    )
    SELECT qid, label AS voted_label, n_votes FROM (
      SELECT qid, label, n_votes,
             row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, label ASC) AS rn
      FROM votes
    ) WHERE rn = 1
    """,
)
def q_llm_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority label per query vector (ties -> smallest label)."""
    sims = cosine_candidates(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    top5 = sims.select("qid", "label", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= 5
    )
    votes = top5.groupBy("qid", "label").agg(F.count(F.lit(1)).alias("n_votes"))
    wv = Window.partitionBy("qid").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.select(
            "qid", "label", "n_votes", F.row_number().over(wv).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("qid", F.col("label").alias("voted_label"), "n_votes")
    )


@query(
    "q_llm_text_stats",
    oracle="""
    SELECT lang,
           count(*)                                         AS n_docs,
           round(avg(n_chars), 2)                           AS avg_chars,
           round(avg(len(string_split(text, ' '))), 2)      AS avg_tokens,
           count(DISTINCT source)                           AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def q_llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (text-analysis surface)."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 2).alias("avg_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "q_llm_lang_filter",
    oracle="""
    SELECT source, count(*) AS n_docs
    FROM documents
    WHERE lang = 'en' AND n_chars BETWEEN 100 AND 400
    GROUP BY source
    """,
)
def q_llm_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality filter: language + length band, counts by source."""
    d = t(spark, sf_dir, "documents")
    return (
        d.filter((F.col("lang") == "en") & F.col("n_chars").between(100, 400))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q_llm_tf_topterms",
    oracle="""
    SELECT lang, term, n, rnk FROM (
      SELECT lang, term, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, term ASC) AS rnk
      FROM (
        SELECT lang, term, count(*) AS n
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY lang, term
      )
    ) WHERE rnk <= 5
    """,
)
def q_llm_tf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 terms by frequency (deterministic tiebreak)."""
    d = t(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("term"))
    return tf.select("lang", "term", "n", F.row_number().over(w).alias("rnk")).filter(
        F.col("rnk") <= 5
    )


@query(
    "q_llm_multimodal_cols",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text))          AS n_bytes,
           sha256(text)                        AS payload_sha
    FROM documents WHERE doc_id < 100
    """,
)
def q_llm_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column surface: opaque binary payloads with typed
    metadata (here: utf-8 text bytes standing in for image/audio blobs;
    real decode plumbing lives in khose_spark.operators.multimodal).
    length + sha256 checksum prove lossless binary handling."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    payload = F.encode("text", "utf-8")
    return d.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha"),
    )


@query(
    "q_llm_prefix_dedup",
    oracle="""
    WITH keyed AS (
      SELECT source,
             md5(text) AS full_h,
             md5(array_to_string(
               list_slice(string_split(text, ' '), 1, 12), ' ')) AS pre_h
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT pre_h) AS BIGINT) AS n_prefix_groups,
           CAST(count(*) - count(DISTINCT pre_h) AS BIGINT)
             AS n_prefix_dups,
           CAST(count(*) - count(DISTINCT full_h) AS BIGINT)
             AS n_exact_dups
    FROM keyed GROUP BY source
    """,
)
def q_llm_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup audit — the crawl-pipeline tier BETWEEN exact and
    near-dup: documents that share their first 12 tokens but diverge
    later are template/boilerplate families (mirrored pages with
    injected ads, dated re-crawls, CMS boilerplate heads), which
    full-text md5 (`q_llm_exact_dedup`) misses entirely and
    shingle-Jaccard only finds at quadratic candidate cost.  Keys on
    md5 of the SPACE-JOINED first-12-token slice — identical
    tokenization (single-space split, the corpus contract) and md5 in
    both engines make the group assignment itself hash-certified.
    Per-source audit: docs, prefix families, prefix-dup mass vs
    exact-dup mass — the gap between those two columns is exactly the
    boilerplate-family mass a prefix pass would newly remove.

    Plan: map-side tokenize/slice/hash (codegen string ops, no UDF),
    then ONE per-source aggregate carrying two 128-bit hashes per row
    — the text itself never shuffles (the exact_dedup law).  At
    100 TB: one hash-keyed distinct-count shuffle, prefix-hash
    cardinality ~n_docs keeps AQE partitions balanced."""
    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "source",
        F.md5("text").alias("full_h"),
        F.md5(
            F.array_join(
                F.slice(F.split(F.col("text"), " "), 1, 12), " "
            )
        ).alias("pre_h"),
    )
    return keyed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("pre_h").alias("n_prefix_groups"),
        (F.count(F.lit(1)) - F.countDistinct("pre_h")).alias(
            "n_prefix_dups"
        ),
        (F.count(F.lit(1)) - F.countDistinct("full_h")).alias(
            "n_exact_dups"
        ),
    )
