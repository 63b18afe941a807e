"""Corpus quality-rule auditing (SURVEY.md §2.8/§2.14 extension family):
Gopher-style rule filters, per-document token entropy, and n-gram
containment (asymmetric near-dup) over the ``documents`` table.

These are the filter-stage primitives of a pretraining data pipeline
(cf. the Gopher / MassiveText and C4 cleaning rules): cheap map-side
predicates that remove the bulk of junk before the expensive dedup and
embedding stages run. All three stay inside WholeStageCodegen for the
per-document work and shuffle only small aggregates / candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.operators.curation import _sql_hash_bucket
from khose_spark.registry import query
from khose_spark.tables import t

# DuckDB lambda-body twin of hash_bucket(token, 4) for the watermark
# green-list test: the list_filter variable is `w`.
_sql_hash_bucket_w4 = _sql_hash_bucket("w", 4)

# Rule thresholds (contract constants, not tuned): word count bounds,
# mean-word-length bounds (expressed as integer cross-multiplications so
# no division ever happens), max symbol share, min stopword hits.
_MIN_WORDS = 20
_MAX_WORDS = 500
_MIN_MWL = 4  # mean word length >= 4  <=>  4*n_words <= n_alpha_chars
_MAX_MWL = 10  # mean word length <= 10 <=> n_alpha_chars <= 10*n_words
_SYM_PERMILLE = 100  # symbols <= 10% of chars <=> 10*n_sym <= n_chars
_STOPWORDS = ("the", "a", "and", "of")
_MIN_STOP_HITS = 2


@query(
    "q_llm_gopher_rules",
    oracle=f"""
    WITH feats AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_words,
             length(replace(text, ' ', '')) AS n_nonspace,
             length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_sym,
             length(text) AS n_chars,
             ({" + ".join(
                 "CASE WHEN concat(' ', text, ' ') LIKE '% " + w + " %' "
                 "THEN 1 ELSE 0 END" for w in _STOPWORDS
             )}) AS stop_hits
      FROM documents
    ), flags AS (
      SELECT lang,
        CASE WHEN n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
             THEN 1 ELSE 0 END AS p_wc,
        CASE WHEN {_MIN_MWL} * n_words <= n_nonspace
              AND n_nonspace <= {_MAX_MWL} * n_words
             THEN 1 ELSE 0 END AS p_mwl,
        CASE WHEN 1000 * n_sym <= {_SYM_PERMILLE} * n_chars
             THEN 1 ELSE 0 END AS p_sym,
        CASE WHEN stop_hits >= {_MIN_STOP_HITS} THEN 1 ELSE 0 END AS p_stop
      FROM feats
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(p_wc) AS BIGINT) AS pass_wordcount,
           CAST(sum(p_mwl) AS BIGINT) AS pass_wordlen,
           CAST(sum(p_sym) AS BIGINT) AS pass_symbol,
           CAST(sum(p_stop) AS BIGINT) AS pass_stopword,
           CAST(sum(p_wc * p_mwl * p_sym * p_stop) AS BIGINT) AS pass_all
    FROM flags GROUP BY lang
    """,
)
def q_llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style quality-rule audit: per language, how many
    documents pass each cheap structural filter (word-count bounds,
    mean-word-length bounds, symbol share, stopword presence) and how
    many pass all four.

    Every predicate is integer arithmetic — mean word length and symbol
    share are cross-multiplied (``3*n_words <= n_chars``), never
    divided, so the oracle comparison has zero float surface. The whole
    computation is map-side per document; the only shuffle carries the
    ~5-language partial-count rows. At 100 TB this is a single scan."""
    d = t(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    stop_hits = None
    for w in _STOPWORDS:
        hit = F.when(padded.like(f"% {w} %"), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    feats = d.select(
        "lang",
        F.size(F.split("text", " ")).alias("n_words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias(
            "n_nonspace"
        ),
        F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", "")).alias("n_sym"),
        F.length("text").alias("n_chars"),
        stop_hits.alias("stop_hits"),
    )
    flags = feats.select(
        "lang",
        F.when(
            F.col("n_words").between(_MIN_WORDS, _MAX_WORDS), 1
        ).otherwise(0).alias("p_wc"),
        F.when(
            (_MIN_MWL * F.col("n_words") <= F.col("n_nonspace"))
            & (F.col("n_nonspace") <= _MAX_MWL * F.col("n_words")),
            1,
        ).otherwise(0).alias("p_mwl"),
        F.when(
            1000 * F.col("n_sym") <= _SYM_PERMILLE * F.col("n_chars"), 1
        ).otherwise(0).alias("p_sym"),
        F.when(F.col("stop_hits") >= _MIN_STOP_HITS, 1).otherwise(0).alias(
            "p_stop"
        ),
    )
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("p_wc").alias("pass_wordcount"),
        F.sum("p_mwl").alias("pass_wordlen"),
        F.sum("p_sym").alias("pass_symbol"),
        F.sum("p_stop").alias("pass_stopword"),
        F.sum(
            F.col("p_wc") * F.col("p_mwl") * F.col("p_sym") * F.col("p_stop")
        ).alias("pass_all"),
    )


@query(
    "q_llm_doc_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), tf AS (
      SELECT doc_id, lang, w, count(*) AS c
      FROM tok GROUP BY 1, 2, 3
    ), per_doc AS (
      SELECT doc_id, lang,
             round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
      FROM tf GROUP BY 1, 2
    )
    SELECT lang,
           count(*) AS n_docs,
           round(avg(entropy), 4) AS avg_entropy,
           round(min(entropy), 4) AS min_entropy,
           round(max(entropy), 4) AS max_entropy
    FROM per_doc GROUP BY lang
    """,
)
def q_llm_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats), profiled per language
    — the repetition/templating detector that catches low-diversity junk
    (boilerplate, keyword stuffing) that length filters miss. Entropy is
    computed in the algebraically stable form ``ln(n) − Σ c·ln(c) / n``
    so only one division happens per document, and per-doc values are
    rounded to 4 dp BEFORE the per-language min/avg/max so both engines
    aggregate identical inputs.

    Plan: split+explode → (doc_id, word) count → per-doc agg → 5-row
    language agg. Two shuffles, both keyed on doc_id-dominated keys that
    scale linearly with the corpus; no all-pairs anywhere."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    tf = tok.groupBy("doc_id", "lang", "w").agg(F.count(F.lit(1)).alias("c"))
    per_doc = tf.groupBy("doc_id", "lang").agg(
        F.round(
            F.log(F.sum("c"))
            - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
            4,
        ).alias("entropy")
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("entropy"), 4).alias("avg_entropy"),
        F.round(F.min("entropy"), 4).alias("min_entropy"),
        F.round(F.max("entropy"), 4).alias("max_entropy"),
    )


_CONTAIN_PERMILLE = 800  # report pairs with containment >= 0.8


@query(
    "q_llm_containment",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(w) - 1, 1)),
                 i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingle
        FROM words
      ) WHERE len(string_split(shingle, ' ')) = 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT id_a, id_b, n_common,
             least(sa.n, sb.n) AS n_small,
             CAST((2 * 1000 * n_common + least(sa.n, sb.n))
                  // (2 * least(sa.n, sb.n)) AS BIGINT) AS containment_permille
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, n_common, n_small, containment_permille
    FROM scored WHERE containment_permille >= {_CONTAIN_PERMILLE}
    """,
)
def q_llm_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram containment near-dup detection: |A∩B| / min(|A|,|B|) over
    3-word shingle sets, reported for pairs ≥ 0.8 in half-up integer
    permille. Containment (asymmetric Jaccard) is the sub-document /
    superset detector — a page embedded inside a larger page scores
    ~1.0 here while plain Jaccard dilutes it toward 0, so this is the
    rule that catches wrapper-page duplication Jaccard misses.

    Plan: shingle-keyed equi-join generates candidates (linear in
    shared-shingle volume, never all-pairs), then two size lookups. The
    division is replaced by the half-up integer-permille idiom, so the
    output is all-integer and the threshold compare is exact. Same
    scale posture as q_llm_neardup_jaccard; at 100 TB the shingle join
    would run over MinHash bands instead (q_llm_minhash_det), with this
    exact form as the per-candidate verifier."""
    from khose_spark.operators.llm import doc_shingles

    # sh feeds three consumers (sizes + both self-join sides) — the
    # session-memoized doc_shingles checkpoint (identical relation to
    # the inline explode(array_distinct(shingle_array)) this used to
    # build) serves all of them plus the whole dedup family.
    sh = doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
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
    scored = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("n", "na")
        .join(
            sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "n", "nb"
            ),
            "id_b",
        )
        .withColumn("n_small", F.least("na", "nb"))
        .withColumn(
            "containment_permille",
            F.expr(
                "CAST((2 * 1000 * n_common + n_small)"
                " DIV (2 * n_small) AS BIGINT)"
            ),
        )
    )
    out = (
        scored.filter(F.col("containment_permille") >= _CONTAIN_PERMILLE)
        .select("id_a", "id_b", "n_common", "n_small", "containment_permille")
        .transform(checkpoint)
    )
    return out


# Per-language unigram counts: the ``tok``, ``vocab`` and ``totals``
# CTEs, the last left open.
_SQL_LANG_UNIGRAMS = """
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), vocab AS (
      SELECT lang, term, count(*) AS n FROM tok GROUP BY 1, 2
    ), totals AS (
      SELECT lang, count(*) AS tot FROM tok GROUP BY 1"""


@query(
    "q_llm_ccnet_buckets",
    oracle=f"""
{_SQL_LANG_UNIGRAMS}
    ), per_doc AS (
      SELECT t.doc_id, t.lang, count(*) AS n_tokens,
             round(avg(ln(CAST(s.tot AS DOUBLE) / v.n)), 4) AS score
      FROM tok t
      JOIN vocab v ON t.lang = v.lang AND t.term = v.term
      JOIN totals s ON t.lang = s.lang
      GROUP BY t.doc_id, t.lang
    ), bucketed AS (
      SELECT lang, n_tokens, score,
             ntile(3) OVER (PARTITION BY lang
                            ORDER BY score ASC, doc_id ASC) AS tercile
      FROM per_doc
    )
    SELECT lang,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(min(score), 4) AS min_score,
           round(max(score), 4) AS max_score
    FROM bucketed GROUP BY 1, 2
    """,
)
def q_llm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document by average
    unigram surprisal under its language's own model (the q_llm_surprisal
    statistic), then split each language into head/middle/tail TERCILES
    — the exact partitioning CCNet uses to keep the cleanest third of a
    crawl and route the rest to lighter use.

    Terciles are assigned by ntile(3) over a TOTAL order (rounded score,
    then doc_id), not by interpolated quantile cuts — rank-based
    bucketing has zero float surface beyond the already-rounded per-doc
    score, and both engines implement standard SQL ntile identically
    (larger buckets first). Model build + broadcast scoring is the
    surprisal plan; the tercile window shuffles once on lang. At 100 TB
    the per-lang sort is the cost — the production path samples the
    score distribution for approximate cut points instead, same
    downstream contract."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = tok.groupBy("lang", "term").agg(F.count("*").alias("n"))
    totals = tok.groupBy("lang").agg(F.count("*").alias("tot"))
    per_doc = (
        tok.join(F.broadcast(vocab), ["lang", "term"])
        .join(F.broadcast(totals), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("tot").cast("double") / F.col("n"))), 4
            ).alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").asc(), F.col("doc_id").asc()
    )
    bucketed = per_doc.withColumn("tercile", F.ntile(3).over(w))
    return (
        bucketed.groupBy(
            "lang",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.min("score"), 4).alias("min_score"),
            F.round(F.max("score"), 4).alias("max_score"),
        )
    )


_NDCG_TERMS = ("join", "filter", "window")
_NDCG_K = 10
_NDCG_K1 = 1.2
_NDCG_B = 0.75


def _sql_bm25_tf(key: str = "doc_id") -> str:
    """BM25 inputs per ``key`` (doc_id first): the ``docs``, ``dl``,
    ``stats``, ``toks``, ``tf`` and ``df`` CTEs for the three query
    terms, the last left open."""
    return f"""
    WITH docs AS (
      SELECT {key}, string_split(text, ' ') AS w FROM documents
    ), dl AS (
      SELECT {key}, len(w) AS dl FROM docs
    ), stats AS (
      SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
    ), toks AS (
      SELECT doc_id, unnest(w) AS term FROM docs
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('join', 'filter', 'window')
      GROUP BY 1, 2
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term"""


@query(
    "q_llm_ndcg",
    oracle=f"""
{_sql_bm25_tf()}
    ), scored AS (
      SELECT tf.term, tf.doc_id,
             round(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({_NDCG_K1} + 1.0)
                   / (tf.tf + {_NDCG_K1} * (1.0 - {_NDCG_B}
                      + {_NDCG_B} * dl.dl / s.avgdl)), 4) AS score
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN df ON df.term = tf.term
      CROSS JOIN stats s
    ), ranked AS (
      SELECT term, doc_id, score,
             row_number() OVER (PARTITION BY term
                                ORDER BY score DESC, doc_id ASC) AS rk
      FROM scored
    ), topk AS (
      SELECT term, doc_id, rk,
             CAST((doc_id + length(term)) % 4 AS BIGINT) AS rel
      FROM ranked WHERE rk <= {_NDCG_K}
    ), ideal AS (
      SELECT term, rel,
             row_number() OVER (PARTITION BY term
                                ORDER BY rel DESC, doc_id ASC) AS irk
      FROM topk
    ), dcg AS (
      SELECT term,
             count(*) AS n_results,
             sum((power(2.0, rel) - 1.0) / log2(CAST(rk + 1 AS DOUBLE)))
               AS dcg_raw
      FROM topk GROUP BY term
    ), idcg AS (
      SELECT term,
             sum((power(2.0, rel) - 1.0) / log2(CAST(irk + 1 AS DOUBLE)))
               AS idcg_raw
      FROM ideal GROUP BY term
    )
    SELECT d.term, CAST(d.n_results AS BIGINT) AS n_results,
           round(d.dcg_raw, 4) AS dcg,
           round(i.idcg_raw, 4) AS idcg,
           round(d.dcg_raw / i.idcg_raw, 4) AS ndcg
    FROM dcg d JOIN idcg i ON i.term = d.term
    """,
)
def q_llm_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: nDCG@10 per query for three
    single-term BM25 queries, against deterministic pseudo-relevance
    labels ``rel = (doc_id + len(term)) % 4`` — the evaluation harness
    shape (rank, graded relevance, DCG / ideal-DCG) that any search or
    RAG pipeline bolts onto its index, with synthetic labels standing in
    for human judgments (FIXTURES.md has none; the CONTRACT is the
    metric computation, which the oracle checks exactly).

    Determinism: BM25 scores are rounded to 4 dp BEFORE ranking (the
    naive-bayes argmax precedent) so both engines rank identically;
    gains ``2^rel − 1`` are exact small integers; the only remaining
    float surface is the log2 discount + one division, rounded to 4.

    Plan: tf is filtered to the query terms AT THE SCAN (three terms →
    tiny tf/df relations, all broadcastable), the per-term ranking is a
    WindowGroupLimit top-10, and the DCG aggregation runs over 30 rows.
    At 100 TB only the token scan is data-sized."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    dl = d.select("doc_id", F.size(words).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    toks = d.select("doc_id", F.explode(words).alias("term"))
    # tf feeds both the df aggregation and the scoring join; topk feeds
    # both the DCG and ideal-DCG branches — persist each and release
    # after the eager localCheckpoint (the dedup_audit pattern), else
    # the whole scan+explode pipeline executes once per branch.
    tf = (
        toks.filter(F.col("term").isin(*_NDCG_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + _NDCG_K1 * (
        1.0 - _NDCG_B + _NDCG_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            F.round(idf * F.col("tf") * (_NDCG_K1 + 1.0) / denom, 4).alias(
                "score"
            ),
        )
    )
    w_rank = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    topk = (
        scored.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= _NDCG_K)
        .withColumn(
            "rel",
            ((F.col("doc_id") + F.length("term")) % 4).cast("long"),
        )
        .persist()
    )
    w_ideal = Window.partitionBy("term").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    ideal = topk.withColumn("irk", F.row_number().over(w_ideal))
    gain = F.pow(F.lit(2.0), F.col("rel")) - 1.0
    dcg = topk.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n_results"),
        F.sum(gain / F.log2((F.col("rk") + 1).cast("double"))).alias(
            "dcg_raw"
        ),
    )
    idcg = ideal.groupBy("term").agg(
        F.sum(gain / F.log2((F.col("irk") + 1).cast("double"))).alias(
            "idcg_raw"
        )
    )
    out = (
        dcg.join(idcg, "term")
        .select(
            "term",
            "n_results",
            F.round("dcg_raw", 4).alias("dcg"),
            F.round("idcg_raw", 4).alias("idcg"),
            F.round(F.col("dcg_raw") / F.col("idcg_raw"), 4).alias("ndcg"),
        )
    ).transform(checkpoint)
    tf.unpersist()
    topk.unpersist()
    return out


@query(
    "q_llm_filter_funnel",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_words,
             length(replace(text, ' ', '')) AS n_nonspace,
             ({" + ".join(
                 "CASE WHEN concat(' ', text, ' ') LIKE '% " + w + " %' "
                 "THEN 1 ELSE 0 END" for w in _STOPWORDS
             )}) AS stop_hits
      FROM documents
    ), flagged AS (
      SELECT
        CASE WHEN n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
             THEN 1 ELSE 0 END AS f1,
        CASE WHEN {_MIN_MWL} * n_words <= n_nonspace
              AND n_nonspace <= {_MAX_MWL} * n_words
             THEN 1 ELSE 0 END AS f2,
        CASE WHEN stop_hits >= {_MIN_STOP_HITS} THEN 1 ELSE 0 END AS f3,
        CASE WHEN row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) = 1
             THEN 1 ELSE 0 END AS f4
      FROM feats
    ), folded AS (
      SELECT count(*) AS n0,
             CAST(sum(f1) AS BIGINT) AS n1,
             CAST(sum(f1 * f2) AS BIGINT) AS n2,
             CAST(sum(f1 * f2 * f3) AS BIGINT) AS n3,
             CAST(sum(f1 * f2 * f3 * f4) AS BIGINT) AS n4
      FROM flagged
    )
    SELECT stage, rule, n_in, n_out, n_in - n_out AS n_dropped,
           (2 * 1000 * n_out + n0) // (2 * n0) AS survive_permille
    FROM (
      SELECT 1 AS stage, 'wordcount' AS rule, n0 AS n_in, n1 AS n_out,
             n0 FROM folded
      UNION ALL
      SELECT 2, 'mean_wordlen', n1, n2, n0 FROM folded
      UNION ALL
      SELECT 3, 'stopword', n2, n3, n0 FROM folded
      UNION ALL
      SELECT 4, 'exact_dedup', n3, n4, n0 FROM folded
    ) ORDER BY stage
    """,
)
def q_llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel — the survival report every corpus
    pipeline publishes: the four gates (Gopher word-count bound, mean-
    word-length bound, stopword presence, exact-dedup first-occurrence)
    applied CUMULATIVELY, with per-stage in/out/drop counts and the
    cumulative half-up permille survival vs the raw corpus. The
    composition view over q_llm_gopher_rules' independent per-rule
    audit: rule order matters in a funnel, and this pins it.

    Plan: all three content gates are row-local map-side flags; the
    dedup gate is one row_number window keyed on md5(text) (the
    q_llm_exact_dedup shuffle); then a single 1-row fold is unpivoted
    into the 4 funnel rows via stack(). One data-sized shuffle total,
    output size is the constant stage count."""
    docs = t(spark, sf_dir, "documents")
    stop_hits = sum(
        F.when(
            F.concat(F.lit(" "), F.col("text"), F.lit(" ")).like(
                f"% {w} %"
            ),
            1,
        ).otherwise(0)
        for w in _STOPWORDS
    )
    feats = docs.select(
        "doc_id",
        "text",
        F.size(F.split("text", " ")).alias("n_words"),
        F.length(F.regexp_replace("text", " ", "")).alias("n_nonspace"),
        stop_hits.alias("stop_hits"),
    )
    w_dedup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    flagged = feats.select(
        F.when(
            F.col("n_words").between(_MIN_WORDS, _MAX_WORDS), 1
        )
        .otherwise(0)
        .alias("f1"),
        F.when(
            (_MIN_MWL * F.col("n_words") <= F.col("n_nonspace"))
            & (F.col("n_nonspace") <= _MAX_MWL * F.col("n_words")),
            1,
        )
        .otherwise(0)
        .alias("f2"),
        F.when(F.col("stop_hits") >= _MIN_STOP_HITS, 1)
        .otherwise(0)
        .alias("f3"),
        F.when(F.row_number().over(w_dedup) == 1, 1)
        .otherwise(0)
        .alias("f4"),
    )
    folded = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("f1").alias("n1"),
        F.sum(F.col("f1") * F.col("f2")).alias("n2"),
        F.sum(F.col("f1") * F.col("f2") * F.col("f3")).alias("n3"),
        F.sum(
            F.col("f1") * F.col("f2") * F.col("f3") * F.col("f4")
        ).alias("n4"),
    )
    return (
        folded.selectExpr(
            "stack(4,"
            " 1, 'wordcount',    n0, n1,"
            " 2, 'mean_wordlen', n1, n2,"
            " 3, 'stopword',     n2, n3,"
            " 4, 'exact_dedup',  n3, n4) AS (stage, rule, n_in, n_out)",
            "n0",
        )
        .selectExpr(
            "stage",
            "rule",
            "n_in",
            "n_out",
            "n_in - n_out AS n_dropped",
            "(2 * 1000 * n_out + n0) DIV (2 * n0) AS survive_permille",
        )
        .orderBy("stage")
    )


@query(
    "q_llm_char_entropy",
    oracle="""
    WITH grams AS (
      SELECT lang,
             unnest(list_transform(range(1, length(text)),
                    i -> substr(text, CAST(i AS INTEGER), 2))) AS bg
      FROM documents
    ), cf AS (
      SELECT lang, bg, count(*) AS c FROM grams GROUP BY 1, 2
    )
    SELECT lang,
           count(*) AS n_distinct_bigrams,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4)
               AS char_bigram_entropy
    FROM cf GROUP BY lang ORDER BY lang
    """,
)
def q_llm_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram Shannon entropy per language (nats) — the
    compressibility proxy one level below q_llm_doc_entropy's word
    view: encoding glitches, transliteration junk, and repeated-
    character spam all crater the char-bigram distribution long before
    the word distribution notices. Same stable entropy form
    (ln(n) − Σ c·ln(c)/n — one division per language) with round-4 at
    the boundary.

    Plan: map-side bigram explode (positions from a per-row range —
    no cross-row work) → a (lang x bigram-alphabet)-bounded count
    aggregation → a 5-row fold. The alphabet bounds the state, not the
    corpus size."""
    grams = t(spark, sf_dir, "documents").select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("bg"),
    )
    cf = grams.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("c"))
    return (
        cf.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
            F.sum("c").alias("n_bigrams"),
            F.round(
                F.log(F.sum("c"))
                - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
                4,
            ).alias("char_bigram_entropy"),
        )
        .orderBy("lang")
    )


@query(
    "q_llm_watermark_detect",
    oracle=f"""
    WITH perdoc AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS t_tok,
             CAST(len(list_filter(string_split(text, ' '),
                  w -> {_sql_hash_bucket_w4} = 0)) AS BIGINT) AS g_tok
      FROM documents
    ), scored AS (
      SELECT source, t_tok, g_tok,
             4 * g_tok - t_tok AS g4
      FROM perdoc
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN g4 > 0 AND g4 * g4 >= 12 * t_tok
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST((2 * 1000 * sum(g_tok) + sum(t_tok))
                // (2 * sum(t_tok)) AS BIGINT) AS green_permille,
           round(max(g4 / sqrt(3.0 * t_tok)), 4) AS max_z_r4
    FROM scored GROUP BY source ORDER BY source
    """,
)
def q_llm_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-watermark detection (Kirchenbauer-style green-list test) over
    the corpus: a public gamma = 1/4 scheme marks a token "green" when
    the md5 bucket of the token string falls in the first quarter of
    hash space; a watermarked generator over-samples green tokens, so a
    document's green count G among T tokens drifts above the gamma*T
    null. The per-document one-proportion z-statistic
    z = (G - T/4) / sqrt(T * (1/4) * (3/4)) = (4G - T) / sqrt(3T)
    flags machine-generated (or hash-correlated) text; per-source
    totals give the contamination dashboard every pretraining-data
    audit wants (which crawl slices are full of LLM output?).

    Determinism/exactness: tokens are the whitespace split (the
    q_llm_token_count tokenizer law); greenness is the content-stable
    md5 bucket (the q_llm_split_assign law - bit-identical across
    engines, resharding-invariant, RNG-free). The flag threshold z >= 2
    NEVER evaluates a float: it is the exact integer predicate
    g4 > 0 AND g4^2 >= 12*T (squaring the definition - g4 = 4G - T and
    g4^2 <= (3T)^2 ~ 1e10 at a 30k-token doc, >8 int64 decades). The
    green share reports as exact half-up permille; only max_z is a
    double (identical tree from exact integers, round-4).

    Plan: pure map-side per-document flags (split + list-filter inside
    the row - no explode, no shuffle of token rows) followed by one
    |sources|-bounded aggregate. At 100 TB: one tiny shuffle; the text
    column never moves."""
    from khose_spark.operators.curation import hash_bucket  # noqa: F401

    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    green = F.filter(
        toks,
        lambda w: (
            F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("int") % 4
        )
        == 0,
    )
    perdoc = d.select(
        "source",
        F.size(toks).cast("long").alias("t_tok"),
        F.size(green).cast("long").alias("g_tok"),
    ).select(
        "source",
        "t_tok",
        "g_tok",
        (4 * F.col("g_tok") - F.col("t_tok")).alias("g4"),
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("g4") > 0)
                    & (F.col("g4") * F.col("g4") >= 12 * F.col("t_tok")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_flagged"),
            F.expr(
                "CAST((2 * 1000 * sum(g_tok) + sum(t_tok))"
                " DIV (2 * sum(t_tok)) AS BIGINT)"
            ).alias("green_permille"),
            F.round(
                F.max(
                    F.col("g4").cast("double")
                    / F.sqrt(3.0 * F.col("t_tok").cast("double"))
                ),
                4,
            ).alias("max_z_r4"),
        )
        .orderBy("source")
    )


@query(
    "q_llm_code_detect",
    oracle="""
    WITH flags AS (
      SELECT lang, n_chars,
             CAST(len(text) - len(replace(text, ';', '')) AS BIGINT)
               AS n_semi,
             CAST(len(text) - len(replace(text, '{', ''))
                  + len(text) - len(replace(text, '}', '')) AS BIGINT)
               AS n_brace,
             CAST(len(text) - len(replace(text, '=', '')) AS BIGINT)
               AS n_eq,
             CASE WHEN instr(text, 'def ') > 0
                    OR instr(text, '#include') > 0
                    OR instr(text, 'void ') > 0 THEN 1 ELSE 0 END
               AS kw
      FROM documents
    ), scored AS (
      SELECT lang, n_chars, n_semi + n_brace + n_eq AS n_sym,
             CASE WHEN 50 * (n_semi + n_brace + n_eq) >= n_chars
                    OR kw = 1 THEN 1 ELSE 0 END AS is_code
      FROM flags
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_code) AS BIGINT) AS n_code,
           CAST((2 * 1000 * sum(is_code) + count(*))
                // (2 * count(*)) AS BIGINT) AS code_permille,
           CAST((2 * 1000 * sum(n_sym) + sum(n_chars))
                // (2 * sum(n_chars)) AS BIGINT) AS sym_permille
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def q_llm_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-likeness detection over the corpus - the natural-language /
    source-code router every pretraining mix needs (code goes to the
    code pipeline with its own dedup and quality rules; prose goes to
    Gopher/C4 filters; MISROUTED code destroys prose perplexity
    filters and vice versa): a document flags as code when its
    symbol density (';' + braces + '=') reaches 2% of characters -
    expressed as the integer cross-multiplication
    50 * n_sym >= n_chars, the Gopher-rules no-float idiom - OR a
    hard keyword ('def ', '#include', 'void ') appears.

    Determinism/exactness: symbol counts are the exact
    len - len(replace) difference (bit-identical in both engines; no
    regex engine semantics cross the boundary - the instr() substring
    tests are similarly exact); all outputs are int64 counts and
    half-up permille shares. No float anywhere in the key.

    Plan: pure map-side per-document counters followed by one
    |langs|-bounded aggregate; the text column never shuffles. The
    same plan at 100 TB."""
    d = t(spark, sf_dir, "documents")
    n_semi = (
        F.length("text") - F.length(F.regexp_replace("text", ";", ""))
    ).cast("long")
    n_brace = (
        F.length("text")
        - F.length(F.regexp_replace("text", r"\{", ""))
        + F.length("text")
        - F.length(F.regexp_replace("text", r"\}", ""))
    ).cast("long")
    n_eq = (
        F.length("text") - F.length(F.regexp_replace("text", "=", ""))
    ).cast("long")
    kw = (
        (F.instr("text", "def ") > 0)
        | (F.instr("text", "#include") > 0)
        | (F.instr("text", "void ") > 0)
    )
    n_sym = (n_semi + n_brace + n_eq).alias("n_sym")
    scored = d.select(
        "lang",
        "n_chars",
        n_sym,
        F.when((50 * (n_semi + n_brace + n_eq) >= F.col("n_chars")) | kw, 1)
        .otherwise(0)
        .alias("is_code"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_code").cast("long").alias("n_code"),
            F.expr(
                "CAST((2 * 1000 * sum(is_code) + count(*))"
                " DIV (2 * count(*)) AS BIGINT)"
            ).alias("code_permille"),
            F.expr(
                "CAST((2 * 1000 * sum(n_sym) + sum(n_chars))"
                " DIV (2 * sum(n_chars)) AS BIGINT)"
            ).alias("sym_permille"),
        )
        .orderBy("lang")
    )


_FT_BUCKETS = 1024  # hashed-feature dimension of the linear scorer
# DuckDB twins of the two md5-hex stages (the hash_bucket idiom):
_FT_TOK_BUCKET = _sql_hash_bucket("term", _FT_BUCKETS)
_FT_WEIGHT = (
    f"(({_sql_hash_bucket('''('w|' || CAST(bucket AS VARCHAR))''', 2001)})"
    " - 1000)"
)


@query(
    "q_llm_fasttext_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), hashed AS (
      SELECT doc_id, lang, {_FT_TOK_BUCKET} AS bucket
      FROM tok
    ), weighted AS (
      SELECT doc_id, lang,
             CAST({_FT_WEIGHT} AS BIGINT) AS w
      FROM hashed
    ), doc AS (
      SELECT doc_id, lang,
             CAST(sum(w) AS BIGINT) AS sum_w,
             CAST(count(*) AS BIGINT) AS n_tok
      FROM weighted GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN sum_w > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST((2 * 1000 * sum(CASE WHEN sum_w > 0 THEN 1 ELSE 0 END)
                 + count(*)) // (2 * count(*)) AS BIGINT)
             AS keep_permille,
           round(avg(CAST(sum_w AS DOUBLE) / n_tok), 4)
             AS avg_score_r4
    FROM doc GROUP BY lang ORDER BY lang
    """,
)
def q_llm_fasttext_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality-classifier INFERENCE over the
    corpus — the scoring pass a model-based quality filter (CCNet's
    LM filter, fastText lang/quality heads) runs at ingest: each token
    hashes into a 1024-bucket feature space (the q_llm_hash_features
    trick), each bucket carries a fixed integer weight in
    [-1000, 1000] (md5-derived — a deterministic stand-in for trained
    weights; swapping in a real weight table is a broadcast join on
    `bucket`), a document's score is its mean token weight, and the
    keep decision is score > 0 — which over integer weights is the
    EXACT integer predicate sum_w > 0, no float threshold anywhere.

    Per-lang report: docs, kept, exact half-up keep-permille, and the
    round-4 mean per-token score (the one double fold, avg over docs
    of sum_w/n_tok — the q_llm_surprisal corpus-avg precedent).

    Plan shape for 100 TB: tokenize + hash + weight are ONE map-side
    codegen stage (md5 hex arithmetic, zero Python, zero lookup
    table materialized — the weight is computed from the bucket id);
    the only shuffles are the (doc_id, lang) partial-agg and the
    5-row lang rollup. Corpus read once, nothing corpus-sized ever
    shuffles except the per-doc partial sums."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 4), 16, 10).cast("int")
        % _FT_BUCKETS
    )
    w = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w|"), F.col("bucket").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % 2001
        - 1000
    ).cast("long")
    doc = (
        tok.select("doc_id", "lang", bucket.alias("bucket"))
        .select("doc_id", "lang", w.alias("w"))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("w").cast("long").alias("sum_w"),
            F.count(F.lit(1)).cast("long").alias("n_tok"),
        )
    )
    return (
        doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("sum_w") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.round(
                F.avg(F.col("sum_w").cast("double") / F.col("n_tok")), 4
            ).alias("avg_score_r4"),
        )
        .select(
            "lang",
            "n_docs",
            "n_kept",
            F.expr(
                "CAST((2 * 1000 * n_kept + n_docs) DIV (2 * n_docs)"
                " AS BIGINT)"
            ).alias("keep_permille"),
            "avg_score_r4",
        )
        .orderBy("lang")
    )
