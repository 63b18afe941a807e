"""Text-analysis operators for training-data curation (SURVEY.md §2.8
extension family): language identification, quality scoring, token
counting, and document fingerprinting over the ``documents`` table.

All four are pure built-in-function plans (no Python UDFs): they stay
inside WholeStageCodegen, shuffle only for the final small aggregation,
and scale linearly — the per-document computation is map-side.

Fixture caveat (FIXTURES.md): documents.text is a synthetic shared
vocabulary, so the language-ID heuristic mostly predicts 'en'
regardless of the labeled lang. The operator's contract is the
deterministic computation, which the DuckDB oracle checks exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.operators.quality_rules import _SQL_LANG_UNIGRAMS
from khose_spark.registry import query
from khose_spark.tables import t

# Marker-word profiles for the language-ID heuristic. Tiny on purpose:
# at scale these live in a broadcast map; here they fold into the plan
# as literals, so language-ID is a zero-shuffle map-side computation.
_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "und", "die", "ist"),
    "es": ("el", "los", "que", "y"),
    "fr": ("le", "les", "et", "des"),
}


def _marker_score(lang: str):
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    hits = [
        F.when(padded.like(f"% {w} %"), 1).otherwise(0) for w in _MARKERS[lang]
    ]
    score = hits[0]
    for h in hits[1:]:
        score = score + h
    return score


def _marker_score_sql(lang: str) -> str:
    return " + ".join(
        f"CASE WHEN concat(' ', text, ' ') LIKE '% {w} %' THEN 1 ELSE 0 END"
        for w in _MARKERS[lang]
    )


@query(
    "q_llm_langid",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             {_marker_score_sql("en")} AS s_en,
             {_marker_score_sql("de")} AS s_de,
             {_marker_score_sql("es")} AS s_es,
             {_marker_score_sql("fr")} AS s_fr,
             CASE WHEN regexp_matches(text, '[^\\x00-\\x7F]') THEN 1 ELSE 0 END AS s_zh
      FROM documents
    )
    SELECT lang,
           CASE WHEN s_zh > 0 THEN 'zh'
                WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS predicted,
           count(*) AS n_docs
    FROM scored GROUP BY 1, 2
    """,
)
def q_llm_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/marker-word language-ID heuristic: score text against fixed
    per-language marker lists (non-ASCII presence short-circuits to zh),
    argmax with a fixed precedence order so ties are deterministic.
    Emits the (labeled lang, predicted lang) confusion counts."""
    d = t(spark, sf_dir, "documents")
    scored = d.select(
        "lang",
        _marker_score("en").alias("s_en"),
        _marker_score("de").alias("s_de"),
        _marker_score("es").alias("s_es"),
        _marker_score("fr").alias("s_fr"),
        F.when(F.col("text").rlike("[^\\x00-\\x7F]"), 1).otherwise(0).alias("s_zh"),
    )
    s = {k: F.col(f"s_{k}") for k in ("en", "de", "es", "fr", "zh")}
    predicted = (
        F.when(s["zh"] > 0, "zh")
        .when((s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return (
        scored.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q_llm_quality_score",
    oracle="""
    WITH m AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents
    ), scored AS (
      SELECT lang,
             round(0.4 * least(CAST(n_tokens AS DOUBLE) / 60, 1.0)
                   + 0.6 * (CAST(n_distinct AS DOUBLE) / n_tokens), 4) AS score
      FROM m
    )
    SELECT lang,
           CASE WHEN score >= 0.6 THEN 'high'
                WHEN score >= 0.4 THEN 'medium'
                ELSE 'low' END AS tier,
           count(*) AS n_docs,
           round(avg(score), 4) AS avg_score
    FROM scored GROUP BY 1, 2
    """,
)
def q_llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring for corpus filtering: a deterministic
    blend of length saturation (n_tokens/60 capped at 1) and type-token
    ratio (lexical diversity), banded into low/medium/high tiers.
    Map-side per-document math, one small shuffle for the rollup —
    the shape a 100 TB quality-filter pass needs."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tokens = F.size(words).cast("double")
    n_distinct = F.size(F.array_distinct(words)).cast("double")
    score = F.round(
        0.4 * F.least(n_tokens / 60, F.lit(1.0)) + 0.6 * (n_distinct / n_tokens), 4
    )
    scored = d.select("lang", score.alias("score"))
    tier = (
        F.when(F.col("score") >= 0.6, "high")
        .when(F.col("score") >= 0.4, "medium")
        .otherwise("low")
    )
    return (
        scored.select("lang", tier.alias("tier"), "score")
        .groupBy("lang", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
    )


@query(
    "q_llm_token_count",
    oracle="""
    SELECT lang,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)         AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+')))
                AS BIGINT)                                           AS sub_tokens,
           round(avg(CAST(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+')) AS DOUBLE)
                     / len(string_split(text, ' '))), 4)             AS subs_per_word
    FROM documents GROUP BY lang
    """,
)
def q_llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish subword
    segmentation (maximal vowel-run / consonant-run units via regex —
    a stand-in for a real tokenizer's merge behavior). Emits per-lang
    totals and the subwords-per-word inflation ratio used to budget
    token counts for training runs. Pure regexp built-ins — the 100 TB
    version is the same plan."""
    d = t(spark, sf_dir, "documents")
    ws = F.size(F.split("text", " "))
    # idx=0 (whole match): the pattern has no capture groups and Spark's
    # default group index is 1.
    sub = F.size(F.regexp_extract_all("text", F.lit("[aeiou]+|[^aeiou ]+"), F.lit(0)))
    return d.groupBy("lang").agg(
        F.sum(ws).alias("ws_tokens"),
        F.sum(sub).alias("sub_tokens"),
        F.round(F.avg(sub.cast("double") / ws), 4).alias("subs_per_word"),
    )


@query(
    "q_llm_fingerprint",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(w) - 2, 1)),
                 i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]))) AS shingle
        FROM words
      ) WHERE len(string_split(shingle, ' ')) = 4
    )
    SELECT doc_id,
           min(md5(shingle))           AS fp,
           substr(min(md5(shingle)), 1, 2) AS fp_bucket
    FROM sh WHERE doc_id < 150 GROUP BY doc_id
    """,
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting, winnowing-style: hash every 4-word
    shingle (the rolling window) and keep the minimum hash as the doc's
    content fingerprint — robust to small edits, identical for
    near-identical docs. `fp_bucket` (first hash byte) is the shard key
    a 100 TB fingerprint index would partition on. Map-side shingle
    explode + one groupBy on doc_id (already-dense key, no skew)."""
    from khose_spark.operators.llm import shingle_array

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    words = F.split("text", " ")
    # shifted-array shingle build (see llm.shingle_array) — emits only
    # complete 4-grams, so no post-filter on shingle word count needed
    exploded = d.select(
        "doc_id", F.explode(shingle_array(words, 4)).alias("shingle")
    )
    return exploded.groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("fp"),
        F.substring(F.min(F.md5("shingle")), 1, 2).alias("fp_bucket"),
    )


@query(
    "q_llm_surprisal",
    oracle=f"""
{_SQL_LANG_UNIGRAMS}
    )
    SELECT t.doc_id, t.lang, count(*) AS n_tokens,
           round(avg(ln(CAST(s.tot AS DOUBLE) / v.n)), 4) AS avg_surprisal
    FROM tok t
    JOIN vocab v ON t.lang = v.lang AND t.term = v.term
    JOIN totals s ON t.lang = s.lang
    GROUP BY t.doc_id, t.lang
    """,
)
def q_llm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram surprisal scoring — the cheap stand-in for the KenLM-style
    perplexity filter every corpus-quality pipeline runs: score each
    document by the average -ln P(term | lang) under the corpus's own
    per-language unigram model. High scores flag outlier documents.

    Two aggregations build the model (per-lang term counts + totals,
    both tiny: the model is vocabulary-sized, not corpus-sized), which
    then BROADCASTS into the token stream — scoring is map-side, and the
    only corpus-scale shuffle is the final per-doc average. avg of logs
    is continuous, so round(4) is hash-stable (sqlutil law)."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = tok.groupBy("lang", "term").agg(F.count("*").alias("n"))
    totals = tok.groupBy("lang").agg(F.count("*").alias("tot"))
    return (
        tok.join(F.broadcast(vocab), ["lang", "term"])
        .join(F.broadcast(totals), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("tot").cast("double") / F.col("n"))), 4
            ).alias("avg_surprisal"),
        )
        .select("doc_id", "lang", "n_tokens", "avg_surprisal")
    )


@query(
    "q_llm_tfidf",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, lang,
               unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, lang, term, count(*) AS tf
        FROM tokens WHERE term <> '' AND length(term) >= 3
        GROUP BY doc_id, lang, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.lang, tf.term,
               sum(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)) AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        GROUP BY tf.lang, tf.term
    ), ranked AS (
        SELECT lang, term, round(score, 4) AS tfidf,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY round(score, 4) DESC, term) AS rk
        FROM scored
    )
    SELECT lang, rk, term, tfidf FROM ranked WHERE rk <= 5
    """,
)
def q_llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF: the classic map-reduce shape — tokenize, term
    frequency per (doc, term), document frequency per term, join,
    score, top-5 terms per language.  Every stage is a JVM-side
    groupBy keyed on the natural key of that stage (doc+term, then
    term, then lang+term); the corpus-size scalar is a 1-row aggregate
    broadcast-crossed in (never collected).  The per-lang top-5 window
    is partition-bounded (WindowGroupLimit), so no global sort exists
    anywhere in the plan.

    Determinism: ranking compares round(score, 4) — not the raw float
    sum, whose partial-aggregation ordering differs between engines —
    with the term string as total-order tiebreak.  ln/quotient scores
    are continuous, so round(4) is hash-stable (sqlutil law)."""
    docs = t(spark, sf_dir, "documents")

    tokens = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    ).filter((F.col("term") != "") & (F.length("term") >= 3))
    tf = tokens.groupBy("doc_id", "lang", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))

    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .groupBy("lang", "term")
        .agg(
            F.sum(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("score")
        )
    )
    from pyspark.sql import Window

    tfidf = F.round(F.col("score"), 4)
    w = Window.partitionBy("lang").orderBy(
        tfidf.desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("tfidf", tfidf)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "rk", "term", "tfidf")
    )


@query(
    "q_llm_length_histogram",
    oracle="""
    WITH bucketed AS (
      SELECT lang, len(bin(n_chars)) - 1 AS log2_bucket, n_chars
      FROM documents
    )
    SELECT lang, CAST(log2_bucket AS INT) AS log2_bucket,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM bucketed GROUP BY 1, 2
    """,
)
def q_llm_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram per language — the
    length-distribution profile every corpus report starts with (and
    the input to truncation/packing policy choices, cf. q_llm_seq_pack).

    The log2 bucket is computed as len(binary representation) − 1:
    pure integer arithmetic, because floor(log2(x)) through doubles is
    NOT portable at exact powers of two (ln(8)/ln(2) can land just
    below 3.0 in either engine). Map-side bucketing + a tiny
    (lang × ~5 buckets) aggregation — one shuffle of already-partial
    counts at any scale."""
    d = t(spark, sf_dir, "documents")
    bucket = (F.length(F.bin("n_chars")) - 1).cast("int")
    return d.groupBy("lang", bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


@query(
    "q_llm_kl_divergence",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), st AS (
      SELECT source, term, count(*) AS c_st FROM toks GROUP BY 1, 2
    ), ct AS (
      SELECT term, sum(c_st) AS c_t FROM st GROUP BY 1
    ), ns AS (
      SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1
    ), n AS (
      SELECT sum(c_st) AS n_tot FROM st
    )
    SELECT st.source,
           count(*) AS n_terms,
           CAST(any_value(ns.n_s) AS BIGINT) AS n_tokens,
           round(sum((CAST(st.c_st AS DOUBLE) / ns.n_s)
                     * ln((CAST(st.c_st AS DOUBLE) * n.n_tot)
                          / (CAST(ct.c_t AS DOUBLE) * ns.n_s))), 4)
               AS kl_vs_corpus
    FROM st
    JOIN ct ON ct.term = st.term
    JOIN ns ON ns.source = st.source
    CROSS JOIN n
    GROUP BY st.source
    """,
)
def q_llm_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift audit: KL divergence of each source's term
    distribution against the whole-corpus distribution — the drift
    detector a crawl pipeline runs per ingest source (a source whose
    unigram distribution diverges hard from the corpus is boilerplate,
    spam, or another language). Every term of a source exists in the
    corpus by construction, so the divergence is total (no zero-
    probability smoothing needed).

    Determinism: probabilities are ratios of exact integer counts —
    identical doubles in both engines — and ln of identical doubles
    agrees (the q_llm_surprisal precedent); the per-source sum is
    continuous under round(4).

    Scale: one token-stream shuffle to (source, term) counts; the
    corpus marginal re-aggregates that vocabulary-bounded relation
    (not the raw stream) and joins back on the term key UNHINTED — AQE
    broadcasts it at runtime when the vocabulary is small and falls
    back to a linear term-keyed shuffle when it is open-domain huge;
    totals are a 20-row and a 1-row broadcast. Same posture as
    q_llm_tfidf."""
    d = t(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_st"))
        .persist()
    )
    ct = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    n = st.agg(F.sum("c_st").alias("n_tot"))
    joined = (
        st.join(ct, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
    )
    contrib = (F.col("c_st").cast("double") / F.col("n_s")) * F.log(
        (F.col("c_st").cast("double") * F.col("n_tot"))
        / (F.col("c_t").cast("double") * F.col("n_s"))
    )
    out = joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.first("n_s").cast("long").alias("n_tokens"),
        F.round(F.sum(contrib), 4).alias("kl_vs_corpus"),
    ).transform(checkpoint)  # per-source rows; release the term-count cache
    st.unpersist()
    return out


@query(
    "q_llm_heaps",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_toks,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(text), doc_id) AS rk
      FROM documents
    ), terms AS (
      SELECT lang, unnest(list_distinct(string_split(text, ' '))) AS term,
             rk
      FROM ranked
    ), firsts AS (
      SELECT lang, term, min(rk) AS first_rk FROM terms GROUP BY 1, 2
    ), novel AS (
      SELECT lang, first_rk AS rk, count(*) AS n_novel
      FROM firsts GROUP BY 1, 2
    ), curve AS (
      SELECT r.lang, r.rk,
             sum(r.n_toks) OVER (PARTITION BY r.lang ORDER BY r.rk) AS cum_toks,
             sum(coalesce(nv.n_novel, 0))
                 OVER (PARTITION BY r.lang ORDER BY r.rk) AS cum_vocab
      FROM ranked r
      LEFT JOIN novel nv ON nv.lang = r.lang AND nv.rk = r.rk
    )
    SELECT lang, count(*) AS n_docs,
           round(regr_slope(ln(CAST(cum_vocab AS DOUBLE)),
                            ln(CAST(cum_toks AS DOUBLE))), 4) AS heaps_beta,
           round(regr_intercept(ln(CAST(cum_vocab AS DOUBLE)),
                                ln(CAST(cum_toks AS DOUBLE))), 4) AS heaps_ln_k,
           round(regr_r2(ln(CAST(cum_vocab AS DOUBLE)),
                         ln(CAST(cum_toks AS DOUBLE))), 4) AS heaps_r2
    FROM curve GROUP BY lang
    """,
)
def q_llm_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit per language: regress ln(cumulative vocabulary)
    on ln(cumulative tokens) along the corpus read in deterministic
    md5 order — V = K·n^beta, the vocabulary-growth curve that predicts
    how much NEW vocabulary the next TB of crawl will contribute (and,
    like the Zipf fit, flags templated corpora: natural text sits near
    beta 0.4-0.6, boilerplate saturates early).

    The sequential-looking "cumulative distinct vocabulary" is computed
    distributively: each distinct (lang, term) is charged to the FIRST
    document (min rank) containing it — the q_llm_ngram_novelty trick —
    so cumulative vocabulary is a running sum of per-rank novel-term
    counts, never a sequential distinct scan.

    Scale: one (lang, term) first-occurrence aggregate over the token
    stream (vocabulary-bounded output), a per-lang ranking window, two
    running-sum windows over the per-doc relation, and a 5-row
    regression aggregate. ln over exact integers; regression continuous
    under round(4)."""
    d = t(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    ranked = d.select(
        "lang",
        F.size(F.split("text", " ")).alias("n_toks"),
        F.array_distinct(F.split("text", " ")).alias("terms"),
        F.row_number().over(w_rank).alias("rk"),
    ).persist()
    firsts = (
        ranked.select("lang", "rk", F.explode("terms").alias("term"))
        .groupBy("lang", "term")
        .agg(F.min("rk").alias("first_rk"))
    )
    novel = firsts.groupBy(
        "lang", F.col("first_rk").alias("rk")
    ).agg(F.count(F.lit(1)).alias("n_novel"))
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = (
        ranked.drop("terms")
        .join(F.broadcast(novel), ["lang", "rk"], "left")
        .select(
            "lang",
            F.sum("n_toks").over(w_cum).alias("cum_toks"),
            F.sum(F.coalesce(F.col("n_novel"), F.lit(0)))
            .over(w_cum)
            .alias("cum_vocab"),
        )
    )
    ln_v = F.log(F.col("cum_vocab").cast("double"))
    ln_n = F.log(F.col("cum_toks").cast("double"))
    out = curve.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.regr_slope(ln_v, ln_n), 4).alias("heaps_beta"),
        F.round(F.regr_intercept(ln_v, ln_n), 4).alias("heaps_ln_k"),
        F.round(F.regr_r2(ln_v, ln_n), 4).alias("heaps_r2"),
    ).transform(checkpoint)  # per-lang rows; release the ranked cache
    ranked.unpersist()
    return out


@query(
    "q_llm_jsd_sources",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), st AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c_st
      FROM toks GROUP BY 1, 2
    ), ct AS (
      SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1
    ), ns AS (
      SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1
    ), n AS (
      SELECT CAST(sum(c_st) AS BIGINT) AS n_tot FROM st
    ), folds AS (
      SELECT st.source,
             CAST(count(*) AS BIGINT) AS n_terms,
             CAST(any_value(ns.n_s) AS BIGINT) AS n_tokens,
             sum((CAST(st.c_st AS DOUBLE) / ns.n_s)
                 * log2(2.0 * (CAST(st.c_st AS DOUBLE) / ns.n_s)
                        / (CAST(st.c_st AS DOUBLE) / ns.n_s
                           + CAST(ct.c_t AS DOUBLE) / n.n_tot))
                 + (CAST(ct.c_t AS DOUBLE) / n.n_tot)
                 * log2(2.0 * (CAST(ct.c_t AS DOUBLE) / n.n_tot)
                        / (CAST(st.c_st AS DOUBLE) / ns.n_s
                           + CAST(ct.c_t AS DOUBLE) / n.n_tot))) AS s_in,
             sum(CAST(ct.c_t AS DOUBLE) / n.n_tot) AS q_in
      FROM st
      JOIN ct ON ct.term = st.term
      JOIN ns ON ns.source = st.source
      CROSS JOIN n
      GROUP BY st.source
    )
    SELECT source, n_terms, n_tokens,
           round(0.5 * s_in + 0.5 * (1.0 - q_in), 6) AS jsd_r6,
           round(sqrt(0.5 * s_in + 0.5 * (1.0 - q_in)), 6)
               AS js_dist_r6
    FROM folds ORDER BY source
    """,
)
def q_llm_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    against the whole corpus - the SYMMETRIC, bounded [0,1] partner of
    q_llm_kl_divergence (KL is infinite when the corpus has terms the
    source lacks and depends on argument order; JSD is the metric the
    dataset-mixture dashboards actually want because sqrt(JSD) is a
    true distance). Per source: JSD(P_s || P_corpus) in bits and the
    JS distance.

    Determinism/exactness: all term counts are exact int64; the key
    evaluates ONLY over terms present in the source using the absent-
    term identity - a term with p=0 contributes q*log2(2q/(0+q)) =
    q bits to the Q-side KL, so
    JSD = 1/2*Sum_{t in s}[p*log2(2p/(p+q)) + q*log2(2q/(p+q))]
        + 1/2*(1 - Sum_{t in s} q)
    and the join relation never has to materialize the corpus-minus-
    source vocabulary (the closed form IS the completeness argument).
    Both engines fold the identical per-term doubles (the KL-fold
    precedent), round-6.

    Plan: map-side tokenize -> one (source, term) count shuffle -> a
    term-keyed join against the corpus counts -> per-source fold. The
    same linear shape as the KL key at any SF."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    )
    st = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c_st")
    )
    ct = st.groupBy("term").agg(F.sum("c_st").cast("long").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").cast("long").alias("n_s"))
    n = st.agg(F.sum("c_st").cast("long").alias("n_tot"))
    p = F.col("c_st").cast("double") / F.col("n_s")
    q = F.col("c_t").cast("double") / F.col("n_tot")
    joined = (
        st.join(ct, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
    )
    folds = joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.any_value("n_s").cast("long").alias("n_tokens"),
        F.sum(
            p * F.log2(2.0 * p / (p + q)) + q * F.log2(2.0 * q / (p + q))
        ).alias("s_in"),
        F.sum(q).alias("q_in"),
    )
    jsd = 0.5 * F.col("s_in") + 0.5 * (1.0 - F.col("q_in"))
    return folds.select(
        "source",
        "n_terms",
        "n_tokens",
        F.round(jsd, 6).alias("jsd_r6"),
        F.round(F.sqrt(jsd), 6).alias("js_dist_r6"),
    ).orderBy("source")
