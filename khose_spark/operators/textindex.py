"""Text indexing / retrieval / tokenizer-induction operators
(SURVEY.md §2.8 extension — the text-side primitives a training-data
pipeline runs between curation and training: retrieval-based filtering
(BM25), statistical LM scoring (bigram NLL), and tokenizer vocabulary
induction (BPE merges)).

Scale posture: every stage is groupBy/window over keys whose cardinality
is bounded by the vocabulary (pair counts, term stats) or the corpus
(per-doc windows) — no all-pairs joins anywhere; the per-doc token
streams shuffle once per consumer on doc_id and the model relations
(term stats, pair counts) are broadcast back.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark import memo
from khose_spark.memo import checkpoint
from khose_spark.operators.llm import _sql_shingles, shingle_array
from khose_spark.operators.quality_rules import _sql_bm25_tf
from khose_spark.registry import query
from khose_spark.tables import t

# BM25 parameters (Robertson/Spärck Jones defaults) and the fixed query.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("join", "filter", "window")


@query(
    "q_llm_bm25",
    oracle=f"""
{_sql_bm25_tf("doc_id, lang")}
    ), scored AS (
      SELECT tf.doc_id,
             sum(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({_BM25_K1} + 1.0)
                 / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * dl.dl / s.avgdl))) AS score,
             count(*) AS n_terms_matched
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN df ON df.term = tf.term
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT sc.doc_id, dl.lang,
           CAST(sc.n_terms_matched AS BIGINT) AS n_terms_matched,
           round(sc.score, 4) AS score
    FROM scored sc JOIN dl ON dl.doc_id = sc.doc_id
    ORDER BY round(sc.score, 4) DESC, sc.doc_id
    LIMIT 10
    """,
)
def q_llm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-10 documents for the fixed query
    {'join','filter','window'} (k1=1.2, b=0.75) — the retrieval-scoring
    primitive behind quality-classifier seeding and eval-set mining.

    Plan: term frequencies for the 3 query terms only (the IN filter
    prunes the token stream map-side), document lengths map-side, corpus
    stats (N, avgdl) as a 1-row broadcast, document frequencies as a
    3-row broadcast. One shuffle on doc_id for tf, tiny broadcasts for
    everything else, TakeOrdered for the top-10 — no global sort. At
    100 TB the same plan holds: df/stats stay tiny for any fixed query.

    Determinism: score is a continuous double (ln/ratios — never lands
    on half-decimals); ranking on round(score,4) with doc_id tiebreak.
    """
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    dl = d.select("doc_id", "lang", F.size(words).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    toks = d.select("doc_id", F.explode(words).alias("term"))
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    part = idf * F.col("tf") * (_BM25_K1 + 1.0) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(part).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
    )
    return (
        scored.select(
            "doc_id", "lang", "n_terms_matched",
            F.round("score", 4).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(10)
    )


@query(
    "q_llm_bigram_lm",
    oracle="""
    WITH docs AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ), bi AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, greatest(len(w), 1)),
                    i -> {'w1': w[i], 'w2': w[i+1]})) AS p
      FROM docs WHERE len(w) >= 2
    ), stream AS (
      SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2 FROM bi
    ), c12 AS (
      SELECT w1, w2, count(*) AS c12 FROM stream GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, count(*) AS c1 FROM stream GROUP BY 1
    ), vocab AS (
      SELECT count(DISTINCT w2) AS v FROM stream
    ), doc_nll AS (
      SELECT s.doc_id, s.lang,
             avg(-ln((c12.c12 + 1.0) / (c1.c1 + vocab.v))) AS nll
      FROM stream s
      JOIN c12 ON c12.w1 = s.w1 AND c12.w2 = s.w2
      JOIN c1 ON c1.w1 = s.w1
      CROSS JOIN vocab
      GROUP BY 1, 2
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(nll), 6) AS avg_nll,
           round(min(nll), 6) AS min_nll,
           round(max(nll), 6) AS max_nll
    FROM doc_nll GROUP BY lang
    """,
)
def q_llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring (KenLM-perplexity-filter proxy,
    one level up from q_llm_surprisal's unigram model): train add-one-
    smoothed bigram probabilities P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) on
    the corpus's own bigram stream, score every document by its average
    negative log-probability, report per-language NLL stats.

    Plan: the bigram stream is built map-side (shifted-array zip, no
    window); the model (c12, c1, V) comes from two aggs + one 1-row agg
    and is broadcast back into the stream; one doc_id shuffle for the
    per-doc average and a 5-row final agg. At 100 TB the model relations
    are vocabulary-bounded (≪ corpus) — exactly the map-reduce LM-
    training shape.

    Determinism: probabilities are identical rationals in both engines;
    per-doc/per-lang averages differ only by float summation order
    (≤1e-14), absorbed by round(6)."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    bigram = shingle_array(words, 2)
    stream = d.select(
        "doc_id", "lang", F.explode(bigram).alias("bg")
    ).select(
        "doc_id",
        "lang",
        F.split("bg", " ")[0].alias("w1"),
        F.split("bg", " ")[1].alias("w2"),
    )
    c12 = stream.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = stream.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = stream.agg(F.countDistinct("w2").alias("v"))
    p = (F.col("c12") + 1.0) / (F.col("c1") + F.col("v"))
    doc_nll = (
        stream.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(F.avg(-F.log(p)).alias("nll"))
    )
    return doc_nll.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
        F.round(F.min("nll"), 6).alias("min_nll"),
        F.round(F.max("nll"), 6).alias("max_nll"),
    )


_BPE_ROUNDS = 3


def _bpe_oracle(rounds: int = _BPE_ROUNDS) -> str:
    """Unrolled BPE-merge CTE chain (house pattern: the oracle re-runs
    the identical per-round logic, like q_llm_kmeans / q_graph_pagerank)."""
    ctes = [
        """tok0 AS (
      SELECT doc_id, CAST(pt.pos AS BIGINT) AS pos, pt.tok AS tok
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) + 1),
                      i -> {'pos': i, 'tok': w[i]})) AS pt
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      )
    )"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""pr{r} AS (
      SELECT doc_id, pos, tok,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM tok{r - 1}
    )""")
        ctes.append(f"""top{r} AS (
      SELECT tok AS l, nxt AS rt, count(*) AS c
      FROM pr{r} WHERE nxt IS NOT NULL
      GROUP BY 1, 2 ORDER BY c DESC, l ASC, rt ASC LIMIT 1
    )""")
        ctes.append(f"""cand{r} AS (
      SELECT p.doc_id, p.pos,
             row_number() OVER (PARTITION BY p.doc_id ORDER BY p.pos) AS rn
      FROM pr{r} p JOIN top{r} t ON p.tok = t.l AND p.nxt = t.rt
    )""")
        ctes.append(f"""sel{r} AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY doc_id, pos - rn
                                  ORDER BY pos) AS k
        FROM cand{r}
      ) WHERE k % 2 = 1
    )""")
        ctes.append(f"""tok{r} AS (
      SELECT p.doc_id,
             row_number() OVER (PARTITION BY p.doc_id ORDER BY p.pos) AS pos,
             CASE WHEN s.pos IS NOT NULL
                  THEN concat(p.tok, '+', p.nxt) ELSE p.tok END AS tok
      FROM pr{r} p
      LEFT JOIN sel{r} s  ON s.doc_id = p.doc_id AND s.pos = p.pos
      LEFT JOIN sel{r} s2 ON s2.doc_id = p.doc_id AND s2.pos = p.pos - 1
      WHERE s2.pos IS NULL
    )""")
    unions = "\n    UNION ALL ".join(
        f"SELECT {r} AS merge_round, l AS left_tok, rt AS right_tok, "
        f"CAST(c AS BIGINT) AS pair_count FROM top{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + unions


@query("q_llm_bpe_merges", oracle=_bpe_oracle())
def q_llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-vocabulary induction: 3 merge rounds over the
    corpus's word stream. Each round counts adjacent token pairs, picks
    the most frequent pair (ties: count desc, then lexicographic), and
    APPLIES the merge with standard BPE greedy-leftmost semantics before
    recounting — overlapping occurrences of the winning pair (runs like
    "a a a" for pair (a,a)) merge at odd run offsets only, expressed as
    a gaps-and-islands window (run key = pos − row_number over matches),
    not an imperative scan. Output: one row per round (round, left,
    right, pair count at selection time) — integer/string only, fully
    hash-checked against the identical unrolled CTE chain in DuckDB.

    Scale: every stage is a per-doc window (doc_id-partitioned — linear,
    co-partitioned across rounds) or a pair-count aggregation bounded by
    vocabulary², with the winning pair flowing back into the next
    round's merge as a broadcast 1-row join — the whole induction is ONE
    declarative plan and ONE job, no per-round driver collect (the
    round-6 fusion; the unchanged oracle CTE chain hash-certifies it).

    Small-corpus execution mode: below ~100k documents the loop's cost
    is pure fixed overhead (per-stage AQE replanning, 32-way shuffles of
    a few MB), so the plan is materialized eagerly under compact confs
    (AQE off, 8 shuffle partitions) which are restored before returning
    — the adaptive-threshold pattern of rank.with_global_rank. At scale
    the lazy plan is returned untouched and AQE plans every stage."""
    d = t(spark, sf_dir, "documents")
    stream = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    out = bpe_merge_rounds(stream, _BPE_ROUNDS)
    # The mode probe is a footer-only count, memoized per sf_dir so
    # repeat calls run no extra job.
    if memo.get(spark, "doc_count", sf_dir, d.count) > _BPE_COMPACT_MAX_DOCS:
        return out
    compact = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k) for k in compact}
    try:
        for k, v in compact.items():
            spark.conf.set(k, v)
        return checkpoint(out)  # executes under the compact confs
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


_BPE_COMPACT_MAX_DOCS = 100_000

def bpe_merge_rounds(stream: DataFrame, rounds: int) -> DataFrame:
    """Build ``rounds`` BPE merge rounds over a (doc_id, pos, tok)
    stream as ONE lazy plan; returns (merge_round, left_tok, right_tok,
    pair_count). Extracted so tests can drive it with handcrafted
    corpora (overlap runs, ties) against a pure-Python greedy reference
    (tests/test_bpe_reference.py).

    Full fusion (round-6 bench finding; the round-5 one-job-per-round
    form still paid 3 driver round-trips + 3 cache materializations):
    each round's winning pair is a 1-row ``orderBy().limit(1)`` SUBTREE
    that is simultaneously (a) unioned into the output and (b) broadcast
    -joined back onto the token stream as the next round's merge
    parameters — so winner selection, merge application, and output
    assembly are a single declarative plan executed by ONE action, with
    no collect() between rounds and no per-round persist. Identical
    pair-count subtrees are deduplicated at their shuffle/broadcast
    boundaries by Spark's exchange reuse; the narrow window chains
    between exchanges re-execute per consumer, which is the right trade
    at 3 rounds (they are per-doc linear scans). NOTE the plan nests the
    prior round's stream once per consumer, so plan SIZE grows ~2^rounds
    — fine for the contract's 3 rounds; a vocabulary-scale run (1000s of
    merges) would re-introduce a checkpoint every ~8 rounds to reset
    both lineage and plan size. A prior experiment that broadcast/
    localCheckpointed the TOKEN STREAM regressed (SURVEY.md perf notes),
    as did lazily persisting each round's stream inside the fused job
    (the caches' materialization cost exceeded the re-execution they
    saved).
    """
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    outs: list[DataFrame] = []
    for r in range(1, rounds + 1):
        pr = stream.withColumn("nxt", F.lead("tok").over(w_doc))
        top1 = (
            pr.filter(F.col("nxt").isNotNull())
            .groupBy("tok", "nxt")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "tok", "nxt")
            .limit(1)
        )
        outs.append(
            top1.select(
                F.lit(r).cast("int").alias("merge_round"),
                F.col("tok").alias("left_tok"),
                F.col("nxt").alias("right_tok"),
                F.col("c").cast("long").alias("pair_count"),
            )
        )
        if r == rounds:  # last winner needs no merge application
            break
        # Merge application as pure window arithmetic over the ONE
        # (doc_id, pos) ordering — no self-joins and no island-keyed
        # exchange (the round-5 rewrite; the unchanged gaps-and-islands
        # oracle CTE hash-certifies it). A "run" is a maximal stretch of
        # ADJACENT matched tokens (overlapping occurrences of the
        # winning pair); greedy-leftmost merges at even match offsets
        # from the run start and drops each merged token's right
        # neighbor. ``pos`` is the ORIGINAL position, kept stable across
        # rounds (rows are filtered, never renumbered): adjacency is
        # row-adjacency in pos order (seq below), so the ordering —
        # and with it the physical sort — survives every round, and
        # rounds 2..n plan with zero Exchange and zero Sort under the
        # windows. ``seq`` (dense row number) carries the parity
        # arithmetic the old renumbered pos used to. The winner arrives
        # as columns (__L, __R) via a broadcast 1-row cross join — the
        # declarative twin of the old collected literals; an exhausted
        # corpus (empty top1) empties the stream, which terminates the
        # remaining rounds' output exactly like the old early break.
        win1 = F.broadcast(
            top1.select(F.col("tok").alias("__L"), F.col("nxt").alias("__R"))
        )
        w_run = w_doc.rowsBetween(Window.unboundedPreceding, 0)
        is_match = (F.col("tok") == F.col("__L")) & (
            F.col("nxt") == F.col("__R")
        )
        stream = (
            pr.crossJoin(win1)
            .withColumn("mt", is_match)
            .withColumn("seq", F.row_number().over(w_doc))
            .withColumn(
                "rstart",
                F.col("mt")
                & ~F.coalesce(F.lag("mt").over(w_doc), F.lit(False)),
            )
            .withColumn(
                "rfirst",
                F.last(F.when(F.col("rstart"), F.col("seq")), True).over(w_run),
            )
            .withColumn(
                "selected",
                F.col("mt") & ((F.col("seq") - F.col("rfirst")) % 2 == 0),
            )
            .withColumn(
                "drop",
                F.coalesce(F.lag("selected").over(w_doc), F.lit(False)),
            )
            .filter(~F.col("drop"))
            .select(
                "doc_id",
                "pos",
                F.when(
                    F.col("selected"),
                    F.concat("tok", F.lit("+"), "nxt"),
                )
                .otherwise(F.col("tok"))
                .alias("tok"),
            )
        )
    return reduce(DataFrame.unionAll, outs)


@query(
    "q_llm_ngram_novelty",
    oracle=f"""
    WITH {_sql_shingles("doc_id, lang")}, firsts AS (
      SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
    ), per_doc AS (
      SELECT s.doc_id, s.lang, count(*) AS n_shingles,
             CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM sh s JOIN firsts f ON f.shingle = s.shingle
      GROUP BY 1, 2
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_shingles) AS BIGINT) AS total_shingles,
           CAST(sum(n_novel) AS BIGINT) AS total_novel,
           CAST((2 * sum(n_novel) * 1000 + sum(n_shingles))
                // (2 * sum(n_shingles)) AS BIGINT) AS novelty_permille
    FROM per_doc GROUP BY lang
    """,
)
def q_llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty attribution: charge each distinct 3-gram to the
    FIRST document (min doc_id) that contributes it, then report per
    language how much of each doc's shingle mass is corpus-novel — the
    "how much new text does this source actually add" measure that
    drives crawl-source valuation and incremental-dedup budgeting.

    Plan: distinct per-doc shingles map-side (array_distinct — no
    cross-row distinct), one shuffle to find each shingle's first doc,
    one broadcast-back join keyed on the shingle, per-doc + per-lang
    aggs. Linear at 100 TB: the firsts relation is the corpus shingle
    vocabulary (the same relation an incremental dedup index
    maintains). Novelty share is half-up integer permille — no floats.
    """
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    sh = d.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(shingle_array(words, 3))).alias("shingle"),
    )
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "shingle")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_shingles").cast("long").alias("total_shingles"),
        F.sum("n_novel").cast("long").alias("total_novel"),
        F.expr(
            "CAST((2 * sum(n_novel) * 1000 + sum(n_shingles))"
            " DIV (2 * sum(n_shingles)) AS BIGINT)"
        ).alias("novelty_permille"),
    )


_WINNOW_W = 4  # positions per winnowing window


@query(
    "q_llm_winnowing",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ), pos_sh AS (
      SELECT doc_id, lang, CAST(p.pos AS BIGINT) AS pos, md5(p.sh) AS h
      FROM (
        SELECT doc_id, lang,
               unnest(list_transform(
                 range(1, greatest(len(w) - 1, 1)),
                 i -> {{'pos': i,
                       'sh': concat_ws(' ', w[i], w[i+1], w[i+2])}})) AS p
        FROM words WHERE len(w) >= 3
      )
    ), windowed AS (
      SELECT doc_id, lang, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW
                          AND {_WINNOW_W - 1} FOLLOWING) AS minimizer,
             count(*) OVER (PARTITION BY doc_id) AS m
      FROM pos_sh
    ), full_windows AS (
      SELECT doc_id, lang, minimizer FROM windowed
      WHERE pos <= m - {_WINNOW_W - 1}
    ), per_doc AS (
      SELECT doc_id, lang, count(*) AS n_windows,
             count(DISTINCT minimizer) AS n_fingerprints
      FROM full_windows GROUP BY 1, 2
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_windows) AS BIGINT) AS total_windows,
           CAST(sum(n_fingerprints) AS BIGINT) AS total_fingerprints,
           CAST((2 * sum(n_fingerprints) * 1000 + sum(n_windows))
                // (2 * sum(n_windows)) AS BIGINT) AS density_permille
    FROM per_doc GROUP BY lang
    """,
)
def q_llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing minimizer sampling (the MOSS/minimizer fingerprint
    scheme, and the real algorithm behind q_llm_fingerprint's global-min
    simplification): hash every positional 3-gram, slide a 4-window over
    the hash sequence, keep each window's minimum — guaranteeing a
    fingerprint at least every 4 positions while sampling ~2/(w+1) of
    hashes. Reports per-language fingerprint density (selected distinct
    minima per window, half-up permille).

    Plan: positional shingles + md5 map-side; ONE doc_id-partitioned
    window pass computes all sliding minima (rows frame — no
    self-join); per-doc distinct counts ride the same doc_id
    partitioning. Linear and partition-local at 100 TB: a document
    never crosses partitions."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    pos_sh = d.filter(F.size(words) >= 3).select(
        "doc_id",
        "lang",
        F.posexplode(shingle_array(words, 3)).alias("pos0", "sh"),
    ).select(
        "doc_id",
        "lang",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.md5("sh").alias("h"),
    )
    w_slide = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, _WINNOW_W - 1)
    )
    w_doc = Window.partitionBy("doc_id")
    windowed = pos_sh.select(
        "doc_id",
        "lang",
        "pos",
        F.min("h").over(w_slide).alias("minimizer"),
        F.count(F.lit(1)).over(w_doc).alias("m"),
    )
    per_doc = (
        windowed.filter(F.col("pos") <= F.col("m") - (_WINNOW_W - 1))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.countDistinct("minimizer").alias("n_fingerprints"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_windows").cast("long").alias("total_windows"),
        F.sum("n_fingerprints").cast("long").alias("total_fingerprints"),
        F.expr(
            "CAST((2 * sum(n_fingerprints) * 1000 + sum(n_windows))"
            " DIV (2 * sum(n_windows)) AS BIGINT)"
        ).alias("density_permille"),
    )


@query(
    "q_ml_naive_bayes",
    oracle="""
    WITH docs AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ), toks AS (
      SELECT doc_id, lang, unnest(w) AS term FROM docs
    ), langs AS (
      SELECT lang AS model_lang, count(DISTINCT doc_id) AS n_docs,
             count(*) AS c_l
      FROM toks GROUP BY lang
    ), n_total AS (
      SELECT count(*) AS n FROM documents
    ), vocab AS (
      SELECT count(DISTINCT term) AS v FROM toks
    ), counts AS (
      SELECT lang AS model_lang, term, count(*) AS c_lt
      FROM toks GROUP BY 1, 2
    ), dense AS (
      SELECT tm.term, lg.model_lang, lg.n_docs, lg.c_l,
             coalesce(c.c_lt, 0) AS c_lt
      FROM (SELECT DISTINCT term FROM toks) tm
      CROSS JOIN langs lg
      LEFT JOIN counts c
        ON c.term = tm.term AND c.model_lang = lg.model_lang
    ), scored AS (
      SELECT s.doc_id, s.lang AS true_lang, d.model_lang,
             round(ln(CAST(d.n_docs AS DOUBLE) / nt.n)
                   + sum(ln((d.c_lt + 1.0) / (d.c_l + vb.v))), 6) AS score
      FROM toks s
      JOIN dense d ON d.term = s.term
      CROSS JOIN n_total nt
      CROSS JOIN vocab vb
      GROUP BY s.doc_id, s.lang, d.model_lang, d.n_docs, d.c_l, nt.n, vb.v
    ), pred AS (
      SELECT doc_id, true_lang, model_lang AS pred_lang
      FROM (
        SELECT doc_id, true_lang, model_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, model_lang) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT true_lang, pred_lang, count(*) AS n_docs
    FROM pred GROUP BY 1, 2
    """,
)
def q_ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and
    evaluated on the corpus (resubstitution — the standard smoke test
    of a text-classification pipeline): add-one-smoothed per-class term
    likelihoods + log priors, argmax over the 5 classes per document,
    output the confusion matrix against the labeled lang column.

    Plan — the canonical map-reduce NB shape: the model (dense V×5
    term-likelihood grid, class totals, vocab size) comes from
    vocabulary-bounded aggregates and is BROADCAST back into the token
    stream; scoring is one doc_id-keyed aggregation; the argmax is a
    5-row-per-doc window. Nothing quadratic, nothing driver-side, model
    size independent of corpus row count — at 100 TB only the token
    scan grows.

    Determinism: per-(doc, class) scores are sums of identical-rational
    logs, rounded to 6 before the argmax so both engines rank identical
    values; class-name tiebreak on exact ties."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    ).persist()
    langs = toks.groupBy(F.col("lang").alias("model_lang")).agg(
        F.countDistinct("doc_id").alias("n_docs_l"),
        F.count(F.lit(1)).alias("c_l"),
    )
    n_total = d.agg(F.count(F.lit(1)).alias("n"))
    vocab = toks.agg(F.countDistinct("term").alias("v"))
    counts = toks.groupBy(F.col("lang").alias("model_lang"), "term").agg(
        F.count(F.lit(1)).alias("c_lt")
    )
    terms = toks.select("term").distinct()
    dense = (
        terms.crossJoin(F.broadcast(langs))
        .join(F.broadcast(counts), ["term", "model_lang"], "left")
        .select(
            "term",
            "model_lang",
            "n_docs_l",
            "c_l",
            F.coalesce("c_lt", F.lit(0)).alias("c_lt"),
        )
    )
    scored = (
        toks.join(F.broadcast(dense), "term")
        .crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(vocab))
        .groupBy(
            "doc_id",
            F.col("lang").alias("true_lang"),
            "model_lang",
            "n_docs_l",
            "c_l",
            "n",
            "v",
        )
        .agg(F.sum(F.log((F.col("c_lt") + 1.0) / (F.col("c_l") + F.col("v")))).alias("ll"))
        .select(
            "doc_id",
            "true_lang",
            "model_lang",
            F.round(
                F.log(F.col("n_docs_l").cast("double") / F.col("n"))
                + F.col("ll"),
                6,
            ).alias("score"),
        )
    )
    w_doc = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), "model_lang"
    )
    pred = (
        scored.withColumn("rk", F.row_number().over(w_doc))
        .filter(F.col("rk") == 1)
        .select("true_lang", F.col("model_lang").alias("pred_lang"))
    )
    out = pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).transform(checkpoint)  # confusion matrix; release the token cache
    toks.unpersist()
    return out


_ZIPF_TOP = 50


@query(
    "q_llm_zipf",
    oracle=f"""
    WITH tf AS (
      SELECT lang, term, count(*) AS cnt
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY 1, 2
    ), ranked AS (
      SELECT lang, cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, term) AS rk
      FROM tf
    )
    SELECT lang,
           count(*) AS n_terms,
           round(regr_slope(ln(CAST(cnt AS DOUBLE)),
                            ln(CAST(rk AS DOUBLE))), 4) AS zipf_slope,
           round(regr_r2(ln(CAST(cnt AS DOUBLE)),
                         ln(CAST(rk AS DOUBLE))), 4) AS zipf_r2
    FROM ranked WHERE rk <= {_ZIPF_TOP}
    GROUP BY lang
    """,
)
def q_llm_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: least-squares slope and R^2 of
    ln(frequency) on ln(rank) over each language's top-50 terms — the
    corpus-health diagnostic that flags synthetic/templated text (a
    natural corpus slopes near -1; boilerplate flattens, spam steepens).

    Determinism: frequencies and ranks are integers (rank ties broken
    by term asc), ln of identical integer-valued doubles agrees across
    engines (the q_llm_surprisal/q_agg_geomean precedent), and the
    regression aggregates are continuous under round(4).

    Scale: one (lang, term) count shuffle over the token stream
    (vocabulary-bounded output), a per-lang ranking window that
    InferWindowGroupLimit prunes to 50 rows per partition map-side,
    and a 250-row regression aggregate. Same posture as q_llm_tfidf."""
    d = t(spark, sf_dir, "documents")
    tf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "term")
    ranked = tf.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _ZIPF_TOP
    )
    ln_cnt = F.log(F.col("cnt").cast("double"))
    ln_rk = F.log(F.col("rk").cast("double"))
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(ln_cnt, ln_rk), 4).alias("zipf_slope"),
        F.round(F.regr_r2(ln_cnt, ln_rk), 4).alias("zipf_r2"),
    )


# Eval slice for the attribution query: the same id<50 eval convention
# as q_llm_contamination would make the candidate join 50x|train|-wide;
# 20 docs keep it tight while still exercising every tie/zero path.
_ROUGE_EVAL_MAX_ID = 20


@query(
    "q_llm_rouge_attribution",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, unnest(list_distinct(g)) AS gram
      FROM (
        SELECT doc_id,
               list_transform(range(1, len(w)),
                              i -> w[i] || ' ' || w[i + 1]) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      )
    ), eval_g AS (
      SELECT doc_id, gram FROM grams WHERE doc_id < {_ROUGE_EVAL_MAX_ID}
    ), train_g AS (
      SELECT doc_id, gram FROM grams WHERE doc_id >= {_ROUGE_EVAL_MAX_ID}
    ), esize AS (
      SELECT doc_id, count(*) AS n_eval_bigrams FROM eval_g GROUP BY 1
    ), overlap AS (
      SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
             count(*) AS n_overlap
      FROM eval_g e JOIN train_g t ON t.gram = e.gram
      GROUP BY 1, 2
    ), best AS (
      SELECT eval_id, train_id, n_overlap,
             row_number() OVER (PARTITION BY eval_id
                                ORDER BY n_overlap DESC, train_id) AS rk
      FROM overlap
    )
    SELECT b.eval_id, b.train_id AS best_train_id,
           s.n_eval_bigrams, b.n_overlap,
           CAST((2000 * b.n_overlap + s.n_eval_bigrams)
                // (2 * s.n_eval_bigrams) AS BIGINT) AS recall_permille
    FROM best b JOIN esize s ON s.doc_id = b.eval_id
    WHERE b.rk = 1
    """,
)
def q_llm_rouge_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2-style training-data attribution: for each eval document
    (doc_id < 20), the single training document with the highest
    distinct-bigram recall (|overlap| / |eval bigrams|, half-up integer
    permille; ties broken by smallest train id) — the "which training
    document does this eval item leak from?" report that pairs with
    q_llm_contamination's boolean flag.

    Eval docs sharing no bigram with any training doc emit no row (the
    inner candidate join is the contract; a zero-overlap doc has no
    best match).

    Scale: candidates come from an equi-join on the bigram key — each
    bigram fans out by (eval docs containing it x train docs containing
    it), and the eval side is a fixed 20-doc slice, so join output is
    linear in the training corpus. Per-doc distinct bigrams are built
    map-side (array_distinct inside the row, the shingles() posture);
    the argmax is a 20-partition window. No all-pairs stage anywhere."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingle_array(words, 2))
        ).alias("gram"),
    )
    eval_g = grams.filter(F.col("doc_id") < _ROUGE_EVAL_MAX_ID).persist()
    train_g = grams.filter(F.col("doc_id") >= _ROUGE_EVAL_MAX_ID)
    esize = eval_g.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_eval_bigrams")
    )
    overlap = (
        eval_g.alias("e")
        .join(train_g.alias("t"), F.col("t.gram") == F.col("e.gram"))
        .groupBy(
            F.col("e.doc_id").alias("eval_id"),
            F.col("t.doc_id").alias("train_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    w = Window.partitionBy("eval_id").orderBy(
        F.desc("n_overlap"), "train_id"
    )
    best = overlap.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    out = (
        best.join(
            F.broadcast(esize),
            best["eval_id"] == esize["doc_id"],
        )
        .select(
            "eval_id",
            F.col("train_id").alias("best_train_id"),
            "n_eval_bigrams",
            "n_overlap",
            F.expr(
                "CAST((2000 * n_overlap + n_eval_bigrams)"
                " DIV (2 * n_eval_bigrams) AS BIGINT)"
            ).alias("recall_permille"),
        )
        .transform(checkpoint)  # eval-set-sized; release the bigram cache
    )
    eval_g.unpersist()
    return out


# RAKE delimiter set: the corpus's function-word stand-ins. Phrases are
# maximal stopword-free runs, capped at 4 words (the standard RAKE
# practice that keeps candidate phrases human-sized).
_RAKE_STOPS = ("the", "a", "data", "row", "value", "key")
_RAKE_MAX_LEN = 4


@query(
    "q_llm_rake",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), toks AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w) + 1),
                    i -> {{'pos': i, 'word': w[i]}})) AS pt
      FROM words
    ), flagged AS (
      SELECT doc_id, pt.pos AS pos, pt.word AS word,
             CASE WHEN pt.word IN {_RAKE_STOPS} THEN 1 ELSE 0 END AS stop
      FROM toks
    ), phrased AS (
      SELECT doc_id, pos, word, stop,
             CAST(sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS pid
      FROM flagged
    ), kept AS MATERIALIZED (
      SELECT doc_id, pid, pos, word, plen FROM (
        SELECT doc_id, pid, pos, word,
               CAST(count(*) OVER (PARTITION BY doc_id, pid)
                    AS BIGINT) AS plen
        FROM phrased WHERE stop = 0
      ) WHERE plen <= {_RAKE_MAX_LEN}
    ), wscore AS (
      SELECT word,
             (2 * 1000 * CAST(sum(plen) AS BIGINT) + count(*))
               // (2 * count(*)) AS score_milli
      FROM kept GROUP BY word
    ), poccur AS (
      SELECT k.doc_id, k.pid,
             string_agg(k.word, ' ' ORDER BY k.pos) AS phrase,
             CAST(sum(s.score_milli) AS BIGINT) AS score_milli
      FROM kept k JOIN wscore s ON s.word = k.word
      GROUP BY 1, 2
    )
    SELECT phrase, count(*) AS n_occ,
           CAST(min(score_milli) AS BIGINT) AS score_milli
    FROM poccur GROUP BY phrase
    ORDER BY score_milli DESC, phrase ASC LIMIT 10
    """,
)
def q_llm_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the corpus: candidate phrases are
    maximal stopword-free word runs (<=4 words), each word scores
    degree/frequency (degree = total length of the phrases it appears
    in), a phrase scores the sum of its word scores, and identical
    phrases aggregate across documents — top-10 by score. The
    co-occurrence-driven keyword miner complementing tf-idf (document-
    term weighting) and PMI (bigram association).

    Exactness: word scores are half-up integer milli (degree and
    frequency are exact counts), phrase scores are int64 sums of those
    — no float surface. Phrase length comes from a window over the
    (doc, phrase) partition, not a self-join, so the token stream is
    one lineage; it is localCheckpoint-ed before fanning into the
    word-stat and phrase-assembly branches (the shared-subtree law).
    Plan: posexplode + one doc-keyed window + one (doc,phrase) window +
    a vocabulary-bounded word agg broadcast back + phrase aggs — all
    shuffles are token- or vocabulary-keyed, no all-pairs anywhere."""
    toks = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )
    flagged = toks.withColumn(
        "stop",
        F.when(F.col("word").isin(*_RAKE_STOPS), 1).otherwise(0),
    )
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    phrased = flagged.withColumn("pid", F.sum("stop").over(w_doc))
    w_phrase = Window.partitionBy("doc_id", "pid")
    kept = (
        phrased.filter(F.col("stop") == 0)
        .withColumn("plen", F.count(F.lit(1)).over(w_phrase))
        .filter(F.col("plen") <= _RAKE_MAX_LEN)
        .select("doc_id", "pid", "pos", "word", "plen")
        .transform(checkpoint)  # feeds the word-stat and phrase branches
    )
    wscore = kept.groupBy("word").agg(
        F.expr(
            "(2 * 1000 * sum(plen) + count(1)) DIV (2 * count(1))"
        ).alias("score_milli")
    )
    poccur = (
        kept.join(F.broadcast(wscore), "word")
        .groupBy("doc_id", "pid")
        .agg(
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(pos, word))), x -> x.word), ' ')"
            ).alias("phrase"),
            F.sum("score_milli").alias("score_milli"),
        )
    )
    return (
        poccur.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min("score_milli").alias("score_milli"),
        )
        .orderBy(F.col("score_milli").desc(), F.col("phrase").asc())
        .limit(10)
    )


@query(
    "q_llm_log_odds",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), cell AS (
      SELECT source, word, count(*) AS c FROM toks GROUP BY 1, 2
    ), framed AS (
      SELECT source, word, c,
             CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n_s,
             CAST(sum(c) OVER (PARTITION BY word) AS BIGINT) AS c_w,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM cell
    ), scored AS (
      SELECT source, word, c,
             round(ln(CAST(c + 1 AS DOUBLE)
                      / CAST(n_s - c + 1 AS DOUBLE))
                   - ln(CAST(c_w - c + 1 AS DOUBLE)
                        / CAST(n - n_s - (c_w - c) + 1 AS DOUBLE)),
                   4) AS log_odds
      FROM framed
    )
    SELECT source, word, c AS n_in_source, log_odds FROM (
      SELECT *, row_number() OVER (PARTITION BY source
        ORDER BY log_odds DESC, word ASC) AS rk
      FROM scored
    ) WHERE rk <= 3 ORDER BY source, rk
    """,
)
def q_llm_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source via the smoothed log-odds
    ratio: each (source, word) cell compares the word's in-source odds
    against its odds in the REST of the corpus (+1 smoothing on all
    four counts), and each source reports its top-3 most-distinctive
    words — "what does this feed talk about that the others don't",
    the corpus-comparison companion to tf-idf (which compares
    documents, not provenances).

    Exactness: all four odds components are exact int64 counts from
    one grid aggregation; ln + one subtraction + round-4 is the only
    float surface (the PMI law). Plan: token explode + a
    (source x vocab)-bounded cell aggregation + three domain-bounded
    windows + a per-source top-3 rank. One data-sized stage."""
    toks = t(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    cell = toks.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    framed = cell.select(
        "source",
        "word",
        "c",
        F.sum("c").over(Window.partitionBy("source")).alias("n_s"),
        F.sum("c").over(Window.partitionBy("word")).alias("c_w"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    scored = framed.select(
        "source",
        "word",
        "c",
        F.round(
            F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("n_s") - F.col("c") + 1).cast("double")
            )
            - F.log(
                (F.col("c_w") - F.col("c") + 1).cast("double")
                / (
                    F.col("n")
                    - F.col("n_s")
                    - (F.col("c_w") - F.col("c"))
                    + 1
                ).cast("double")
            ),
            4,
        ).alias("log_odds"),
    )
    w_rk = Window.partitionBy("source").orderBy(
        F.col("log_odds").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= 3)
        .select(
            "source",
            "word",
            F.col("c").alias("n_in_source"),
            "log_odds",
        )
        .orderBy("source", "rk")
    )


_VOCAB_K = 1000  # tokenizer vocabulary budget for the coverage audit


@query(
    "q_llm_vocab_coverage",
    oracle=f"""
    WITH lt AS (
      SELECT lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), lang_term AS (
      SELECT lang, term, CAST(count(*) AS BIGINT) AS c
      FROM lt GROUP BY lang, term
    ), term_tot AS (
      SELECT term, CAST(sum(c) AS BIGINT) AS ct
      FROM lang_term GROUP BY term
    ), vocab AS (
      SELECT term FROM (
        SELECT term,
               row_number() OVER (ORDER BY ct DESC, term ASC) AS rk
        FROM term_tot
      ) WHERE rk <= {_VOCAB_K}
    )
    SELECT l.lang,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(l.c) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN v.term IS NOT NULL THEN l.c ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           CAST((2000 * (sum(l.c)
                         - sum(CASE WHEN v.term IS NOT NULL THEN l.c
                               ELSE 0 END)) + sum(l.c))
                // (2 * sum(l.c)) AS BIGINT) AS oov_permille
    FROM lang_term l LEFT JOIN vocab v ON v.term = l.term
    GROUP BY l.lang
    ORDER BY l.lang
    """,
)
def q_llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV audit: build the top-1000 terms by
    global occurrence count (deterministic tie-break: count desc, term
    asc) and measure, per language, how much of the token stream that
    vocabulary covers -- the budget check a tokenizer team runs before
    fixing a vocab size (high OOV in a tail language means its text
    will fragment into bytes/unks and train poorly).

    Exactness: pure int64 occurrence counts; OOV rate as half-up
    integer permille ((2000*oov + tot) // (2*tot), the house permille
    law) -- no doubles anywhere.

    Plan: ONE fact-sized shuffle builds the (lang,term) count
    relation; term totals re-aggregate THAT (vocabulary-bounded, not
    corpus-bounded); the top-K is orderBy+limit = TakeOrderedAndProject
    (distributed partial top-K, never a single-partition window); the
    coverage join broadcasts the 1000-term vocab. At 100 TB: one
    string-keyed shuffle + one broadcast join."""
    lt = t(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("term")
    )
    # (lang,term) counts feed BOTH the vocab derivation and the
    # coverage join; eager-checkpoint so the explode+count runs once.
    lang_term = (
        lt.groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(checkpoint)
    )
    term_tot = lang_term.groupBy("term").agg(
        F.sum("c").cast("long").alias("ct")
    )
    vocab = (
        term_tot.orderBy(F.col("ct").desc(), F.col("term").asc())
        .limit(_VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    cov = F.sum(
        F.when(F.col("in_vocab").isNotNull(), F.col("c")).otherwise(
            F.lit(0)
        )
    ).cast("long")
    tot = F.sum("c").cast("long")
    return (
        lang_term.join(F.broadcast(vocab), "term", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            tot.alias("total_tokens"),
            cov.alias("covered_tokens"),
        )
        .select(
            "lang",
            "n_terms",
            "total_tokens",
            "covered_tokens",
            F.expr(
                "(2000 * (total_tokens - covered_tokens) + total_tokens)"
                " DIV (2 * total_tokens)"
            ).alias("oov_permille"),
        )
        .orderBy("lang")
    )
