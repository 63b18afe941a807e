"""Round-13 composed flagship: the DAY-2 incremental corpus refresh.

The batch funnel (q_llm_curation_pipeline) and the stream-composed
drain (q_stream_curation_e2e_batchsem) both build a corpus from
scratch. Production does that once; every day after, the job is
INCREMENTAL: yesterday's corpus is a landed artifact, today's delta
arrives, and the refresh must (a) quality-gate the delta, (b) drop
delta docs already in the corpus — exactly or fuzzily, CROSS-BATCH,
never re-scanning base-vs-base — and (c) re-emit the merged corpus
accounting (per-language mixture shares) that downstream sampling
consumes. This module registers that job as one hash-checked relation.

Stage semantics (delta = doc_id % 5 = 0, the q_llm_incremental_dedup
delta law; base = the other 4/5, standing in for the landed corpus):

1. quality    — the four Gopher/MassiveText structural rules
                (quality_rules.py contract constants) on delta docs.
2. exact_new  — survivor's md5(text) absent from the BASE digest set
                AND first among delta survivors with that digest
                (cross-batch exact dedup + within-delta dedup in one
                conditional window).
3. para_new   — paragraph-containment screen vs base: the survivor's
                non-overlapping 16-word chunks (the
                q_llm_paragraph_dedup chunk law) are matched against
                the DISTINCT base chunk set; a doc drops when >= 50%
                of its chunk word mass already exists in base
                (integer predicate 2*seen_w >= total_w). This is the
                scale-safe fuzzy tier: pure equi-joins, linear in
                delta + base at any corpus size — the minhash tier
                (q_llm_incremental_dedup) stays registered separately
                because its ORACLE's verify mass is the documented
                100x bound.
4. merged     — per language: base docs + accepted delta docs, the
                delta word mass added, and the refreshed mixture
                share of the merged corpus as exact half-up permille.

Determinism: all counts/masses exact int64; the only orderings are
(grp, doc_id) and (chunk, doc_id, ci) totals; no float anywhere.

At 100 TB: the base digest/chunk sets are the persisted artifacts an
incremental pipeline maintains (here derived from the base scan — one
pass); the delta pays one md5 equi-join, one chunk equi-join and one
lang rollup. Nothing is base-vs-base, nothing collects to the driver,
and every join key (digest, chunk) is content-hashed — uniform by
construction, no skew lever needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.operators.curation_pipeline import _S1_SQL
from khose_spark.operators.quality_rules import (
    _MAX_MWL,
    _MAX_WORDS,
    _MIN_MWL,
    _MIN_STOP_HITS,
    _MIN_WORDS,
    _STOPWORDS,
    _SYM_PERMILLE,
)
from khose_spark.registry import query
from khose_spark.tables import t

_CHUNK_W = 16  # the q_llm_paragraph_dedup chunk width


@query(
    "q_llm_corpus_refresh_incremental",
    oracle=f"""
    WITH delta AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_words,
             {_S1_SQL} AS s1,
             md5(text) AS grp
      FROM documents WHERE doc_id % 5 = 0
    ), basew AS (
      SELECT doc_id, lang, md5(text) AS grp,
             string_split(text, ' ') AS w
      FROM documents WHERE doc_id % 5 <> 0
    ), base_md5 AS (
      SELECT DISTINCT grp FROM basew
    ), s2f AS (
      SELECT d.*,
             CASE WHEN d.s1 = 1 AND bm.grp IS NULL
                   AND sum(d.s1) OVER (PARTITION BY d.grp
                         ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING) = 1
                  THEN 1 ELSE 0 END AS s2
      FROM delta d LEFT JOIN base_md5 bm ON bm.grp = d.grp
    ), base_chunks AS (
      SELECT DISTINCT chunk FROM (
        SELECT unnest(list_transform(
                 range(0, CAST((len(w) + {_CHUNK_W} - 1)
                               // {_CHUNK_W} AS BIGINT)),
                 i -> array_to_string(
                        w[i*{_CHUNK_W}+1 : i*{_CHUNK_W}+{_CHUNK_W}],
                        ' '))) AS chunk
        FROM basew
      )
    ), delta_chunks AS (
      SELECT doc_id,
             unnest(range(0, CAST((len(w) + {_CHUNK_W} - 1)
                                  // {_CHUNK_W} AS BIGINT))) AS ci,
             unnest(list_transform(
                 range(0, CAST((len(w) + {_CHUNK_W} - 1)
                               // {_CHUNK_W} AS BIGINT)),
                 i -> array_to_string(
                        w[i*{_CHUNK_W}+1 : i*{_CHUNK_W}+{_CHUNK_W}],
                        ' '))) AS chunk,
             len(w) AS nw
      FROM (SELECT d.doc_id, string_split(d.text, ' ') AS w
            FROM documents d JOIN s2f USING (doc_id) WHERE s2f.s2 = 1)
    ), cover AS (
      SELECT dc.doc_id,
             CAST(sum(least({_CHUNK_W}, dc.nw - dc.ci * {_CHUNK_W}))
                  AS BIGINT) AS total_w,
             CAST(sum(CASE WHEN bc.chunk IS NOT NULL
                      THEN least({_CHUNK_W}, dc.nw - dc.ci * {_CHUNK_W})
                      ELSE 0 END) AS BIGINT) AS seen_w
      FROM delta_chunks dc
      LEFT JOIN base_chunks bc ON bc.chunk = dc.chunk
      GROUP BY dc.doc_id
    ), s3f AS (
      SELECT s.*,
             CASE WHEN s.s2 = 1
                   AND 2 * coalesce(c.seen_w, 0)
                       < coalesce(c.total_w, 1)
                  THEN 1 ELSE 0 END AS s3
      FROM s2f s LEFT JOIN cover c USING (doc_id)
    ), base_lang AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS base_docs
      FROM basew GROUP BY lang
    ), dl AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS delta_in,
             CAST(sum(s1) AS BIGINT) AS q_pass,
             CAST(sum(s2) AS BIGINT) AS exact_new,
             CAST(sum(s3) AS BIGINT) AS accepted,
             CAST(sum(s3 * n_words) AS BIGINT) AS added_words
      FROM s3f GROUP BY lang
    ), merged AS (
      SELECT coalesce(b.lang, d.lang) AS lang,
             coalesce(b.base_docs, 0) AS base_docs,
             coalesce(d.delta_in, 0) AS delta_in,
             coalesce(d.q_pass, 0) AS q_pass,
             coalesce(d.exact_new, 0) AS exact_new,
             coalesce(d.accepted, 0) AS accepted,
             coalesce(d.added_words, 0) AS added_words,
             coalesce(b.base_docs, 0) + coalesce(d.accepted, 0)
               AS merged_docs
      FROM base_lang b FULL OUTER JOIN dl d ON d.lang = b.lang
    ), tot AS (
      SELECT CAST(sum(merged_docs) AS BIGINT) AS m FROM merged
    )
    SELECT lang, base_docs, delta_in, q_pass, exact_new, accepted,
           added_words, merged_docs,
           CAST((2 * 1000 * merged_docs + m) // (2 * m) AS BIGINT)
             AS merged_share_milli
    FROM merged CROSS JOIN tot ORDER BY lang
    """,
)
def q_llm_corpus_refresh_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The composed day-2 incremental corpus refresh (module
    docstring): quality-gate the delta, drop exact and paragraph-level
    cross-batch duplicates against the landed base, and re-emit the
    merged per-language mixture accounting — one relation, one delta
    pass, one base pass."""
    docs = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    stop_hits = None
    for w in _STOPWORDS:
        hit = F.when(padded.like(f"% {w} %"), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    n_words = F.size(words)
    n_nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_sym = F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", ""))
    s1 = (
        F.when(
            n_words.between(_MIN_WORDS, _MAX_WORDS)
            & (_MIN_MWL * n_words <= n_nonspace)
            & (n_nonspace <= _MAX_MWL * n_words)
            & (1000 * n_sym <= _SYM_PERMILLE * F.length("text"))
            & (stop_hits >= _MIN_STOP_HITS),
            1,
        )
        .otherwise(0)
        .alias("s1")
    )
    delta = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        "lang",
        "text",
        n_words.alias("n_words"),
        s1,
        F.md5("text").alias("grp"),
    )
    base = docs.filter(F.col("doc_id") % 5 != 0)
    base_md5 = base.select(F.md5("text").alias("grp")).distinct()
    w_grp = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Eager slim checkpoint (the accept-list artifact a real refresh
    # materializes): flags for every delta doc WITHOUT the text column
    # — delta-cardinality × a few small columns, so the base digest
    # scan and the delta flag window run exactly ONCE; both the chunk
    # branch and the final rollup reuse the checkpointed rows instead
    # of re-executing the subplan (which would re-read base text).
    s2f = (
        delta.join(
            base_md5.withColumn("in_base", F.lit(1)), "grp", "left"
        )
        .withColumn(
            "s2",
            F.when(
                (F.col("s1") == 1)
                & F.col("in_base").isNull()
                & (F.sum("s1").over(w_grp) == 1),
                1,
            ).otherwise(0),
        )
        .select("doc_id", "lang", "n_words", "s1", "s2")
        .transform(checkpoint)
    )

    def _chunks(d: DataFrame) -> DataFrame:
        """(doc_id, ci, chunk, nw): the q_llm_paragraph_dedup
        non-overlapping 16-word chunk explode."""
        wcol = F.split("text", " ")
        nch = F.expr(
            f"(size(split(text, ' ')) + {_CHUNK_W - 1}) DIV {_CHUNK_W}"
        )
        return d.select(
            "doc_id",
            F.size(wcol).alias("nw"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), nch - 1),
                    lambda i: F.array_join(
                        F.slice(wcol, i * _CHUNK_W + 1, _CHUNK_W), " "
                    ),
                )
            ).alias("ci", "chunk"),
        )

    # Both corpus-scale chunk exchanges (the base-vocabulary distinct
    # and the delta-vs-base membership join) ride the 128-bit content
    # key instead of the raw ~90-byte chunk text — the
    # q_llm_paragraph_dedup narrow-shuffle discipline (r13, guide
    # §2.3); the oracle keeps the raw-text join and the driver
    # hash-match certifies the equivalence.
    base_chunks = (
        _chunks(base.select("doc_id", "text"))
        .select(F.md5("chunk").alias("hk"))
        .distinct()
    )
    delta_chunks = _chunks(
        docs.join(
            s2f.filter(F.col("s2") == 1).select("doc_id"), "doc_id"
        ).select("doc_id", "text")
    ).withColumn("hk", F.md5("chunk")).drop("chunk")
    cw = F.least(F.lit(_CHUNK_W), F.col("nw") - F.col("ci") * _CHUNK_W)
    cover = (
        delta_chunks.join(
            base_chunks.withColumn("seen", F.lit(1)), "hk", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.sum(cw).cast("long").alias("total_w"),
            F.sum(F.when(F.col("seen") == 1, cw).otherwise(0))
            .cast("long")
            .alias("seen_w"),
        )
    )
    s3f = (
        s2f.join(cover, "doc_id", "left")
        .withColumn(
            "s3",
            F.when(
                (F.col("s2") == 1)
                & (
                    2 * F.coalesce("seen_w", F.lit(0))
                    < F.coalesce("total_w", F.lit(1))
                ),
                1,
            ).otherwise(0),
        )
    )
    base_lang = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("base_docs")
    )
    dl = s3f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("delta_in"),
        F.sum("s1").cast("long").alias("q_pass"),
        F.sum("s2").cast("long").alias("exact_new"),
        F.sum("s3").cast("long").alias("accepted"),
        F.sum(F.col("s3") * F.col("n_words"))
        .cast("long")
        .alias("added_words"),
    )
    merged = (
        base_lang.alias("b")
        .join(dl.alias("d"), F.col("b.lang") == F.col("d.lang"), "full")
        .select(
            F.coalesce(F.col("b.lang"), F.col("d.lang")).alias("lang"),
            F.coalesce("base_docs", F.lit(0)).alias("base_docs"),
            F.coalesce("delta_in", F.lit(0)).alias("delta_in"),
            F.coalesce("q_pass", F.lit(0)).alias("q_pass"),
            F.coalesce("exact_new", F.lit(0)).alias("exact_new"),
            F.coalesce("accepted", F.lit(0)).alias("accepted"),
            F.coalesce("added_words", F.lit(0)).alias("added_words"),
            (
                F.coalesce("base_docs", F.lit(0))
                + F.coalesce("accepted", F.lit(0))
            ).alias("merged_docs"),
        )
        .transform(checkpoint)
    )
    tot = merged.agg(F.sum("merged_docs").cast("long").alias("m"))
    return (
        merged.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "base_docs",
            "delta_in",
            "q_pass",
            "exact_new",
            "accepted",
            "added_words",
            "merged_docs",
            F.expr(
                "CAST((2 * 1000 * merged_docs + m) DIV (2 * m)"
                " AS BIGINT)"
            ).alias("merged_share_milli"),
        )
        .orderBy("lang")
    )
