"""The composed end-to-end batch curation pipeline (VERDICT r11 item 4).

Every stage of a pretraining-data curation run exists in this repo as
its own certified key (quality filter, exact dedup, paragraph dedup,
domain cap, leakage-safe split, sequence packing). This module composes
them into the ONE relation a real curation user runs: a sequenced
funnel where each stage consumes the previous stage's survivors, with a
hash-checked audit row per stage (in/out/drop + surviving token mass)
and the final packed-training-stream accounting per language.

Composition is SINGLE-PASS by construction: instead of materializing
each stage, every document carries monotone survival flags s1..s5
computed with conditional window ranks (rank-among-survivors =
``sum(survivor_flag) over (...)``), so the whole funnel folds into one
per-document relation, and the entire audit — all stages at once — is
ONE language-keyed aggregation over it re-aggregated to stage grain.
The only extra corpus-scale work is the paragraph-chunk explode, which
joins its per-document surviving-token mass back by doc_id, exactly the
q_llm_paragraph_dedup plan.

Stage semantics (each over the previous stage's survivors):

1. quality_filter  — the four Gopher/MassiveText structural rules
   (quality_rules.py contract constants; all-integer cross-multiplied
   predicates).
2. exact_dedup     — whole-document md5(text) groups keep min doc_id.
3. paragraph_dedup — non-overlapping 16-word chunks deduplicated
   corpus-wide by first occurrence (doc_id, position); a document's
   surviving token mass is the word count of its kept chunks; documents
   whose every chunk was seen earlier drop entirely.
4. domain_cap      — each source keeps its first 40 survivors in the
   content-stable (md5(doc_id), doc_id) order.
5. train_split     — leakage-safe content split (md5(text) bucket < 80
   = train); valid/test mass leaves the TRAINING pipeline here, so the
   audit counts it as dropped at this stage.
6. seq_pack_train  — the train stream packs into 8 parallel md5-ordered
   token streams cut into 512-token context windows (q_llm_seq_pack
   contract), reported PER LANGUAGE: docs, surviving tokens, and the
   number of distinct windows in which that language's documents start.

Determinism: all counts/token masses are exact int64; orderings are
content-stable md5 totals with doc_id tiebreaks; no float appears
anywhere in the relation, so the oracle comparison has zero float
surface.

At 100 TB: one corpus scan feeds the funnel; the shuffles are the
md5(text) dedup exchange (doc-bounded), the paragraph-chunk exchange
(the inherent cost of exact global dedup, textbook hash partition), the
per-source / per-bucket window exchanges (low-cardinality partitions —
the cap needs only each partition's local 40-prefix, the mega-domain
salting idiom in q_llm_domain_cap applies unchanged), and a ~5-row
language rollup. Nothing ever collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.operators.curation import (
    _CTX_TOKENS,
    _PACK_BUCKETS,
    _sql_hash_bucket,
    hash_bucket,
)
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

_CAP_DOCS = 40  # q_llm_domain_cap contract: keep-first-40 per source

_STOP_SQL = " + ".join(
    "CASE WHEN concat(' ', text, ' ') LIKE '% " + w + " %' "
    "THEN 1 ELSE 0 END"
    for w in _STOPWORDS
)

# Funnel stage 1, the heuristic quality gate over ``text``: 1 when the
# word-count, mean-word-length, symbol-share and stop-word rules all
# pass.
_S1_SQL = f"""CASE WHEN len(string_split(text, ' '))
                       BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
                   AND {_MIN_MWL} * len(string_split(text, ' '))
                       <= length(replace(text, ' ', ''))
                   AND length(replace(text, ' ', ''))
                       <= {_MAX_MWL} * len(string_split(text, ' '))
                   AND 1000 * length(regexp_replace(
                         text, '[A-Za-z0-9 ]', '', 'g'))
                       <= {_SYM_PERMILLE} * length(text)
                   AND ({_STOP_SQL}) >= {_MIN_STOP_HITS}
              THEN 1 ELSE 0 END"""

# The funnel's oracle, split into reusable pieces (round 13): the CTE
# chain and the stage branches compose into _PIPELINE_ORACLE here and
# into the stream-composed q_stream_curation_e2e_batchsem oracle
# (operators/stream_curation.py), which prepends a stage-0 ingest row.
_FUNNEL_CTES = f"""feats AS (
      SELECT doc_id, source, lang,
             len(string_split(text, ' ')) AS n_words,
             {_S1_SQL} AS s1,
             md5(text) AS grp,
             {_sql_hash_bucket('text')} AS sb,
             md5(CAST(doc_id AS VARCHAR)) AS ordk,
             {_sql_hash_bucket('doc_id', _PACK_BUCKETS)} AS bucket
      FROM documents
    ), dd AS (
      SELECT *,
             CASE WHEN s1 = 1 AND sum(s1) OVER (
                    PARTITION BY grp ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) = 1
                  THEN 1 ELSE 0 END AS s2
      FROM feats
    ), chunks AS (
      SELECT doc_id,
             unnest(range(0, CAST((len(w) + 15) // 16 AS BIGINT)))
               AS ci,
             unnest(list_transform(
                 range(0, CAST((len(w) + 15) // 16 AS BIGINT)),
                 i -> array_to_string(w[i*16+1 : i*16+16], ' ')))
               AS chunk,
             len(w) AS nw
      FROM (SELECT d.doc_id, string_split(d.text, ' ') AS w
            FROM documents d JOIN dd USING (doc_id) WHERE dd.s2 = 1)
    ), marked AS (
      SELECT doc_id, least(16, nw - ci * 16) AS cw,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id ASC, ci ASC) AS rn
      FROM chunks
    ), doctoks AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN rn = 1 THEN cw ELSE 0 END) AS BIGINT)
               AS toks
      FROM marked GROUP BY doc_id
    ), st3 AS (
      SELECT dd.*, coalesce(doctoks.toks, 0) AS toks,
             CASE WHEN dd.s2 = 1 AND coalesce(doctoks.toks, 0) > 0
                  THEN 1 ELSE 0 END AS s3
      FROM dd LEFT JOIN doctoks USING (doc_id)
    ), st4 AS (
      SELECT *,
             CASE WHEN s3 = 1 AND sum(s3) OVER (
                    PARTITION BY source ORDER BY ordk, doc_id
                    ROWS UNBOUNDED PRECEDING) <= {_CAP_DOCS}
                  THEN 1 ELSE 0 END AS s4
      FROM st3
    ), st5 AS (
      SELECT *,
             CASE WHEN s4 = 1 AND sb < 80 THEN 1 ELSE 0 END AS s5
      FROM st4
    ), packed AS (
      SELECT *,
             sum(CASE WHEN s5 = 1 THEN toks ELSE 0 END) OVER (
               PARTITION BY bucket ORDER BY ordk, doc_id
               ROWS UNBOUNDED PRECEDING)
               - CASE WHEN s5 = 1 THEN toks ELSE 0 END AS start_offset
      FROM st5
    ), langagg AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(s1) AS BIGINT) AS s1n,
             CAST(sum(s2) AS BIGINT) AS s2n,
             CAST(sum(s3) AS BIGINT) AS s3n,
             CAST(sum(s4) AS BIGINT) AS s4n,
             CAST(sum(s5) AS BIGINT) AS s5n,
             CAST(sum(s1 * n_words) AS BIGINT) AS t1,
             CAST(sum(s2 * n_words) AS BIGINT) AS t2,
             CAST(sum(s3 * toks) AS BIGINT) AS t3,
             CAST(sum(s4 * toks) AS BIGINT) AS t4,
             CAST(sum(s5 * toks) AS BIGINT) AS t5,
             CAST(count(DISTINCT CASE WHEN s5 = 1 THEN
                    (bucket, start_offset // {_CTX_TOKENS}) END)
                  AS BIGINT) AS windows
      FROM packed GROUP BY lang
    ), tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
             CAST(sum(s1n) AS BIGINT) AS s1n,
             CAST(sum(s2n) AS BIGINT) AS s2n,
             CAST(sum(s3n) AS BIGINT) AS s3n,
             CAST(sum(s4n) AS BIGINT) AS s4n,
             CAST(sum(s5n) AS BIGINT) AS s5n,
             CAST(sum(t1) AS BIGINT) AS t1,
             CAST(sum(t2) AS BIGINT) AS t2,
             CAST(sum(t3) AS BIGINT) AS t3,
             CAST(sum(t4) AS BIGINT) AS t4,
             CAST(sum(t5) AS BIGINT) AS t5
      FROM langagg
    )"""

_FUNNEL_BRANCHES = """
      SELECT CAST(1 AS BIGINT) AS stage_no, 'quality_filter' AS stage,
             '*' AS lang, n_all AS n_in, s1n AS n_out,
             n_all - s1n AS n_dropped, t1 AS tokens_out,
             CAST(0 AS BIGINT) AS windows_out
      FROM tot
      UNION ALL
      SELECT 2, 'exact_dedup', '*', s1n, s2n, s1n - s2n, t2, 0 FROM tot
      UNION ALL
      SELECT 3, 'paragraph_dedup', '*', s2n, s3n, s2n - s3n, t3, 0
      FROM tot
      UNION ALL
      SELECT 4, 'domain_cap', '*', s3n, s4n, s3n - s4n, t4, 0 FROM tot
      UNION ALL
      SELECT 5, 'train_split', '*', s4n, s5n, s4n - s5n, t5, 0 FROM tot
      UNION ALL
      SELECT 6, 'seq_pack_train', lang, s5n, s5n, 0, t5, windows
      FROM langagg WHERE s5n > 0
"""

_PIPELINE_ORACLE = f"""
    WITH {_FUNNEL_CTES}
    SELECT * FROM ({_FUNNEL_BRANCHES}
    ) ORDER BY stage_no, lang
    """


def funnel_one_row(d: DataFrame) -> DataFrame:
    """The 6-stage funnel folded to ONE row (global stage sums + the
    per-language pack structs) over any documents-shaped relation
    (doc_id, source, lang, text) — shared by the batch flagship below
    and the stream-composed q_stream_curation_e2e_batchsem, which runs
    it over the stream-landed table instead of the fixture scan."""
    words = F.split("text", " ")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    stop_hits = None
    for w in _STOPWORDS:
        hit = F.when(padded.like(f"% {w} %"), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    n_words = F.size(words)
    n_nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_sym = F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", ""))
    s1_expr = F.when(
        n_words.between(_MIN_WORDS, _MAX_WORDS)
        & (_MIN_MWL * n_words <= n_nonspace)
        & (n_nonspace <= _MAX_MWL * n_words)
        & (1000 * n_sym <= _SYM_PERMILLE * F.length("text"))
        & (stop_hits >= _MIN_STOP_HITS),
        1,
    ).otherwise(0)
    # r14 (guide §2.3/§8: shuffle keys, not payloads): every downstream
    # stage needs only per-doc metadata plus the paragraph-chunk CONTENT
    # KEYS, so the 16-byte md5 of each 16-word chunk is computed here,
    # map-side on the scan, and ``text`` never crosses an exchange (the
    # grp window previously shipped the full text through its shuffle
    # solely so the chunk explode could run above it). Hashing is
    # guarded to s1 survivors — s2 ⊆ s1 (monotone flags), so dropped
    # docs never pay it — and unhex halves the key mass vs hex. hk
    # equality classes are untouched (unhex∘md5 is injective), so the
    # first-occurrence claims and every count/token sum are identical.
    nch = F.expr("(size(split(text, ' ')) + 15) DIV 16")
    charr = F.when(
        s1_expr == 1,
        F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.unhex(
                F.md5(F.array_join(F.slice(words, i * 16 + 1, 16), " "))
            ),
        ),
    )
    feats = d.select(
        "doc_id",
        "source",
        "lang",
        n_words.alias("n_words"),
        s1_expr.alias("s1"),
        F.md5("text").alias("grp"),
        hash_bucket(F.col("text")).alias("sb"),
        F.md5(F.col("doc_id").cast("string")).alias("ordk"),
        hash_bucket(F.col("doc_id"), _PACK_BUCKETS).alias("bucket"),
        charr.alias("charr"),
    )
    w_grp = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = feats.withColumn(
        "s2",
        F.when(
            (F.col("s1") == 1) & (F.sum("s1").over(w_grp) == 1), 1
        ).otherwise(0),
    )
    # Paragraph-chunk explode over stage-2 survivors only — dropped
    # documents' chunks must never claim a first occurrence. The chunk
    # width cw is re-derived from (n_words, ci), so the explode carries
    # nothing but the 16-byte content key.
    chunks = dd.filter(F.col("s2") == 1).select(
        "doc_id",
        F.col("n_words").alias("nw"),
        F.posexplode("charr").alias("ci", "hk"),
    )
    # Shuffle the 128-bit content key, not the chunk text — same
    # narrow-exchange discipline as q_llm_paragraph_dedup (guide §2.3).
    w_first = Window.partitionBy("hk").orderBy(
        F.asc("doc_id"), F.asc("ci")
    )
    doctoks = (
        chunks.select(
            "doc_id",
            "hk",
            "ci",
            F.least(F.lit(16), F.col("nw") - F.col("ci") * 16).alias("cw"),
        )
        .select(
            "doc_id",
            "cw",
            F.row_number().over(w_first).alias("rn"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("rn") == 1, F.col("cw")).otherwise(0))
            .cast("long")
            .alias("toks")
        )
    )
    st3 = (
        dd.drop("charr")
        .join(doctoks, "doc_id", "left")
        .withColumn("toks", F.coalesce("toks", F.lit(0).cast("long")))
        .withColumn(
            "s3",
            F.when(
                (F.col("s2") == 1) & (F.col("toks") > 0), 1
            ).otherwise(0),
        )
    )
    w_src = (
        Window.partitionBy("source")
        .orderBy("ordk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    st4 = st3.withColumn(
        "s4",
        F.when(
            (F.col("s3") == 1) & (F.sum("s3").over(w_src) <= _CAP_DOCS), 1
        ).otherwise(0),
    )
    st5 = st4.withColumn(
        "s5",
        F.when((F.col("s4") == 1) & (F.col("sb") < 80), 1).otherwise(0),
    )
    w_pack = (
        Window.partitionBy("bucket")
        .orderBy("ordk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s5_toks = F.when(F.col("s5") == 1, F.col("toks")).otherwise(
        F.lit(0).cast("long")
    )
    packed = st5.withColumn(
        "start_offset", F.sum(s5_toks).over(w_pack) - s5_toks
    )
    win_id = F.expr(f"start_offset DIV {_CTX_TOKENS}")
    langagg = packed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("s1").cast("long").alias("s1n"),
        F.sum("s2").cast("long").alias("s2n"),
        F.sum("s3").cast("long").alias("s3n"),
        F.sum("s4").cast("long").alias("s4n"),
        F.sum("s5").cast("long").alias("s5n"),
        F.sum(F.col("s1") * F.col("n_words")).cast("long").alias("t1"),
        F.sum(F.col("s2") * F.col("n_words")).cast("long").alias("t2"),
        F.sum(F.col("s3") * F.col("toks")).cast("long").alias("t3"),
        F.sum(F.col("s4") * F.col("toks")).cast("long").alias("t4"),
        F.sum(F.col("s5") * F.col("toks")).cast("long").alias("t5"),
        F.countDistinct(
            F.when(F.col("s5") == 1, F.struct(F.col("bucket"), win_id))
        )
        .cast("long")
        .alias("windows"),
    )
    # Fold the ~5-row language relation to ONE row carrying both the
    # global stage sums and the per-language pack structs, then explode
    # that row into all output rows with a single generator — langagg is
    # referenced once, so the corpus chain is planned (and run) once
    # instead of once per union branch.
    one = langagg.agg(
        F.sum("n_docs").cast("long").alias("n_all"),
        F.sum("s1n").cast("long").alias("s1n"),
        F.sum("s2n").cast("long").alias("s2n"),
        F.sum("s3n").cast("long").alias("s3n"),
        F.sum("s4n").cast("long").alias("s4n"),
        F.sum("s5n").cast("long").alias("s5n"),
        F.sum("t1").cast("long").alias("t1"),
        F.sum("t2").cast("long").alias("t2"),
        F.sum("t3").cast("long").alias("t3"),
        F.sum("t4").cast("long").alias("t4"),
        F.sum("t5").cast("long").alias("t5"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("s5n") > 0,
                    F.struct("lang", "s5n", "t5", "windows"),
                )
            )
        ).alias("langs"),
    )
    return one


def funnel_audit_rows(one: DataFrame) -> DataFrame:
    """Explode the one-row funnel fold into the per-stage audit rows
    (unordered — callers order by stage_no, lang after any unions)."""
    return (
        one.selectExpr(
            """inline(concat(
          array(
            named_struct(
              'stage_no', CAST(1 AS BIGINT), 'stage', 'quality_filter',
              'lang', '*', 'n_in', n_all, 'n_out', s1n,
              'n_dropped', n_all - s1n, 'tokens_out', t1,
              'windows_out', CAST(0 AS BIGINT)),
            named_struct(
              'stage_no', CAST(2 AS BIGINT), 'stage', 'exact_dedup',
              'lang', '*', 'n_in', s1n, 'n_out', s2n,
              'n_dropped', s1n - s2n, 'tokens_out', t2,
              'windows_out', CAST(0 AS BIGINT)),
            named_struct(
              'stage_no', CAST(3 AS BIGINT), 'stage', 'paragraph_dedup',
              'lang', '*', 'n_in', s2n, 'n_out', s3n,
              'n_dropped', s2n - s3n, 'tokens_out', t3,
              'windows_out', CAST(0 AS BIGINT)),
            named_struct(
              'stage_no', CAST(4 AS BIGINT), 'stage', 'domain_cap',
              'lang', '*', 'n_in', s3n, 'n_out', s4n,
              'n_dropped', s3n - s4n, 'tokens_out', t4,
              'windows_out', CAST(0 AS BIGINT)),
            named_struct(
              'stage_no', CAST(5 AS BIGINT), 'stage', 'train_split',
              'lang', '*', 'n_in', s4n, 'n_out', s5n,
              'n_dropped', s4n - s5n, 'tokens_out', t5,
              'windows_out', CAST(0 AS BIGINT))
          ),
          transform(langs, x -> named_struct(
            'stage_no', CAST(6 AS BIGINT), 'stage', 'seq_pack_train',
            'lang', x.lang, 'n_in', x.s5n, 'n_out', x.s5n,
            'n_dropped', CAST(0 AS BIGINT), 'tokens_out', x.t5,
            'windows_out', x.windows))
        ))"""
        )
    )


@query("q_llm_curation_pipeline", oracle=_PIPELINE_ORACLE)
def q_llm_curation_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """See module docstring — the composed 6-stage curation funnel,
    single-pass via monotone survival flags, audited per stage with
    the final packed train stream per language."""
    return funnel_audit_rows(
        funnel_one_row(t(spark, sf_dir, "documents"))
    ).orderBy("stage_no", "lang")
