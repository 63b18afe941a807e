"""Data-governance / release-curation operators (SURVEY.md §2.12
extension): k-anonymity auditing before a data release, and target-
mixture allocation with deterministic backfill — the two governance
gates a corpus passes through between curation and training.

Both are pure integer pipelines (no floats anywhere), fully
hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark.memo import checkpoint
from khose_spark.registry import query
from khose_spark.sqlutil import cents, sql_cents
from khose_spark.tables import t

_KANON_K = 5


@query(
    "q_priv_kanon",
    oracle=f"""
    WITH groups AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             count(*) AS n
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT c_mktsegment,
           count(*) AS n_groups,
           CAST(sum(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_groups_small,
           CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
               AS n_rows_suppressed,
           CAST(sum(CASE WHEN n >= {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
               AS n_rows_kept
    FROM groups GROUP BY c_mktsegment
    """,
)
def q_priv_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (mktsegment, nationkey, $1000 balance band): per segment, how many
    QI equivalence classes exist, how many are below k, and how many
    rows the suppression rule would drop vs keep — the release-gate
    report a privacy review runs before publishing user-derived data.

    Plan: one shuffle on the QI tuple (map-side partial counts), then a
    5-row re-agg. At 100 TB identical — group cardinality is bounded by
    the QI domain, not the row count. The balance band uses floor of an
    exact-at-boundary division (2-decimal inputs are exact doubles, so
    value/1000 crosses integer boundaries only at exact multiples),
    making the banding hash-stable across engines."""
    groups = (
        t(spark, sf_dir, "customer")
        .groupBy(
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    small = F.col("n") < _KANON_K
    return groups.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(small.cast("long")).alias("n_groups_small"),
        F.sum(F.when(small, F.col("n")).otherwise(0)).alias("n_rows_suppressed"),
        F.sum(F.when(~small, F.col("n")).otherwise(0)).alias("n_rows_kept"),
    )


# Target document counts per language for the mixture (budget = 270;
# zh over-subscribed vs availability so backfill triggers at sf<=0.01).
_MIX_TARGETS = {"en": 60, "de": 40, "es": 40, "fr": 30, "zh": 100}


def _sql_target() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {n}" for lang, n in _MIX_TARGETS.items()
    )
    return f"CASE lang {whens} ELSE 0 END"


@query(
    "q_llm_dataset_mixture",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(text), doc_id) AS rk
      FROM documents
    ), per_lang AS (
      SELECT lang, CAST({_sql_target()} AS BIGINT) AS target_n,
             count(*) AS n_avail
      FROM ranked GROUP BY lang
    ), pass1 AS (
      SELECT lang, target_n, n_avail,
             least(n_avail, target_n) AS take1,
             n_avail - least(n_avail, target_n) AS surplus
      FROM per_lang
    ), backfill AS (
      SELECT lang, target_n, n_avail, take1, surplus,
             (SELECT sum(target_n - take1) FROM pass1) AS leftover,
             coalesce(sum(surplus) OVER (ORDER BY surplus DESC, lang
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum_before
      FROM pass1
    ), alloc AS (
      SELECT lang, target_n, n_avail, take1,
             CAST(least(surplus, greatest(leftover - cum_before, 0))
                  AS BIGINT) AS take2
      FROM backfill
    )
    SELECT a.lang, a.target_n, a.n_avail, a.take1, a.take2,
           CAST(a.take1 + a.take2 AS BIGINT) AS n_taken,
           CAST(coalesce(sum(r.n_chars), 0) AS BIGINT) AS sum_chars
    FROM alloc a
    LEFT JOIN ranked r ON r.lang = a.lang AND r.rk <= a.take1 + a.take2
    GROUP BY 1, 2, 3, 4, 5, 6
    """,
)
def q_llm_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture allocation: fill fixed per-language targets
    (en 60 / de 40 / es 40 / fr 30 / zh 100, budget 270 — zh is
    deliberately over-subscribed so the backfill path is exercised) from the corpus
    in deterministic md5(text) order, then BACKFILL any unmet budget
    from surplus languages greedily (largest surplus first, lang asc
    tiebreak) via a 5-row cumulative window — the mixture-weights
    materialization step of a pretraining data recipe.

    Plan: one lang-partitioned window ranks documents (content-stable
    md5 order — cluster-size independent, like q_llm_split_assign); the
    allocation itself runs on a 5-row relation (1-row leftover
    broadcast + cumulative window); the final chars audit joins the
    5-row allocation back into the ranked corpus broadcast-side. All
    integers, fully hash-checked."""
    d = t(spark, sf_dir, "documents")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id"))
        .alias("rk"),
    ).persist()
    target = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(n))
            for lang, n in _MIX_TARGETS.items()
        ],
        F.lit(0),
    ).cast("long")
    per_lang = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_avail")
    ).select("lang", target.alias("target_n"), "n_avail")
    pass1 = per_lang.select(
        "lang",
        "target_n",
        "n_avail",
        F.least("n_avail", "target_n").alias("take1"),
        (F.col("n_avail") - F.least("n_avail", "target_n")).alias("surplus"),
    )
    leftover = pass1.agg(
        F.sum(F.col("target_n") - F.col("take1")).alias("leftover")
    )
    w_cum = (
        Window.orderBy(F.desc("surplus"), "lang")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    alloc = (
        pass1.crossJoin(F.broadcast(leftover))
        .withColumn(
            "cum_before", F.coalesce(F.sum("surplus").over(w_cum), F.lit(0))
        )
        .select(
            "lang",
            "target_n",
            "n_avail",
            "take1",
            F.least(
                F.col("surplus"),
                F.greatest(F.col("leftover") - F.col("cum_before"), F.lit(0)),
            ).alias("take2"),
        )
    )
    taken = ranked.alias("r").join(
        F.broadcast(alloc).alias("a"),
        (F.col("r.lang") == F.col("a.lang"))
        & (F.col("r.rk") <= F.col("a.take1") + F.col("a.take2")),
        "right",
    )
    out = (
        taken.groupBy(
            F.col("a.lang").alias("lang"),
            F.col("a.target_n").alias("target_n"),
            F.col("a.n_avail").alias("n_avail"),
            F.col("a.take1").alias("take1"),
            F.col("a.take2").alias("take2"),
        )
        .agg(
            F.coalesce(F.sum("r.n_chars"), F.lit(0))
            .cast("long")
            .alias("sum_chars")
        )
        .select(
            "lang",
            "target_n",
            "n_avail",
            "take1",
            "take2",
            (F.col("take1") + F.col("take2")).alias("n_taken"),
            "sum_chars",
        )
        # 5-row allocation: materialize, release the ranked-corpus cache.
        .transform(checkpoint)
    )
    ranked.unpersist()
    return out


# Generalization ladder: acctbal band widths, narrowest first. Level i
# uses width _GEN_WIDTHS[i-1]; the audit picks the narrowest level
# whose EVERY (segment, nation, band) class reaches k, else the widest.
_GEN_WIDTHS = [500, 1000, 2000, 4000]


@query(
    "q_priv_generalize",
    oracle=f"""
    WITH leveled AS (
      SELECT c_mktsegment, c_nationkey, lvl.level, lvl.width,
             CAST(floor(c_acctbal / lvl.width) AS BIGINT) AS band
      FROM customer
      CROSS JOIN (
        SELECT unnest([{", ".join(str(i + 1) for i in range(len(_GEN_WIDTHS)))}]) AS level,
               unnest([{", ".join(str(w) for w in _GEN_WIDTHS)}]) AS width
      ) lvl
    ), groups AS (
      SELECT c_mktsegment, level, c_nationkey, band, count(*) AS n
      FROM leveled GROUP BY 1, 2, 3, 4
    ), per_level AS (
      SELECT c_mktsegment, level,
             count(*) AS n_groups,
             min(n) AS min_group_n,
             CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
                 AS n_suppressed
      FROM groups GROUP BY 1, 2
    ), chosen AS (
      SELECT c_mktsegment,
             coalesce(min(CASE WHEN min_group_n >= {_KANON_K} THEN level END),
                      {len(_GEN_WIDTHS)}) AS chosen_level
      FROM per_level GROUP BY 1
    )
    SELECT p.c_mktsegment, c.chosen_level,
           p.n_groups, p.min_group_n, p.n_suppressed
    FROM chosen c
    JOIN per_level p ON p.c_mktsegment = c.c_mktsegment
                    AND p.level = c.chosen_level
    """,
)
def q_priv_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder: widen the balance band (500 ->
    1000 -> 2000 -> 4000) until every (segment, nation, band)
    equivalence class reaches k=5, per segment — the
    generalize-then-suppress decision a privacy review automates
    (Samarati's full-domain generalization, one attribute). Emits the
    chosen level and its group/suppression stats; if no level
    satisfies k for a segment, the widest level is chosen and the
    residual suppression count is the report.

    All-integer (floor of an exact-at-boundary division, counts,
    mins), fully hash-checked.

    Scale: the 4-level explode is map-side (4x row fan-out before the
    first shuffle, constant factor); group cardinality after the first
    aggregate is bounded by the QI domain x levels, so the per-level
    and chosen-level stages run on tiny relations. One data-sized
    shuffle total, like q_priv_kanon."""
    levels = F.array(
        *[
            F.struct(F.lit(i + 1).alias("level"), F.lit(w).alias("width"))
            for i, w in enumerate(_GEN_WIDTHS)
        ]
    )
    leveled = (
        t(spark, sf_dir, "customer")
        .select(
            "c_mktsegment",
            "c_nationkey",
            "c_acctbal",
            F.explode(levels).alias("lvl"),
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            F.col("lvl.level").alias("level"),
            F.floor(F.col("c_acctbal") / F.col("lvl.width"))
            .cast("long")
            .alias("band"),
        )
    )
    groups = leveled.groupBy(
        "c_mktsegment", "level", "c_nationkey", "band"
    ).agg(F.count(F.lit(1)).alias("n"))
    per_level = (
        groups.groupBy("c_mktsegment", "level")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.min("n").alias("min_group_n"),
            F.sum(
                F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0)
            ).alias("n_suppressed"),
        )
        .persist()
    )
    chosen = per_level.groupBy("c_mktsegment").agg(
        F.coalesce(
            F.min(
                F.when(F.col("min_group_n") >= _KANON_K, F.col("level"))
            ),
            F.lit(len(_GEN_WIDTHS)),
        ).alias("chosen_level")
    )
    out = (
        per_level.alias("p")
        .join(
            F.broadcast(chosen).alias("c"),
            (F.col("p.c_mktsegment") == F.col("c.c_mktsegment"))
            & (F.col("p.level") == F.col("c.chosen_level")),
        )
        .select(
            F.col("p.c_mktsegment").alias("c_mktsegment"),
            F.col("c.chosen_level").alias("chosen_level"),
            "n_groups",
            "min_group_n",
            "n_suppressed",
        )
        # Segment-count rows only: materialize, release the level audit.
        .transform(checkpoint)
    )
    per_level.unpersist()
    return out


_LDIV_L = 3


@query(
    "q_priv_ldiversity",
    oracle=f"""
    WITH classes AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             count(DISTINCT c_mktsegment) AS n_sensitive,
             count(*) AS n
      FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey,
           count(*) AS n_classes,
           CAST(sum(CASE WHEN n_sensitive < {_LDIV_L} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_classes_below_l,
           CAST(sum(CASE WHEN n_sensitive < {_LDIV_L} THEN n ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           CAST(sum(CASE WHEN n_sensitive >= {_LDIV_L} THEN n ELSE 0 END)
                AS BIGINT) AS n_rows_safe
    FROM classes GROUP BY c_nationkey
    """,
)
def q_priv_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l=3) complementing q_priv_kanon: a QI class
    (nation, $1000 balance band) is safe only if it contains >= 3
    DISTINCT values of the sensitive attribute (market segment) — the
    homogeneity-attack check k-anonymity alone misses (a class of 50
    rows all in one segment leaks the segment). Per nation: classes,
    classes below l, and rows at risk vs safe.

    Scale: one shuffle on the QI tuple with a distinct-count aggregate
    (Spark's Expand rewrite, bounded by the 5-value sensitive domain),
    then a 25-row re-agg. All-integer, fully hash-checked."""
    classes = (
        t(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        )
        .agg(
            F.countDistinct("c_mktsegment").alias("n_sensitive"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    risky = F.col("n_sensitive") < _LDIV_L
    return classes.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(risky.cast("long")).alias("n_classes_below_l"),
        F.sum(F.when(risky, F.col("n")).otherwise(0)).alias("n_rows_at_risk"),
        F.sum(F.when(~risky, F.col("n")).otherwise(0)).alias("n_rows_safe"),
    )


# Two-sided-geometric (discrete-Laplace) noise ladder for the DP
# histogram, alpha = 1/2 (epsilon = ln 2, sensitivity 1). Exact integer
# masses out of M = 3*2^20: P(0) = 1/3 -> 2^20; P(+/-k) = (1/3)*2^-k ->
# 2^20/2^k each. Truncated at |k| = 10; the residual 2048/M mass is
# assigned to 0 (documented truncation, not a bug).
_DP_M = 3 * (2**20)


def _dp_ladder() -> list[tuple[int, int]]:
    """(cumulative_upper_bound_exclusive, noise) pairs in ladder order
    0, +1, -1, +2, -2, ... +10, -10; remainder maps to 0."""
    out = []
    cum = 2**20  # mass of 0
    out.append((cum, 0))
    for k in range(1, 11):
        m = (2**20) // (2**k)
        for noise in (k, -k):
            cum += m
            out.append((cum, noise))
    return out


@query(
    "q_priv_dp_histogram",
    oracle=f"""
    WITH true_counts AS (
      SELECT n.n_name, count(*) AS true_n
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1
    ), seeded AS (
      SELECT n_name, true_n,
             ({" + ".join(
                 f"(instr('0123456789abcdef', substr(md5(concat('dp:', n_name)), {j}, 1)) - 1)"
                 f" * {16 ** (6 - j)}"
                 for j in range(1, 7)
             )}) % {_DP_M} AS u
      FROM true_counts
    ), noised AS (
      SELECT n_name, true_n, u,
             CASE {" ".join(
                 f"WHEN u < {hi} THEN {noise}"
                 for hi, noise in _dp_ladder()
             )} ELSE 0 END AS noise
      FROM seeded
    )
    SELECT n_name, CAST(true_n AS BIGINT) AS true_n,
           CAST(noise AS BIGINT) AS noise,
           CAST(greatest(true_n + noise, 0) AS BIGINT) AS released_n
    FROM noised
    """,
)
def q_priv_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release (customers per nation)
    under two-sided geometric (discrete-Laplace) noise, alpha = 1/2
    (epsilon = ln 2, sensitivity 1), with negative releases clamped to
    zero — the standard count-release mechanism (Ghosh-Roughgarden-
    Sundararajan's geometric mechanism).

    The noise here is DETERMINISTIC BY DESIGN: the uniform draw comes
    from md5 of the group key (the q_llm_split_assign idiom), pushed
    through an EXACT integer inverse-CDF ladder (masses of 1/3·2^-|k|
    out of M = 3·2^20, truncated at |k| = 10, residual to 0) — so the
    mechanism's plumbing is hash-checkable while a production
    deployment swaps only the uniform source for a CSPRNG. True counts
    are emitted alongside because this operator is the release AUDIT,
    not the release itself.

    Plan: one broadcast dim join + one 25-row aggregation; the noise
    ladder folds into the projection as a literal CASE chain — map-side,
    zero extra shuffles at any scale."""
    cust = t(spark, sf_dir, "customer").select("c_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    true_counts = (
        cust.join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp:"), F.col("n_name"))), 1, 6),
            16,
            10,
        ).cast("long")
        % _DP_M
    )
    noise = None
    for hi, nz in _dp_ladder():
        cond = F.col("u") < hi
        noise = F.when(cond, nz) if noise is None else noise.when(cond, nz)
    noise = noise.otherwise(0)
    return (
        true_counts.withColumn("u", u)
        .withColumn("noise", noise.cast("long"))
        .select(
            "n_name",
            F.col("true_n").cast("long").alias("true_n"),
            "noise",
            F.greatest(
                F.col("true_n") + F.col("noise"), F.lit(0)
            ).cast("long").alias("released_n"),
        )
    )


@query(
    "q_priv_tcloseness",
    oracle="""
    WITH cells AS (
      SELECT c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             c_nationkey, count(*) AS c_gs
      FROM customer GROUP BY 1, 2, 3
    ), framed AS (
      SELECT c_mktsegment, bal_band, c_nationkey, c_gs,
             CAST(sum(c_gs) OVER (
               PARTITION BY c_mktsegment, bal_band) AS BIGINT) AS n_g,
             CAST(sum(c_gs) OVER (
               PARTITION BY c_nationkey) AS BIGINT) AS c_s,
             CAST(sum(c_gs) OVER () AS BIGINT) AS n
      FROM cells
    ), per_group AS (
      SELECT c_mktsegment, bal_band,
             CAST(min(n_g) AS BIGINT) AS n_g,
             CAST(sum(abs(c_gs * n - c_s * n_g)) AS BIGINT) AS tvd_num,
             CAST(min(n_g) * min(n) AS BIGINT) AS tvd_den
      FROM framed GROUP BY 1, 2
    )
    SELECT c_mktsegment, bal_band, n_g,
           (2 * 1000 * tvd_num + 2 * tvd_den)
             // (2 * 2 * tvd_den) AS tvd_permille
    FROM per_group
    ORDER BY tvd_permille DESC, c_mktsegment ASC, bal_band ASC
    LIMIT 10
    """,
)
def q_priv_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit completing the k-anonymity/l-diversity kit:
    for each quasi-identifier class (mktsegment, $1000 balance band —
    the q_priv_kanon QI minus nationkey, which here plays the SENSITIVE
    attribute), the total-variation distance between the class's
    nation distribution and the global one, as half-up permille. The
    top-10 worst classes are the ones an attacker learns the most from
    — l-diversity counts distinct values, t-closeness catches classes
    whose distribution is merely SKEWED toward one value.

    Exactness: TVD = 1/2 Σ_s |c_gs/n_g − c_s/n| is put over the common
    denominator n_g·n, so the numerator Σ_s |c_gs·n − c_s·n_g| is an
    exact int64 sum and one half-up division (doubled once more for the
    1/2) yields the permille. Plan: one shuffle on the (QI, sensitive)
    cell grid, three windows over the domain-bounded cell relation
    (partition keys: QI, sensitive, none — all tiny), a QI-level
    re-agg, and a top-10. Group cardinality is bounded by the QI x
    nation domain, never the row count."""
    cells = (
        t(spark, sf_dir, "customer")
        .groupBy(
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0)
            .cast("long")
            .alias("bal_band"),
            "c_nationkey",
        )
        .agg(F.count(F.lit(1)).alias("c_gs"))
    )
    w_group = Window.partitionBy("c_mktsegment", "bal_band")
    w_sens = Window.partitionBy("c_nationkey")
    w_all = Window.partitionBy()
    framed = cells.select(
        "c_mktsegment",
        "bal_band",
        "c_gs",
        F.sum("c_gs").over(w_group).alias("n_g"),
        F.sum("c_gs").over(w_sens).alias("c_s"),
        F.sum("c_gs").over(w_all).alias("n"),
    )
    per_group = framed.groupBy("c_mktsegment", "bal_band").agg(
        F.min("n_g").alias("n_g"),
        F.sum(
            F.abs(
                F.col("c_gs") * F.col("n") - F.col("c_s") * F.col("n_g")
            )
        ).alias("tvd_num"),
        (F.min("n_g") * F.min("n")).alias("tvd_den"),
    )
    return (
        per_group.select(
            "c_mktsegment",
            "bal_band",
            "n_g",
            F.expr(
                "(2 * 1000 * tvd_num + 2 * tvd_den)"
                " DIV (2 * 2 * tvd_den)"
            ).alias("tvd_permille"),
        )
        .orderBy(
            F.col("tvd_permille").desc(),
            F.col("c_mktsegment").asc(),
            F.col("bal_band").asc(),
        )
        .limit(10)
    )


@query(
    "q_priv_risk",
    oracle="""
    WITH groups AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             count(*) AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_records,
           count(*) AS n_classes,
           CAST(min(n) AS BIGINT) AS smallest_class,
           CAST((2 * 1000 * count(*) + sum(n)) // (2 * sum(n))
                AS BIGINT) AS prosecutor_risk_permille,
           CAST((2 * 1000 + min(n)) // (2 * min(n))
                AS BIGINT) AS max_risk_permille,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique_records
    FROM groups
    """,
)
def q_priv_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk summary over the q_priv_kanon QI classes:
    average prosecutor risk (mean over records of 1/class-size — which
    collapses EXACTLY to classes/records, so the "expected" risk is an
    integer rational, no float sum of reciprocals), the worst-case
    risk 1/min-class as permille, and the count of population-unique
    records (class size 1 — the rows an attacker re-identifies for
    free). The single-page risk sheet that k-anonymity, l-diversity,
    and t-closeness each detail one axis of.

    Plan: one QI-tuple shuffle (map-side combined) + a 1-row fold —
    domain-bounded at any scale."""
    groups = (
        t(spark, sf_dir, "customer")
        .groupBy(
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000.0)
            .cast("long")
            .alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return groups.agg(
        F.sum("n").alias("n_records"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("n").alias("smallest_class"),
        F.expr(
            "(2 * 1000 * count(1) + sum(n)) DIV (2 * sum(n))"
        ).alias("prosecutor_risk_permille"),
        F.expr("(2 * 1000 + min(n)) DIV (2 * min(n))").alias(
            "max_risk_permille"
        ),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias(
            "n_unique_records"
        ),
    )


# Pseudonymization contract: static salt + sha256, 16-hex-char token.
_TOKEN_SALT = "kh8-salt-v1"


@query(
    "q_priv_tokenize",
    oracle=f"""
    WITH cust AS (
      SELECT c_custkey,
             concat('tk_', substr(sha256(concat('{_TOKEN_SALT}', ':',
                    CAST(c_custkey AS VARCHAR))), 1, 16)) AS token
      FROM customer
    ), ords AS (
      SELECT o_orderkey, o_custkey,
             concat('tk_', substr(sha256(concat('{_TOKEN_SALT}', ':',
                    CAST(o_custkey AS VARCHAR))), 1, 16)) AS token
      FROM orders
    ), joined AS (
      SELECT o.o_orderkey,
             CASE WHEN o.token = c.token THEN 1 ELSE 0 END AS consistent
      FROM ords o JOIN cust c ON c.c_custkey = o.o_custkey
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM cust) AS n_keys,
      (SELECT CAST(count(DISTINCT token) AS BIGINT) FROM cust)
        AS n_tokens,
      (SELECT CAST(count(*) AS BIGINT) FROM ords) AS n_orders,
      (SELECT CAST(sum(consistent) AS BIGINT) FROM joined)
        AS n_orders_consistent,
      (SELECT CAST(count(*) AS BIGINT) FROM cust
        WHERE regexp_matches(token, '^tk_[0-9a-f]{{16}}$'))
        AS n_format_ok,
      (SELECT min(token) FROM cust) AS sample_token
    """,
)
def q_priv_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted pseudonymization with a referential-
    integrity audit — the governance step between raw PII and the
    analytics tier: replace every customer key with a salted-hash
    token, in EVERY table that carries the key, such that joins still
    work but the raw identifier is gone.  Tokens are
    ``tk_`` + first 16 hex chars of sha256(salt:key) (static salt —
    the rotating-salt variant is an operational parameter, not a
    different plan).  The audit row certifies the three properties a
    privacy review asks for: no collisions (distinct tokens =
    distinct keys), referential integrity preserved (every order's
    independently-computed token equals its customer dim token —
    cross-table determinism), and format compliance (regex gate on
    every token).

    Exactness: sha256 hex is identical in both engines (Spark
    ``sha2(_, 256)`` / DuckDB ``sha256``); every output is an int64
    count or a min-token string.

    Plan: map-side token derivation in both scans (codegen), one
    broadcast-joined consistency check keyed on the original key, and
    constant-size audit folds.  At 100 TB tokenization is
    embarrassingly parallel; the audit join shuffles on the dim key
    only (or broadcasts when the dim fits)."""
    tok = lambda col: F.concat(  # noqa: E731
        F.lit("tk_"),
        F.substring(
            F.sha2(
                F.concat(
                    F.lit(_TOKEN_SALT), F.lit(":"), col.cast("string")
                ),
                256,
            ),
            1,
            16,
        ),
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", tok(F.col("c_custkey")).alias("token")
    )
    ords = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        tok(F.col("o_custkey")).alias("token"),
    )
    joined = ords.alias("o").join(
        cust.alias("c"),
        F.col("o.o_custkey") == F.col("c.c_custkey"),
    ).select(
        F.when(F.col("o.token") == F.col("c.token"), 1)
        .otherwise(0)
        .alias("consistent")
    )
    cust_audit = cust.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.countDistinct("token").alias("n_tokens"),
        F.sum(
            F.when(
                F.col("token").rlike("^tk_[0-9a-f]{16}$"), 1
            ).otherwise(0)
        ).alias("n_format_ok"),
        F.min("token").alias("sample_token"),
    )
    ord_audit = ords.agg(F.count(F.lit(1)).alias("n_orders"))
    join_audit = joined.agg(
        F.sum("consistent").alias("n_orders_consistent")
    )
    return (
        cust_audit.crossJoin(ord_audit)
        .crossJoin(join_audit)
        .select(
            "n_keys", "n_tokens", "n_orders", "n_orders_consistent",
            "n_format_ok", "sample_token",
        )
    )


@query(
    "q_llm_mixture_temperature",
    oracle="""
    WITH per_lang AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             sum(sqrt(CAST(c AS DOUBLE))) AS z
      FROM per_lang
    )
    SELECT p.lang, p.c AS n_docs, p.chars,
           round(1000.0 * (CAST(p.c AS DOUBLE) / t.n), 2)
             AS natural_permille,
           round(1000.0 * (sqrt(CAST(p.c AS DOUBLE)) / t.z), 2)
             AS sampled_permille,
           round((sqrt(CAST(p.c AS DOUBLE)) / t.z)
                 / (CAST(p.c AS DOUBLE) / t.n), 4) AS effective_epochs
    FROM per_lang p CROSS JOIN tot t
    ORDER BY p.lang
    """,
)
def q_llm_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling weights (tau = 2, i.e.
    p_i^(1/2)) -- the multilingual-LM rebalancing step that upsamples
    tail languages without letting them dominate: sampled share
    proportional to sqrt(count) instead of count, plus the
    effective-epochs ratio (sampled share / natural share -- how many
    times the tail language's data is repeated per head-language
    epoch). Exponent 1/2 is deliberately sqrt, the one power function
    IEEE-754 requires to be CORRECTLY ROUNDED -- so both engines
    compute identical weight doubles (a pow(x, 0.7)-style exponent
    would ride on libm's uncertified pow). The 5-term normalizer sums
    identical doubles (the PSI posture); round-2/round-4 once per
    output.

    Plan: one map-side-combined per-lang aggregate over documents +
    1-row normalizer fold broadcast-crossed back. At 100 TB: one
    shuffle carrying |langs| rows per task."""
    # The |langs|-row aggregate feeds BOTH the normalizer fold and the
    # final projection; eager-checkpoint it so the documents scan+agg
    # executes exactly once (one fact pass at 100 TB).
    per_lang = (
        t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .transform(checkpoint)
    )
    tot = per_lang.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.sqrt(F.col("c").cast("double"))).alias("z"),
    )
    nat = F.col("c").cast("double") / F.col("n")
    samp = F.sqrt(F.col("c").cast("double")) / F.col("z")
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("c").alias("n_docs"),
            "chars",
            F.round(1000.0 * nat, 2).alias("natural_permille"),
            F.round(1000.0 * samp, 2).alias("sampled_permille"),
            F.round(samp / nat, 4).alias("effective_epochs"),
        )
        .orderBy("lang")
    )


_DPM_CLIP = 20_000_000  # per-order contribution clip: 200k dollars, cents
_DPM_SCALE = _DPM_CLIP // 10  # ladder step on the clipped sum (cents)


@query(
    "q_priv_dp_mean",
    oracle=f"""
    WITH clipped AS (
      SELECT o_orderpriority AS grp,
             least({sql_cents('o_totalprice')}, {_DPM_CLIP}) AS cents
      FROM orders
    ), agg AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(CASE WHEN cents = {_DPM_CLIP} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clipped
      FROM clipped GROUP BY grp
    ), seeded AS (
      SELECT *, ({" + ".join(
          f"(instr('0123456789abcdef', substr(md5(concat('dpm:', grp)), {j}, 1)) - 1)"
          f" * {16 ** (6 - j)}"
          for j in range(1, 7)
      )}) % {_DP_M} AS u
      FROM agg
    ), noised AS (
      SELECT grp, n, s, n_clipped,
             CAST((CASE {" ".join(
                 f"WHEN u < {hi} THEN {noise}"
                 for hi, noise in _dp_ladder()
             )} ELSE 0 END) * {_DPM_SCALE} AS BIGINT) AS noise_cents
      FROM seeded
    )
    SELECT grp, n, n_clipped,
           round(CAST(s AS DOUBLE) / n, 2) AS true_mean_cents,
           noise_cents,
           round(CAST(s + noise_cents AS DOUBLE) / n, 2)
             AS dp_mean_cents
    FROM noised ORDER BY grp
    """,
)
def q_priv_dp_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private bounded mean (order value per priority,
    known-n variant): each order's contribution is CLIPPED to 200k
    dollars (the sensitivity bound — and the clip genuinely binds on
    fixture rows, so the clamp branch is exercised), discrete-Laplace
    noise lands on the clipped SUM through the exact integer
    inverse-CDF ladder shared with q_priv_dp_histogram (md5-seeded
    uniform per group — deterministic by design, hash-checkable; a
    deployment swaps only the uniform source for a CSPRNG), scaled by
    C/10 cents per ladder step, and the released mean is
    (S + noise)/n. True mean and clip count ride along because this is
    the release AUDIT. Zero libm anywhere — integers until the final
    per-group division, round-2.

    Plan: one map-side-combined 5-group aggregate over orders (the
    only fact shuffle) + a literal CASE ladder in the projection. At
    100 TB: one shuffle carrying 5 rows per task."""
    clipped = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.least(
            cents(F.col("o_totalprice")),
            F.lit(_DPM_CLIP),
        ).alias("cents"),
    )
    agg = clipped.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum((F.col("cents") == _DPM_CLIP).cast("long"))
        .cast("long")
        .alias("n_clipped"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dpm:"), F.col("grp"))), 1, 6),
            16,
            10,
        ).cast("long")
        % _DP_M
    )
    noise = None
    for hi, nz in _dp_ladder():
        cond = F.col("u") < hi
        noise = F.when(cond, nz) if noise is None else noise.when(cond, nz)
    noise = (noise.otherwise(0) * _DPM_SCALE).cast("long")
    return (
        agg.withColumn("u", u)
        .withColumn("noise_cents", noise)
        .select(
            "grp",
            "n",
            "n_clipped",
            F.round(F.col("s").cast("double") / F.col("n"), 2).alias(
                "true_mean_cents"
            ),
            "noise_cents",
            F.round(
                (F.col("s") + F.col("noise_cents")).cast("double")
                / F.col("n"),
                2,
            ).alias("dp_mean_cents"),
        )
        .orderBy("grp")
    )


@query(
    "q_priv_randomized_response",
    oracle="""
    WITH resp AS (
      SELECT o_orderpriority AS pri,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             CASE WHEN instr('0123456789abcdef',
                       substr(md5(concat('rr:',
                              CAST(o_orderkey AS VARCHAR))), 1, 1)) - 1
                       < 12
                  THEN CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                  ELSE CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END
             END AS r
      FROM orders
    ), g AS (
      SELECT pri,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_true,
             CAST(sum(r) AS BIGINT) AS n_reported_true
      FROM resp GROUP BY pri
    ), est AS (
      SELECT pri, n, n_true, n_reported_true,
             CAST((2 * 1000 * n_true + n) // (2 * n) AS BIGINT)
               AS true_permille,
             2000 * n_reported_true - 500 * n AS a
      FROM g
    )
    SELECT pri, n, n_true, n_reported_true, true_permille,
           CASE WHEN a >= 0
                THEN CAST((2 * a + n) // (2 * n) AS BIGINT)
                ELSE -CAST((2 * (-a) + n) // (2 * n) AS BIGINT)
           END AS est_permille,
           abs(CASE WHEN a >= 0
                    THEN CAST((2 * a + n) // (2 * n) AS BIGINT)
                    ELSE -CAST((2 * (-a) + n) // (2 * n) AS BIGINT)
               END - true_permille) AS abs_err_permille
    FROM est
    """,
)
def q_priv_randomized_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Randomized-response release audit (Warner's mechanism — the
    LOCAL-DP member of the privacy family; dp_histogram/dp_mean are
    central-DP): each order reports its true bit (status = 'F') with
    probability p = 3/4 and the FLIPPED bit otherwise, so any single
    report is plausibly deniable (ε = ln 3); the aggregate debiases as
    π̂ = (obs − (1−p))/(2p − 1) = 2·obs − ½. Per priority class:
    n, true count, reported count, true rate, debiased estimate, and
    |error| — the release audit, in integer permille throughout.

    All-integer exactness: the p = 3/4 coin is the first md5 hex digit
    < 12 (12/16 exactly — the dp_histogram ladder idiom, deterministic
    by design so the mechanism is hash-checkable; production swaps the
    uniform source for a CSPRNG), and the debiased estimate folds as
    half-up integer permille with a sign-safe form (a = 2000·n_rep −
    500·n can be negative in adversarial inputs even though the
    mechanism floors obs at (1−p); the CASE keeps the contract correct
    beyond the fixture — the ADVICE r09 lesson).

    Plan: map-side bit + coin per row, ONE 5-group aggregate — a scan
    plus a constant-size shuffle at any scale."""
    o = t(spark, sf_dir, "orders")
    y = (F.col("o_orderstatus") == "F").cast("long")
    digit = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("rr:"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        )
        .cast("int")
    )
    r = F.when(digit < 12, y).otherwise(1 - y)
    g = o.select(
        F.col("o_orderpriority").alias("pri"),
        y.alias("y"),
        r.alias("r"),
    ).groupBy("pri").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_true"),
        F.sum("r").alias("n_reported_true"),
    )
    est = g.select(
        "pri",
        "n",
        "n_true",
        "n_reported_true",
        F.expr(
            "CAST((2 * 1000 * n_true + n) DIV (2 * n) AS BIGINT)"
        ).alias("true_permille"),
        (2000 * F.col("n_reported_true") - 500 * F.col("n")).alias("a"),
    )
    half_up = F.when(
        F.col("a") >= 0,
        F.expr("CAST((2 * a + n) DIV (2 * n) AS BIGINT)"),
    ).otherwise(-F.expr("CAST((2 * (-a) + n) DIV (2 * n) AS BIGINT)"))
    return est.select(
        "pri",
        "n",
        "n_true",
        "n_reported_true",
        "true_permille",
        half_up.alias("est_permille"),
        F.abs(half_up - F.col("true_permille")).alias(
            "abs_err_permille"
        ),
    )


@query(
    "q_priv_dp_topk",
    oracle=f"""
    WITH true_counts AS (
      SELECT source, lang, count(*) AS true_n
      FROM documents GROUP BY 1, 2
    ), seeded AS (
      SELECT source, lang, true_n,
             ({" + ".join(
                 f"(instr('0123456789abcdef', substr(md5(concat('dptopk:', source, ':', lang)), {j}, 1)) - 1)"
                 f" * {16 ** (6 - j)}"
                 for j in range(1, 7)
             )}) % {_DP_M} AS u
      FROM true_counts
    ), noised AS (
      SELECT source, lang, true_n,
             CASE {" ".join(
                 f"WHEN u < {hi} THEN {noise}"
                 for hi, noise in _dp_ladder()
             )} ELSE 0 END AS noise
      FROM seeded
    ), ranked AS (
      SELECT source, lang, true_n, noise,
             greatest(true_n + noise, 0) AS noisy_n,
             row_number() OVER (ORDER BY true_n + noise DESC,
                                source ASC, lang ASC) AS rnk
      FROM noised
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN NOT (rnk <= 10 AND noisy_n >= 25)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed
      FROM ranked
    )
    SELECT r.rnk AS rank, r.source, r.lang,
           CAST(r.true_n AS BIGINT) AS true_n,
           CAST(r.noise AS BIGINT) AS noise,
           CAST(r.noisy_n AS BIGINT) AS released_n,
           t.n_groups, t.n_suppressed
    FROM ranked r CROSS JOIN tot t
    WHERE r.rnk <= 10 AND r.noisy_n >= 25
    """,
)
def q_priv_dp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private TOP-K selection with a stability
    threshold — the SELECTION member of the privacy family
    (dp_histogram releases every cell, dp_mean one scalar, randomized
    response per-row bits; nothing answered \"WHICH categories are safe
    to name\"): (source, lang) document counts get discrete-Laplace
    noise from the house exact integer inverse-CDF ladder (md5-seeded,
    salt 'dptopk:' — deterministic by design so the mechanism is
    hash-checkable; production swaps the uniform source for a CSPRNG),
    the top-10 by NOISY count are selected, and a suppression floor
    (noisy ≥ 25) drops unstable small groups — the peeling-mechanism /
    SVT shape: rank on noise, never on the raw counts, so the released
    ORDER itself leaks only noised information. True counts ride along
    because this key is the release AUDIT, not the release.

    Plan: one corpus-scale (source, lang) aggregation (map-side
    combined — the only fact shuffle), the noise ladder as a literal
    CASE chain in the projection, one window over the
    dimension-bounded group relation, and a 1-row totals fold
    broadcast-crossed into the ≤10-row release."""
    true_counts = (
        t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dptopk:"),
                        F.col("source"),
                        F.lit(":"),
                        F.col("lang"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % _DP_M
    )
    noise = None
    for hi, nz in _dp_ladder():
        cond = F.col("u") < hi
        noise = F.when(cond, nz) if noise is None else noise.when(cond, nz)
    noised = true_counts.withColumn("u", u).select(
        "source",
        "lang",
        "true_n",
        noise.otherwise(0).cast("long").alias("noise"),
    )
    w = Window.orderBy(
        (F.col("true_n") + F.col("noise")).desc(),
        F.asc("source"),
        F.asc("lang"),
    )
    ranked = noised.select(
        "source",
        "lang",
        "true_n",
        "noise",
        F.greatest(F.col("true_n") + F.col("noise"), F.lit(0))
        .cast("long")
        .alias("noisy_n"),
        F.row_number().over(w).alias("rank"),
    ).transform(checkpoint)  # feeds the totals fold AND the release filter
    sel = (F.col("rank") <= 10) & (F.col("noisy_n") >= 25)
    tot = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((~sel).cast("long")).cast("long").alias("n_suppressed"),
    )
    return (
        ranked.filter(sel)
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "source",
            "lang",
            "true_n",
            "noise",
            F.col("noisy_n").alias("released_n"),
            "n_groups",
            "n_suppressed",
        )
    )


@query(
    "q_priv_dp_quantile",
    oracle=f"""
    WITH binned AS (
      SELECT {sql_cents('o_totalprice')}
             // 1000000 AS bin,
             count(*) AS n_b
      FROM orders GROUP BY 1
    ), cum AS (
      SELECT bin, CAST(n_b AS BIGINT) AS bin_n,
             CAST(sum(n_b) OVER (ORDER BY bin) AS BIGINT) AS cum_n,
             CAST(sum(n_b) OVER () AS BIGINT) AS n_tot
      FROM binned
    ), util AS (
      SELECT bin, bin_n, cum_n, n_tot,
             -abs(2 * cum_n - n_tot) AS u2
      FROM cum
    ), jittered AS (
      SELECT bin, bin_n, cum_n, u2,
             1000 * u2 + (
               (instr('0123456789abcdef', substr(md5(concat('dpq:', CAST(bin AS VARCHAR))), 1, 1)) - 1) * 64
             + (instr('0123456789abcdef', substr(md5(concat('dpq:', CAST(bin AS VARCHAR))), 2, 1)) - 1) * 4
             + (instr('0123456789abcdef', substr(md5(concat('dpq:', CAST(bin AS VARCHAR))), 3, 1)) - 1) % 4
             ) AS score
      FROM util
    ), ranked AS (
      SELECT bin, bin_n, cum_n, u2, score,
             CAST(row_number() OVER (ORDER BY score DESC, bin ASC)
                  AS BIGINT) AS rnk
      FROM jittered
    )
    SELECT rnk AS rank, bin, bin_n, cum_n,
           CAST(u2 AS BIGINT) AS utility2,
           CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS BIGINT)
               AS released
    FROM ranked WHERE rnk <= 5 ORDER BY rnk
    """,
)
def q_priv_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private QUANTILE release audit via the
    exponential mechanism - the fifth privacy member (histogram
    releases cells, dp_mean a scalar, dp_topk a selection, randomized
    response per-row bits; nothing released an ORDER STATISTIC, the
    thing median-salary / median-spend dashboards publish): candidate
    bins are $10k order-value buckets, the classical median utility
    u(b) = -|rank(b) - n/2| is carried DOUBLED
    (u2 = -|2*cum - n|, exact int64 - no halves), and the mechanism's
    weight exp(eps*u/2) is audited in its deterministic eps -> inf
    limit: the released bin is the utility argmax, with an md5-seeded
    jitter (scale 1000 per utility unit; the nibble arithmetic
    15*64 + 15*4 + 15%4 maxes at 1023, i.e. the jitter may exceed one
    scale unit) standing in for the sampler so the release is
    hash-checkable. The argmax invariant survives NOT because the
    jitter is sub-unit but because the DOUBLED utility u2 makes the
    minimum nonzero score gap 2*1000 = 2000 > 1023 — any edit that
    un-doubles the utility or reuses this jitter against a unit-step
    score must first re-check jitter_max < score_gap.
    True counts ride along because this key is the release AUDIT.

    Determinism/exactness: all-integer - bin counts, running ranks,
    doubled utilities, seeded jitter; the top-5 utility ladder shows
    the mechanism's alternatives (what a finite eps would trade).

    Plan: one corpus-scale bin aggregate (map-side combined), running
    windows over the ~60-row bin relation, top-5. One fact shuffle at
    any SF."""
    o = t(spark, sf_dir, "orders")
    binned = (
        o.select(
            F.expr(
                f"{sql_cents('o_totalprice')}"
                " DIV 1000000"
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = binned.select(
        "bin",
        F.col("n_b").cast("long").alias("bin_n"),
        F.sum("n_b").over(w_cum).cast("long").alias("cum_n"),
        F.sum("n_b").over(w_all).cast("long").alias("n_tot"),
    )
    u2 = -F.abs(2 * F.col("cum_n") - F.col("n_tot"))
    seed = F.md5(F.concat(F.lit("dpq:"), F.col("bin").cast("string")))
    # conv() of one hex char == the oracle's instr()-1 nibble lookup
    jitter = (
        (F.conv(F.substring(seed, 1, 1), 16, 10).cast("long")) * 64
        + (F.conv(F.substring(seed, 2, 1), 16, 10).cast("long")) * 4
        + (F.conv(F.substring(seed, 3, 1), 16, 10).cast("long")) % 4
    )
    jittered = cum.select(
        "bin",
        "bin_n",
        "cum_n",
        u2.alias("u2"),
        (1000 * u2 + jitter).alias("score"),
    )
    w_rank = Window.orderBy(F.desc("score"), F.asc("bin"))
    ranked = jittered.select(
        "bin",
        "bin_n",
        "cum_n",
        "u2",
        F.row_number().over(w_rank).cast("long").alias("rnk"),
    )
    return (
        ranked.filter(F.col("rnk") <= 5)
        .select(
            F.col("rnk").alias("rank"),
            "bin",
            "bin_n",
            "cum_n",
            F.col("u2").cast("long").alias("utility2"),
            F.when(F.col("rnk") == 1, 1).otherwise(0).cast("long").alias(
                "released"
            ),
        )
        .orderBy("rank")
    )
