"""Near-duplicate cluster resolution: connected components over the
exact-Jaccard near-dup pair graph (SURVEY.md §2.8 family).

Pairwise near-dup detection is only half of corpus dedup — transitive
chains (A~B, B~C but A!~C) must collapse into ONE keep-decision, which
is a connected-components problem. The production pipelines behind the
big open corpora (CCNet / SlimPajama-style) all end their MinHash stage
with exactly this step.

Spark side: Pregel-style min-label propagation — each node repeatedly
takes the min label over itself and its neighbors until a fixpoint.
Deterministic (converges to the component-min doc_id regardless of
execution order), needs O(diameter) rounds; near-dup components are
clique-like, so the diameter is small. Each round is one shuffle keyed
on node id; lineage is cut per round so the plan doesn't snowball. At
100 TB scale the same loop runs with the large-star/small-star
contraction refinement (fewer rounds on high-diameter graphs); the
fixpoint-loop structure is identical.

DuckDB oracle: recursive transitive closure (UNION-distinct fixpoint)
with the min-label aggregation OUTSIDE the recursive term (standard SQL
forbids aggregates inside), over the same Jaccard >= 0.8 edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from khose_spark import memo
from khose_spark.memo import checkpoint
from khose_spark.operators.llm import (
    _SQL_ALL_PAIRS_OVERLAP,
    _sql_shingles,
    q_llm_neardup_jaccard,
)
from khose_spark.registry import query
from khose_spark.tables import t

# sh feeds sizes AND inter (and inter self-joins it): MATERIALIZED
# stops DuckDB re-evaluating the shingle explode per reference, and the
# pair list is re-read by both directions of sym (11.3s -> ~1s at
# sf0.1; the k-core/triangles oracle precedent).
_JACCARD_EDGES_CTES = f"""{_sql_shingles(cte="sh AS MATERIALIZED")},
    {_SQL_ALL_PAIRS_OVERLAP}, pairs AS MATERIALIZED (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    )
"""


def connected_components(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """(node, rep) for every node in ``edges`` (cols id_a, id_b), where
    rep is the minimum node id of its connected component.

    Min-label propagation to fixpoint. The per-round convergence probe
    (one scalar count per round) is driver-side by design — iterative
    graph algorithms are the documented exception to the no-driver-loop
    rule; the data itself never leaves the executors."""
    sym = edges.select(
        F.col("id_a").alias("node"), F.col("id_b").alias("peer")
    ).unionAll(edges.select(F.col("id_b").alias("node"), F.col("id_a").alias("peer")))
    # localCheckpoint (not persist): each round's result is materialized
    # and its LOGICAL PLAN replaced by a scan of the materialized blocks,
    # so round N's plan doesn't embed rounds 1..N-1 — without this the
    # lineage (and the plan string) grows by two joins per round.
    sym = checkpoint(sym)
    # Seed: min over self + direct neighbors (round 1 done in the seed).
    labels = (
        sym.groupBy("node")
        .agg(F.min("peer").alias("rep"))
        .select("node", F.least("rep", F.col("node")).alias("rep"))
        .transform(checkpoint)
    )
    for _ in range(max_rounds):
        peer_reps = (
            sym.join(labels.withColumnRenamed("node", "peer"), "peer")
            .groupBy("node")
            .agg(F.min("rep").alias("peer_rep"))
        )
        new_labels = (
            labels.join(peer_reps, "node", "left")
            .select(
                "node",
                F.least(
                    "rep", F.coalesce("peer_rep", F.col("rep"))
                ).alias("rep"),
            )
            .transform(checkpoint)
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("rep", "old_rep"), "node"
            )
            .filter(F.col("rep") != F.col("old_rep"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")


# SQL twin of :func:`connected_components` over the Jaccard edges:
# every doc with a near-dup edge labelled by the minimum doc_id it
# reaches.
_SQL_JACCARD_LABELS = f"""
    WITH RECURSIVE {_JACCARD_EDGES_CTES},
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    node_reach AS (
      SELECT a, b FROM reach
      UNION SELECT DISTINCT a, a FROM sym
    ),
    labels AS (
      SELECT a AS doc_id, min(b) AS rep FROM node_reach GROUP BY a
    )"""


@query(
    "q_llm_dedup_clusters",
    oracle=f"""
{_SQL_JACCARD_LABELS}
    SELECT rep AS cluster_rep, count(*) AS n_docs,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM labels GROUP BY rep
    """,
)
def q_llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse exact-Jaccard near-dup pairs (>= 0.8) into dedup
    clusters via connected components; per cluster emit the canonical
    keeper (min doc_id), the cluster size, and how many documents a
    keep-one policy drops. Singleton documents (no near-dup edge) are
    not cluster members and are absent by construction."""
    pairs = q_llm_neardup_jaccard(spark, sf_dir).select("id_a", "id_b")
    labels = connected_components(pairs)
    return labels.groupBy(F.col("rep").alias("cluster_rep")).agg(
        F.count("*").alias("n_docs"),
        (F.count("*") - 1).cast("long").alias("n_dropped"),
    )


@query(
    "q_llm_dedup_apply",
    oracle=f"""
{_SQL_JACCARD_LABELS},
    drops AS (
      SELECT doc_id FROM labels WHERE doc_id != rep
    )
    SELECT lang,
           count(*) FILTER (WHERE drops.doc_id IS NULL) AS n_kept,
           count(*) FILTER (WHERE drops.doc_id IS NOT NULL) AS n_dropped,
           CAST(sum(n_chars) FILTER (WHERE drops.doc_id IS NULL)
                AS BIGINT) AS chars_kept
    FROM documents LEFT JOIN drops USING (doc_id)
    GROUP BY lang
    """,
)
def q_llm_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline APPLIED: run clustering, drop every cluster
    member except the min-doc_id keeper, and report the per-language
    retention audit (kept/dropped doc counts, kept chars) — the actual
    output contract of a corpus dedup stage. The drop list is one row
    per discarded doc (tiny vs the corpus) and anti-joins back into
    documents as a broadcast."""
    pairs = q_llm_neardup_jaccard(spark, sf_dir).select("id_a", "id_b")
    labels = connected_components(pairs)
    drops = labels.filter(F.col("node") != F.col("rep")).select(
        F.col("node").alias("doc_id")
    )
    docs = t(spark, sf_dir, "documents").join(
        F.broadcast(drops.withColumn("dropped", F.lit(1))), "doc_id", "left"
    )
    kept = F.col("dropped").isNull()
    return docs.groupBy("lang").agg(
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.col("dropped").isNotNull().cast("long")).alias("n_dropped"),
        F.sum(F.when(kept, F.col("n_chars"))).alias("chars_kept"),
    )


_PR_ITERS = 3


def _pagerank_oracle() -> str:
    """Unrolled 3-iteration PageRank twin over the customer<->supplier
    trade graph: each iteration sums in-neighbor rank/outdeg, applies
    damping 0.85 + teleport, and ROUNDS the new rank to 10 decimals —
    the per-iteration rounding re-syncs both engines' floats exactly as
    in the k-means oracle (similarity.py), so drift cannot compound."""
    # edges/outdeg/nodes and every r{it} are referenced by multiple
    # downstream CTEs; MATERIALIZED stops DuckDB re-inlining the whole
    # fact-join chain per reference (32.8s -> sub-second at sf0.1; the
    # k-core/triangles oracle precedent).
    sql = """
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT 'C' || o_custkey AS c, 'S' || l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), edges AS MATERIALIZED (
      SELECT c AS src, s AS dst FROM pairs
      UNION ALL
      SELECT s AS src, c AS dst FROM pairs
    ), outdeg AS MATERIALIZED (
      SELECT src, count(*) AS od FROM edges GROUP BY src
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT src AS node FROM edges
      UNION
      SELECT DISTINCT dst AS node FROM edges
    ), n AS (
      SELECT count(*) AS n_nodes FROM nodes
    ), r0 AS MATERIALIZED (
      SELECT node, round(1.0 / n_nodes, 10) AS r FROM nodes CROSS JOIN n
    )"""
    prev = "r0"
    for it in range(1, _PR_ITERS + 1):
        sql += f""", dang{it} AS (
      SELECT coalesce(sum(r), 0.0) AS dang
      FROM {prev} LEFT JOIN outdeg ON node = src WHERE src IS NULL
    ), contrib{it} AS (
      SELECT e.dst AS node, sum(p.r / o.od) AS c
      FROM edges e
      JOIN {prev} p ON p.node = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    ), r{it} AS MATERIALIZED (
      SELECT nd.node,
             round(0.15 / n_nodes
                   + 0.85 * (coalesce(c.c, 0.0) + dang / n_nodes),
                   10) AS r
      FROM nodes nd
      CROSS JOIN n CROSS JOIN dang{it}
      LEFT JOIN contrib{it} c ON c.node = nd.node
    )"""
        prev = f"r{it}"
    sql += f"""
    SELECT node, coalesce(od, 0) AS n_out, pagerank, rk FROM (
      SELECT node, r AS pagerank,
             row_number() OVER (ORDER BY r DESC, node ASC) AS rk
      FROM {prev}
    ) ranked LEFT JOIN outdeg ON ranked.node = outdeg.src
    WHERE rk <= 20
    """
    return sql


@query("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed power iterations) over the
    bipartite customer<->supplier trade graph (an edge per distinct
    (custkey, suppkey) pair that traded, both directions): top-20 nodes
    by rank with out-degree — the second fully-oracled ITERATIVE
    algorithm after q_llm_kmeans, proving the unrolled-CTE hash-check
    technique generalizes beyond centroid loops to graph propagation.

    Determinism contract: every iteration's rank is ROUNDED to 10
    decimals before the next propagation (rank sums are continuous, so
    round(10) is hash-stable per the sqlutil law, and per-iteration
    rounding re-syncs both engines' floats so reorder noise cannot
    compound); the top-20 cut totals-orders on (rank DESC, node ASC).

    Scale shape: the edge list is the only corpus-scale relation — it
    is DISTINCT-deduped once, persisted, and re-joined per iteration
    keyed on src (at cluster scale: pre-partitioned by src once and
    reused across all iterations, the standard Pregel layout); ranks
    and outdeg are node-sized.  Each iteration costs exactly one
    dst-keyed aggregation shuffle plus node-sized joins; the dangling
    mass and 1/N teleport ride along as 1-row broadcast crosses, and
    the final top-20 is a TakeOrderedAndProject (no global sort, no
    whole-keyspace window)."""
    # The distinct (custkey, suppkey) pair list IS the shared
    # _trade_edges memo — derive the prefixed directed variant from it
    # instead of re-running the fact join (one fact shuffle per session
    # for the whole graph family, not one per query).
    pairs = _trade_edges(spark, sf_dir).select(
        F.concat(F.lit("C"), F.col("custkey")).alias("c"),
        F.concat(F.lit("S"), F.col("suppkey")).alias("s"),
    )
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .persist()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od")).persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_row = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    ranks = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", F.round(F.lit(1.0) / F.col("n_nodes"), 10).alias("r")
    )
    for _ in range(_PR_ITERS):
        dang = (
            ranks.join(outdeg, ranks.node == outdeg.src, "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dang"))
        )
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outdeg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("od")).alias("c"))
        )
        # Cut lineage per iteration (the connected_components idiom
        # above): ranks is referenced twice next round (dangling +
        # contributions), so an uncut chain re-embeds the whole prior
        # iteration per consumer — measured 725 Exchange nodes in the
        # 3-iteration plan vs ~10 with the checkpoint. Node-sized, so
        # the materialization cost is trivial.
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(F.broadcast(n_row))
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.round(
                    F.lit(0.15) / F.col("n_nodes")
                    + F.lit(0.85)
                    * (F.coalesce(F.col("c"), F.lit(0.0))
                       + F.col("dang") / F.col("n_nodes")),
                    10,
                ).alias("r"),
            )
            .transform(checkpoint)
        )
    from pyspark.sql import Window

    top = (
        ranks.join(outdeg, ranks.node == outdeg.src, "left")
        .select(
            "node",
            F.coalesce(F.col("od"), F.lit(0)).alias("n_out"),
            F.col("r").alias("pagerank"),
        )
        .orderBy(F.desc("pagerank"), F.asc("node"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("pagerank"), F.asc("node"))
    out = (
        top.withColumn("rk", F.row_number().over(w))
        .select("node", "n_out", "pagerank", "rk")
        # Eagerly materialize the 20-row answer, then release the three
        # graph-sized caches instead of pinning them for the session.
        .transform(checkpoint)
    )
    for df in (edges, outdeg, nodes):
        df.unpersist()
    return out


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (custkey, suppkey) trade edges from lineitem ⋈ orders —
    the shared bipartite edge list for the co-occurrence and
    neighborhood-similarity queries (q_graph_pagerank builds its own
    C-/S-prefixed directed variant). Persisted: every consumer feeds it
    to multiple downstream stages (degree agg + both self-join sides).
    Memoized per (application, sf_dir) so the two consumers running in
    one session share ONE cached relation instead of each persisting
    its own copy (ADVICE round 4)."""

    def build() -> DataFrame:
        li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        orders = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        return (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .select(
                F.col("o_custkey").alias("custkey"),
                F.col("l_suppkey").alias("suppkey"),
            )
            .distinct()
            .persist()
        )

    return memo.get(spark, "trade_edges", sf_dir, build)


_COOC_DEG_CAP = 50
_COOC_MIN_SHARED = 5


def _capped_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_a, s_b, n, aa): per supplier-pair, the shared-customer count
    and the Adamic–Adar mass sum(1/ln(deg(c))) over deg<=50 customers —
    the ONE capped customer-keyed pair self-join that
    q_graph_cooccurrence, q_graph_adamic_adar and the 3-NN backbone
    (via _knn_backbone, i.e. the whole LPA/k-core/clustering family)
    would otherwise each rebuild identically per query (guide §2.4: two
    operations keyed the same way share one exchange — here three
    operators share one pair explosion). Eagerly checkpointed and
    memoized per (application, sf_dir) in khose_spark.memo.

    Semantics per consumer are UNCHANGED (oracle-hash-certified):
    - n is exactly cooccurrence's n_shared / adamic_adar's n_common /
      the backbone's edge weight (same deg<=50 cap, same a<b pairing);
    - aa rides the identical groupBy the count already pays — the same
      per-pair float sum adamic_adar's own aggregation performed, with
      the same round(4) applied downstream by its consumer.
    deg >= 2 for any shared customer, so 1/ln(deg) is total."""

    def build() -> DataFrame:
        edges = _trade_edges(spark, sf_dir)
        cdeg = edges.groupBy("custkey").agg(F.count(F.lit(1)).alias("deg"))
        # Broadcast the capped degree dim WITH its deg column: the cap
        # filter and the per-customer degree lookup ride one map-side
        # join (the r13 adamic_adar rewiring, shared by all three
        # consumers).
        capped = edges.join(
            F.broadcast(cdeg.filter(F.col("deg") <= _COOC_DEG_CAP)),
            "custkey",
        )
        a = capped.alias("a")
        b = capped.alias("b")
        return (
            a.join(
                b,
                (F.col("b.custkey") == F.col("a.custkey"))
                & (F.col("a.suppkey") < F.col("b.suppkey")),
            )
            .select(
                F.col("a.suppkey").alias("s_a"),
                F.col("b.suppkey").alias("s_b"),
                F.col("a.deg").alias("deg"),
            )
            .groupBy("s_a", "s_b")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.lit(1.0) / F.log(F.col("deg").cast("double"))
                ).alias("aa"),
            )
            .transform(checkpoint)
        )

    return memo.get(spark, "capped_pair_stats", sf_dir, build)


@query(
    "q_graph_cooccurrence",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), deg AS (
      SELECT custkey, count(*) AS d FROM edges GROUP BY custkey
    ), capped AS (
      SELECT e.custkey, e.suppkey FROM edges e
      JOIN deg ON deg.custkey = e.custkey
      WHERE deg.d <= {_COOC_DEG_CAP}
    ), pairs AS (
      SELECT a.suppkey AS s_a, b.suppkey AS s_b, count(*) AS n_shared
      FROM capped a JOIN capped b
        ON a.custkey = b.custkey AND a.suppkey < b.suppkey
      GROUP BY 1, 2
    )
    SELECT s_a, s_b, n_shared FROM pairs
    WHERE n_shared >= {_COOC_MIN_SHARED}
    ORDER BY n_shared DESC, s_a, s_b
    LIMIT 20
    """,
)
def q_graph_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence mining (market-basket shape) on the trade graph:
    top-20 supplier pairs by number of shared customers. The classic
    item-item co-occurrence join — the first stage of collaborative
    filtering and of co-citation/co-purchase graph construction.

    Scale posture: the pair join explodes quadratically PER CUSTOMER,
    so high-degree customers are capped (deg <= 50) before pairing —
    the standard frequency-cap that bounds the blow-up to deg*cap per
    row (at 100 TB you'd also hash-bucket the remaining hot keys). The
    cap is part of the CONTRACT (both engines apply it), not a silent
    truncation; the distinct edge list is one shuffle, the pair count
    one more on (s_a, s_b), and the top-20 is TakeOrdered with
    deterministic (count desc, pair asc) ordering — no global sort."""
    # One pair self-join per session for cooccurrence + adamic_adar +
    # the 3-NN backbone family: the shared _capped_pair_stats memo.
    pairs = _capped_pair_stats(spark, sf_dir).select(
        "s_a", "s_b", F.col("n").alias("n_shared")
    ).filter(F.col("n_shared") >= _COOC_MIN_SHARED)
    return pairs.orderBy(F.desc("n_shared"), "s_a", "s_b").limit(20)


@query(
    "q_graph_supplier_similarity",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), deg AS (
      SELECT suppkey, count(*) AS d FROM edges GROUP BY suppkey
    ), inter AS (
      SELECT a.suppkey AS s_a, b.suppkey AS s_b, count(*) AS n_common
      FROM edges a JOIN edges b
        ON a.custkey = b.custkey AND a.suppkey < b.suppkey
      GROUP BY 1, 2
    ), scored AS (
      SELECT s_a, s_b, n_common, da.d AS deg_a, db.d AS deg_b,
             CAST((2 * n_common * 1000 + (da.d + db.d - n_common))
                  // (2 * (da.d + db.d - n_common)) AS BIGINT)
                 AS jaccard_permille
      FROM inter
      JOIN deg da ON da.suppkey = s_a
      JOIN deg db ON db.suppkey = s_b
    )
    SELECT s_a, s_b, n_common, deg_a, deg_b, jaccard_permille
    FROM scored
    ORDER BY jaccard_permille DESC, s_a, s_b
    LIMIT 20
    """,
)
def q_graph_supplier_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph node similarity: top-20 supplier pairs by Jaccard overlap
    of their customer neighborhoods (half-up integer permille) — the
    neighborhood-similarity primitive behind
    entity resolution and link prediction, and the normalized sibling
    of q_graph_cooccurrence's raw co-counts.

    Plan: one distinct edge shuffle, a degree agg, the custkey-keyed
    pair self-join (bounded per key by customer fan-out — the same
    blow-up q_graph_cooccurrence caps), then two broadcast degree
    lookups and a TakeOrdered top-20. All-integer similarity — no
    float ratio exists; absolute Jaccard levels shrink as the graph
    densifies with scale, so the contract ranks rather than
    thresholds."""
    edges = _trade_edges(spark, sf_dir)
    deg = edges.groupBy("suppkey").agg(F.count(F.lit(1)).alias("d"))
    a = edges.alias("a")
    b = edges.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.custkey") == F.col("b.custkey"))
            & (F.col("a.suppkey") < F.col("b.suppkey")),
        )
        .groupBy(
            F.col("a.suppkey").alias("s_a"), F.col("b.suppkey").alias("s_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("suppkey").alias("s_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("suppkey").alias("s_b"), F.col("d").alias("deg_b"))
    scored = (
        inter.join(F.broadcast(da), "s_a")
        .join(F.broadcast(db), "s_b")
        .withColumn(
            "jaccard_permille",
            F.expr(
                "CAST((2 * n_common * 1000 + (deg_a + deg_b - n_common))"
                " DIV (2 * (deg_a + deg_b - n_common)) AS BIGINT)"
            ),
        )
    )
    return scored.select(
        "s_a", "s_b", "n_common", "deg_a", "deg_b", "jaccard_permille"
    ).orderBy(F.desc("jaccard_permille"), "s_a", "s_b").limit(20)


# Edge admission threshold for the nation trade graph: a nation pair is
# connected when it carries >= 2 permille of ALL lineitems (uniform
# expectation over the 25x25 grid is ~1.6 permille, so the threshold
# keeps roughly the heavier half of the pairs and the graph is neither
# empty nor complete at any fixture sf).
_TRI_PERMILLE = 2


@query(
    "q_graph_triangles",
    oracle=f"""
    WITH flows AS MATERIALIZED (
      SELECT c.c_nationkey AS cn, s.s_nationkey AS sn, count(*) AS cnt
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ), total AS (
      SELECT sum(cnt) AS total_cnt FROM flows
    ), pairs AS (
      SELECT least(cn, sn) AS a, greatest(cn, sn) AS b, sum(cnt) AS cnt
      FROM flows WHERE cn <> sn GROUP BY 1, 2
    ), edges AS MATERIALIZED (
      -- both MATERIALIZED (the k-core oracle precedent): tris
      -- references edges 3x and each inlined copy would re-evaluate
      -- pairs+total+flows — the full fact join ran ~7x (393s at sf0.1
      -- vs 1.4s materialized) for a <=300-row edge list
      SELECT a, b FROM pairs, total
      WHERE cnt * 1000 >= total_cnt * {_TRI_PERMILLE}
    ), tris AS (
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ), members AS (
      SELECT a AS nk FROM tris
      UNION ALL SELECT b FROM tris
      UNION ALL SELECT c FROM tris
    ), tri_counts AS (
      SELECT nk, count(*) AS n_triangles FROM members GROUP BY 1
    ), degrees AS (
      SELECT nk, count(*) AS degree
      FROM (SELECT a AS nk FROM edges UNION ALL SELECT b FROM edges)
      GROUP BY 1
    )
    SELECT n.n_name, d.degree,
           CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN d.degree < 2 THEN 0
                ELSE (2000 * 2 * coalesce(tc.n_triangles, 0)
                      + d.degree * (d.degree - 1))
                     // (2 * d.degree * (d.degree - 1)) END AS BIGINT)
               AS clustering_permille
    FROM degrees d
    LEFT JOIN tri_counts tc ON tc.nk = d.nk
    JOIN nation n ON n.n_nationkey = d.nk
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the nation-level trade graph (nations are
    connected when their customer->supplier flow carries >= 2 permille of
    all lineitems): per-nation degree, triangle membership count, and
    local clustering coefficient 2T/(d(d-1)) as half-up integer
    permille — the community-density primitives (triangle counts and
    clustering coefficients feed spam/anomaly detection in every graph
    analytics stack).

    The admission threshold is a SHARE, not an absolute count, so the
    graph stays comparable across scale factors; the exact integer
    permille test (cnt*1000 >= total*2) has no float surface.

    Scale: the fact table collapses to the 25x25 nation-flow grid in one
    aggregate (customer/supplier dims broadcast; the lineitem-orders
    fact-fact join is the only big shuffle); everything after — the
    1-row total broadcast cross, the triangle enumeration (three-way
    self-join with a < b < c canonical ordering, so each triangle is
    found exactly once), and the membership aggregate — runs on a
    <=300-row edge list. At 100 TB the nation grid is still 625 rows:
    triangle cost is independent of data volume for a bounded-domain
    graph; for open-domain graphs (user-user) the same plan shape runs
    over a degree-capped edge list (q_graph_cooccurrence's cap)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    flows = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("cn"), F.col("s_nationkey").alias("sn")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    total = flows.agg(F.sum("cnt").alias("total_cnt"))
    pairs = (
        flows.filter(F.col("cn") != F.col("sn"))
        .groupBy(
            F.least("cn", "sn").alias("a"), F.greatest("cn", "sn").alias("b")
        )
        .agg(F.sum("cnt").alias("cnt"))
    )
    # localCheckpoint (eager) rather than persist: the <=300-row edge
    # list feeds THREE self-join sides, and checkpointing cuts the
    # flows/total lineage out of the triangle plan (which would
    # otherwise embed the fact-join subplan 3x in the plan string).
    edges = (
        pairs.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 1000 >= F.col("total_cnt") * _TRI_PERMILLE)
        .select("a", "b")
        .transform(checkpoint)
    )
    # edges is now materialized; the fact-scale flows cache has served
    # both its consumers (total + pairs) and can be released.
    flows.unpersist()
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tris = (
        e1.join(F.broadcast(e2), F.col("e2.a") == F.col("e1.b"))
        .join(
            F.broadcast(e3),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    members = (
        tris.select(F.col("a").alias("nk"))
        .unionAll(tris.select(F.col("b").alias("nk")))
        .unionAll(tris.select(F.col("c").alias("nk")))
    )
    tri_counts = members.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    degrees = (
        edges.select(F.col("a").alias("nk"))
        .unionAll(edges.select(F.col("b").alias("nk")))
        .groupBy("nk")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        degrees.join(F.broadcast(tri_counts), "nk", "left")
        .join(F.broadcast(nation), F.col("nk") == F.col("n_nationkey"))
        .select(
            "n_name",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
        )
    )
    # Local clustering coefficient 2T/(d(d-1)) as half-up integer
    # permille; degree-1 nodes close no wedges (coefficient 0).
    wedges = F.col("degree") * (F.col("degree") - 1)
    return joined.select(
        "n_name",
        "degree",
        "n_triangles",
        F.when(F.col("degree") < 2, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST((2000 * 2 * n_triangles + degree * (degree - 1))"
                " DIV (2 * degree * (degree - 1)) AS BIGINT)"
            )
        )
        .alias("clustering_permille"),
    )


@query(
    "q_graph_adamic_adar",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), cdeg AS (
      SELECT custkey, count(*) AS deg FROM edges GROUP BY 1
    ), pairs AS (
      SELECT a.suppkey AS s_a, b.suppkey AS s_b, a.custkey
      FROM edges a
      JOIN edges b ON b.custkey = a.custkey AND a.suppkey < b.suppkey
      JOIN cdeg d ON d.custkey = a.custkey AND d.deg <= 50
    )
    SELECT s_a, s_b,
           count(*) AS n_common,
           round(sum(1.0 / ln(CAST(d.deg AS DOUBLE))), 4) AS aa_score
    FROM pairs p JOIN cdeg d ON d.custkey = p.custkey
    GROUP BY 1, 2
    ORDER BY aa_score DESC, s_a, s_b
    LIMIT 20
    """,
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the customer↔supplier trade
    graph: top-20 supplier pairs scored by sum(1/ln(deg(c))) over their
    shared customers — the common-neighbor score that discounts
    promiscuous hubs (a customer buying from everyone says little; a
    two-supplier customer says a lot), one rung above the raw
    co-occurrence count (q_graph_cooccurrence) and Jaccard
    (q_graph_supplier_similarity) in the link-prediction ladder.

    Shared customers connect to BOTH endpoints, so deg >= 2 and
    ln(deg) >= ln 2 — the score is total (no division-by-zero edge).
    Degrees are exact integers, 1/ln(deg) is identical in both engines
    (the surprisal ln precedent), and the sum is continuous under
    round(4); ranking ties break on the integer pair.

    Scale: the q_graph_cooccurrence posture — distinct edge list (one
    fact shuffle, shared via the memoized _trade_edges cache), a
    degree-capped (<=50) customer-keyed self-join bounding pair fan-out
    to deg^2 per customer, and a TakeOrdered top-20. The degree cap is
    the documented production contract for open-degree graphs, not a
    truncation: hub customers carry ~zero AA signal by design."""
    # r13 (guide §2.3/§3): the deg <= 50 cap commutes with the pair
    # explosion, so it is applied to the EDGE list before the self-join
    # (hub customers never materialize deg^2 pair rows). r14 (guide
    # §2.4): that capped pair aggregation — count AND the per-pair
    # sum(1/ln(deg)) mass — is the shared _capped_pair_stats memo, one
    # self-join per session for this key + cooccurrence + the backbone
    # family; this key keeps only its round(4) and TakeOrdered top-20.
    pairs = _capped_pair_stats(spark, sf_dir)
    return (
        pairs.select(
            "s_a",
            "s_b",
            F.col("n").alias("n_common"),
            F.round(F.col("aa"), 4).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "s_a", "s_b")
        .limit(20)
    )


_LPA_ROUNDS = 2
_LPA_KNN = 3

# Shared oracle prefix: the symmetrized 3-NN supplier backbone. The
# heavy CTEs are MATERIALIZED — DuckDB re-inlines chains per reference
# otherwise (the k-core finding: minutes vs ~1s at sf0.1).
_BACKBONE_CTES = f"""
    edges AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), deg AS (
      SELECT custkey, count(*) AS d FROM edges GROUP BY custkey
    ), capped AS MATERIALIZED (
      SELECT e.custkey, e.suppkey FROM edges e
      JOIN deg ON deg.custkey = e.custkey
      WHERE deg.d <= {_COOC_DEG_CAP}
    ), pairs AS MATERIALIZED (
      SELECT a.suppkey AS s_a, b.suppkey AS s_b, count(*) AS n
      FROM capped a JOIN capped b
        ON a.custkey = b.custkey AND a.suppkey < b.suppkey
      GROUP BY 1, 2
    ), directed AS (
      SELECT s_a AS node, s_b AS nbr, n FROM pairs
      UNION ALL
      SELECT s_b AS node, s_a AS nbr, n FROM pairs
    ), knn AS (
      SELECT node, nbr FROM (
        SELECT node, nbr, row_number() OVER (
          PARTITION BY node ORDER BY n DESC, nbr ASC) AS rn
        FROM directed
      ) WHERE rn <= {_LPA_KNN}
    ), adj AS MATERIALIZED (
      SELECT node, nbr FROM knn
      UNION
      SELECT nbr AS node, node AS nbr FROM knn
    )"""


# The backbone's directed edges labelled with both endpoints' nation
# (the community of q_graph_modularity and q_graph_conductance), and
# their count m2; the ``m2t`` CTE is left open.
_SQL_NATION_LABELED = f"""
    WITH {_BACKBONE_CTES}, lab AS (
      SELECT s_suppkey AS node, CAST(s_nationkey AS BIGINT) AS com
      FROM supplier
    ), labeled AS (
      SELECT la.com AS ca, lb.com AS cb
      FROM adj JOIN lab la ON la.node = adj.node
               JOIN lab lb ON lb.node = adj.nbr
    ), m2t AS (
      SELECT CAST(count(*) AS BIGINT) AS m2 FROM labeled"""


def _knn_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized 3-NN co-occurrence backbone (node, nbr), eagerly
    materialized and memoized per (application, sf_dir) — shared by the
    LPA / k-core / clustering / assortativity family so the expensive
    per-customer pair join runs once per session. Eager localCheckpoint,
    not lazy persist: the pair aggregation would otherwise re-execute
    per consuming plan branch (measured 15.4s -> 6.0s for LPA alone).
    The pair counts come from the shared _capped_pair_stats memo."""

    def build() -> DataFrame:
        pairs = _capped_pair_stats(spark, sf_dir).select(
            "s_a", "s_b", "n"
        )
        directed = pairs.select(
            F.col("s_a").alias("node"), F.col("s_b").alias("nbr"), "n"
        ).unionAll(
            pairs.select(
                F.col("s_b").alias("node"), F.col("s_a").alias("nbr"), "n"
            )
        )
        w_knn = Window.partitionBy("node").orderBy(
            F.col("n").desc(), F.col("nbr").asc()
        )
        knn = (
            directed.withColumn("rn", F.row_number().over(w_knn))
            .filter(F.col("rn") <= _LPA_KNN)
            .select("node", "nbr")
        )
        return (
            knn.unionAll(
                knn.select(
                    F.col("nbr").alias("node"), F.col("node").alias("nbr")
                )
            )
            .distinct()
            .transform(checkpoint)
        )

    return memo.get(spark, "knn_backbone", sf_dir, build)


def _lpa_oracle() -> str:
    """Unrolled 2-round synchronous label propagation over the
    symmetrized 3-NN supplier co-occurrence graph."""
    rounds = []
    prev = "labels0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
    msgs{r} AS (
      SELECT adj.node AS node, l.label AS label
      FROM adj JOIN {prev} l ON l.node = adj.nbr
      UNION ALL
      SELECT node, label FROM {prev}
    ), cnt{r} AS (
      SELECT node, label, count(*) AS c FROM msgs{r} GROUP BY 1, 2
    ), labels{r} AS (
      SELECT node, label FROM (
        SELECT node, label, row_number() OVER (
          PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        FROM cnt{r}
      ) WHERE rn = 1
    )""")
        prev = f"labels{r}"
    return f"""
    WITH {_BACKBONE_CTES}, labels0 AS (
      SELECT DISTINCT node, node AS label FROM adj
    ),{",".join(rounds)}
    SELECT label AS community, count(*) AS n_members,
           CAST(min(node) AS BIGINT) AS min_member,
           CAST(max(node) AS BIGINT) AS max_member
    FROM {prev}
    GROUP BY label
    ORDER BY n_members DESC, community ASC
    LIMIT 20
    """


@query("q_graph_labelprop", oracle=_lpa_oracle())
def q_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (2 unrolled
    rounds, Raghavan et al.'s LPA) over the supplier co-occurrence
    graph, SPARSIFIED to each node's 3 strongest partners — the raw
    co-occurrence graph is a near-clique (every supplier pair shares
    customers), so LPA is run on the symmetrized 3-NN backbone, the
    standard sparsification that keeps community structure while
    bounding degree (and making the admission scale-INVARIANT: an
    absolute shared-count threshold would mean a different graph at
    every sf). Each node adopts the mode of its neighbors' labels plus
    its own, ties to the smallest label — fully deterministic. Top-20
    communities by size, with member-range audits.

    Plan: capped pair counts (one shuffle, via the shared memo), per-
    node top-3 window, then per round one (node,label) count shuffle +
    one argmax window. Rounds are FIXED at 2 (contract, matching the
    unrolled oracle), so lineage is static.

    r14 (guide §2.4): the per-round "neighbor labels UNION own label"
    message relation is rebuilt as a join against the adjacency WITH
    SELF-LOOPS — each node is its own neighbor exactly once, so the
    self-message arrives through the same join and ``labels`` has ONE
    consumer per round. That removes the per-round localCheckpoint
    (which existed only because the union consumed ``labels`` twice —
    uncut, round N re-executed round N-1 once per consumer): both LPA
    rounds and the community rollup now run as ONE Spark job over the
    checkpointed backbone instead of one materialization job per round
    plus a final. Message multisets are identical (adj is symmetric
    and distinct; the added (v,v) row contributes exactly the one
    self-label message the union used to), so counts, argmax picks and
    the oracle hash are unchanged."""
    adj = _knn_backbone(spark, sf_dir)
    nodes = adj.select("node").distinct()
    adj_self = adj.unionAll(
        nodes.select("node", F.col("node").alias("nbr"))
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    w_pick = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for _ in range(_LPA_ROUNDS):
        labels = (
            adj_self.join(
                labels.withColumnRenamed("node", "nbr"), "nbr"
            )
            .select("node", "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").cast("long").alias("min_member"),
            F.max("node").cast("long").alias("max_member"),
        )
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(20)
    )


_HITS_ITERS = 2
_HITS_TOP = 10


def _hits_oracle() -> str:
    """Unrolled 2-iteration HITS twin: L1-normalized authority/hub
    updates with round(10) re-sync per step (the pagerank idiom)."""
    sql = """
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), hubs0 AS (
      SELECT DISTINCT c, 1.0 AS h FROM edges
    )"""
    prev_h = "hubs0"
    for it in range(1, _HITS_ITERS + 1):
        sql += f""", araw{it} AS (
      SELECT e.s, sum(p.h) AS a FROM edges e
      JOIN {prev_h} p ON p.c = e.c GROUP BY e.s
    ), anorm{it} AS (
      SELECT sum(a) AS tot FROM araw{it}
    ), auth{it} AS (
      SELECT s, round(a / tot, 10) AS a
      FROM araw{it} CROSS JOIN anorm{it}
    ), hraw{it} AS (
      SELECT e.c, sum(p.a) AS h FROM edges e
      JOIN auth{it} p ON p.s = e.s GROUP BY e.c
    ), hnorm{it} AS (
      SELECT sum(h) AS tot FROM hraw{it}
    ), hubs{it} AS (
      SELECT c, round(h / tot, 10) AS h
      FROM hraw{it} CROSS JOIN hnorm{it}
    )"""
        prev_h = f"hubs{it}"
    return sql + f"""
    SELECT kind, node, score, rk FROM (
      SELECT 'auth' AS kind, s AS node, a AS score,
             row_number() OVER (ORDER BY a DESC, s ASC) AS rk
      FROM auth{_HITS_ITERS}
      UNION ALL
      SELECT 'hub' AS kind, c AS node, h AS score,
             row_number() OVER (ORDER BY h DESC, c ASC) AS rk
      FROM hubs{_HITS_ITERS}
    ) WHERE rk <= {_HITS_TOP}
    """


@query("q_graph_hits", oracle=_hits_oracle())
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs & authorities, 2 fixed iterations) over the
    bipartite customer->supplier trade graph: customers are hubs
    (breadth of sourcing), suppliers are authorities (endorsement by
    strong hubs) — the mutual-reinforcement complement to
    q_graph_pagerank's single-score random walk. Top-10 of each side.

    Determinism: updates are L1-normalized (divide by the score SUM —
    no sqrt, so no extra float surface beyond one division) and rounded
    to 10 decimals after every half-step, re-syncing both engines
    exactly as the pagerank/k-means oracles do. The dual ranking
    total-orders on (score DESC, node ASC).

    Scale shape: the distinct edge list persists once and is re-joined
    per half-step keyed on the propagating side; scores are node-sized;
    normalization totals are 1-row broadcast crosses; final cut is
    TakeOrdered-style via a bounded window. Two authority shuffles +
    two hub shuffles total — identical posture to pagerank, with
    per-iteration localCheckpoint lineage cuts."""
    # Same distinct bipartite edge list as the co-occurrence family —
    # share the memoized per-session cache instead of rebuilding it.
    edges = _trade_edges(spark, sf_dir).select(
        F.col("custkey").alias("c"), F.col("suppkey").alias("s")
    )
    hubs = None
    auth = None
    for it in range(_HITS_ITERS):
        # r13 (guide §2.4): checkpoint the RAW half-step aggregate, not
        # the normalized projection — the normalization total and the
        # next half-step's consumer both read it, and uncheckpointed
        # each re-ran the edges⋈scores join+groupBy (the r12 verdict's
        # double-compute). The normalized select over the materialized
        # node-sized relation is trivial to re-execute.
        if it == 0:
            # r14 (guide §2.4): hubs0 is 1.0 on every customer that
            # appears in edges, so the first authority half-step is
            # exactly the supplier degree — sum of 1.0 over d incident
            # edges is the exact fp64 integer d.0 (d << 2^53), so
            # count().cast(double) is bit-identical to the join+sum
            # the oracle spells, and the first half-step loses both
            # the hubs0 distinct and the edges⋈hubs join.
            araw = (
                edges.groupBy("s")
                .agg(F.count(F.lit(1)).cast("double").alias("a"))
                .transform(checkpoint)
            )
        else:
            araw = (
                edges.join(hubs, "c")
                .groupBy("s")
                .agg(F.sum("h").alias("a"))
                .transform(checkpoint)
            )
        atot = araw.agg(F.sum("a").alias("tot"))
        auth = araw.crossJoin(F.broadcast(atot)).select(
            "s", F.round(F.col("a") / F.col("tot"), 10).alias("a")
        )
        hraw = (
            edges.join(auth, "s")
            .groupBy("c")
            .agg(F.sum("a").alias("h"))
            .transform(checkpoint)
        )
        htot = hraw.agg(F.sum("h").alias("tot"))
        hubs = hraw.crossJoin(F.broadcast(htot)).select(
            "c", F.round(F.col("h") / F.col("tot"), 10).alias("h")
        )
    w_a = Window.orderBy(F.col("score").desc(), F.col("node").asc())
    out_a = auth.select(
        F.lit("auth").alias("kind"),
        F.col("s").alias("node"),
        F.col("a").alias("score"),
    ).withColumn("rk", F.row_number().over(w_a))
    out_h = hubs.select(
        F.lit("hub").alias("kind"),
        F.col("c").alias("node"),
        F.col("h").alias("score"),
    ).withColumn("rk", F.row_number().over(w_a))
    # edges stays persisted: it belongs to the shared _trade_edges
    # memo, released with the session (ADVICE round-4 pattern).
    # r14: no final localCheckpoint — the dual top-10 windows read the
    # two already-checkpointed half-step relations, so materializing
    # the 20-row answer bought nothing except one more Spark job per
    # run; consumers now trigger the (bounded, WindowGroupLimit-pruned)
    # ranking directly.
    return out_a.filter(F.col("rk") <= _HITS_TOP).unionAll(
        out_h.filter(F.col("rk") <= _HITS_TOP)
    )


_KCORE_K = 4
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """Unrolled 3-round k-core peeling over the 3-NN backbone: each
    round keeps nodes whose degree within the CURRENT subgraph is >= k."""
    rounds = []
    prev = "adj"
    # Every adj{r} is MATERIALIZED: the per-round stats UNION references
    # each subgraph several times, and without the hint DuckDB re-inlines
    # the whole 18M-row pair chain per reference (minutes at sf0.1 vs
    # 1.3s materialized).
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    deg{r} AS (
      SELECT node, count(*) AS d FROM {prev} GROUP BY node
    ), keep{r} AS (
      SELECT node FROM deg{r} WHERE d >= {_KCORE_K}
    ), adj{r} AS MATERIALIZED (
      SELECT a.node, a.nbr FROM {prev} a
      JOIN keep{r} kn ON kn.node = a.node
      JOIN keep{r} kb ON kb.node = a.nbr
    )""")
        prev = f"adj{r}"
    per_round = "\n      UNION ALL\n".join(
        f"""      SELECT {r} AS round,
             (SELECT count(*) FROM (SELECT DISTINCT node FROM adj{r}))
               AS n_nodes,
             (SELECT count(*) FROM adj{r}) AS n_dir_edges"""
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    return f"""
    WITH {_BACKBONE_CTES},{",".join(rounds)}
    SELECT round, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_dir_edges AS BIGINT) AS n_dir_edges
    FROM (
{per_round}
    ) ORDER BY round
    """


@query("q_graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=4, 3 unrolled rounds) over the same symmetrized
    3-NN supplier backbone q_graph_labelprop runs on: repeatedly drop
    nodes whose degree in the CURRENT subgraph falls below k, keeping
    both endpoints' survival as the edge-retention rule — the standard
    dense-subgraph extraction that separates a graph's cohesive core
    from its fringe (and the precursor to coreness-based influence
    ranking). Emits (round, surviving nodes, surviving directed edges)
    so the peeling cascade itself is the audited output.

    All-integer (degrees and counts), deterministic by construction.
    Rounds are FIXED at 3 — contract, matching the unrolled oracle; a
    to-fixpoint variant would localCheckpoint per round exactly like
    connected_components. Each round is one degree aggregation + two
    semi-join-shaped edge filters, all keyed on node id — linear
    shuffles at any scale; the backbone build amortizes across the
    graph family via the shared memoized edge cache."""
    adj = _knn_backbone(spark, sf_dir)
    stats = []
    for r in range(1, _KCORE_ROUNDS + 1):
        deg_r = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
        keep = deg_r.filter(F.col("d") >= _KCORE_K).select("node")
        adj = (
            adj.join(keep, "node", "left_semi")
            .join(
                keep.withColumnRenamed("node", "nbr"), "nbr", "left_semi"
            )
            .transform(checkpoint)
        )
        n_nodes = adj.select("node").distinct().count()
        n_edges = adj.count()
        stats.append((r, n_nodes, n_edges))
    return spark.createDataFrame(
        stats, "round int, n_nodes long, n_dir_edges long"
    )


@query(
    "q_graph_clustering",
    oracle="""
    WITH {_BACKBONE}, deg2 AS (
      SELECT node, count(*) AS d FROM adj GROUP BY node
    ), tri AS (
      SELECT count(*) AS t6
      FROM adj ab
      JOIN adj bc ON bc.node = ab.nbr
      JOIN adj ca ON ca.node = bc.nbr AND ca.nbr = ab.node
    ), wedges AS (
      SELECT CAST(sum(d * (d - 1)) AS BIGINT) AS w2 FROM deg2
    )
    SELECT CAST((SELECT count(*) FROM deg2) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM adj) // 2 AS BIGINT) AS n_edges,
           CAST(t6 // 6 AS BIGINT) AS n_triangles,
           CAST(w2 // 2 AS BIGINT) AS n_wedges,
           CAST((2 * 1000 * (t6 // 2) + w2 // 2) // (2 * (w2 // 2))
                AS BIGINT) AS clustering_permille
    FROM tri CROSS JOIN wedges
    """.replace("{_BACKBONE}", _BACKBONE_CTES.strip()),
)
def q_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the 3-NN supplier
    backbone: C = 3·triangles / wedges — how often two partners of the
    same supplier also partner each other, the cohesion statistic that
    separates clustered procurement communities from hub-and-spoke
    markets. All-integer: the directed 3-cycle count t6 (each triangle
    counted 6×), wedge count Σd(d−1)/2, and a half-up permille
    division — zero float surface.

    Plan: two self-joins of the node-keyed backbone (bounded degree ≤
    ~2k by the k-NN admission, so the join fan-out is deg² per node at
    worst — the same cap q_graph_triangles relies on) + a degree agg +
    1-row combine. The backbone is the shared memoized relation, so
    repeated graph queries in one session pay the pair join once."""
    adj = _knn_backbone(spark, sf_dir)
    deg2 = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    ab = adj.alias("ab")
    bc = adj.alias("bc")
    ca = adj.alias("ca")
    t6 = (
        ab.join(bc, F.col("bc.node") == F.col("ab.nbr"))
        .join(
            ca,
            (F.col("ca.node") == F.col("bc.nbr"))
            & (F.col("ca.nbr") == F.col("ab.node")),
        )
        .agg(F.count(F.lit(1)).alias("t6"))
    )
    stats = deg2.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1)).alias("w2"),
    )
    n_edges = adj.agg(
        F.expr("count(1) DIV 2").cast("long").alias("n_edges")
    )
    return (
        t6.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n_edges))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            "n_edges",
            F.expr("t6 DIV 6").cast("long").alias("n_triangles"),
            F.expr("w2 DIV 2").cast("long").alias("n_wedges"),
            F.expr(
                "CAST((2 * 1000 * (t6 DIV 2) + w2 DIV 2)"
                " DIV (2 * (w2 DIV 2)) AS BIGINT)"
            ).alias("clustering_permille"),
        )
    )


@query(
    "q_graph_assortativity",
    oracle="""
    WITH {_BACKBONE}, deg2 AS (
      SELECT node, count(*) AS d FROM adj GROUP BY node
    )
    SELECT count(*) AS n_dir_edges,
           round(corr(CAST(du.d AS DOUBLE), CAST(dv.d AS DOUBLE)), 4)
             AS assortativity
    FROM adj
    JOIN deg2 du ON du.node = adj.node
    JOIN deg2 dv ON dv.node = adj.nbr
    """.replace("{_BACKBONE}", _BACKBONE_CTES.strip()),
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman) of the 3-NN backbone: the Pearson
    correlation of endpoint degrees over all directed edges — positive
    means hubs partner hubs (assortative core), negative means
    hub-and-spoke. The one-number structural summary that tells you
    whether the co-occurrence graph has a rich club before running the
    heavier community/k-core passes.

    Both engines run two-pass corr over identical integer degree pairs
    (round 4, the q_ts_acf posture). Plan: degree agg + two broadcast
    degree lookups on the shared memoized backbone + a 1-row reduce."""
    adj = _knn_backbone(spark, sf_dir)
    deg2 = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    du = deg2.withColumnRenamed("node", "u").withColumnRenamed("d", "du")
    dv = deg2.withColumnRenamed("node", "v").withColumnRenamed("d", "dv")
    return (
        adj.join(F.broadcast(du), adj.node == du.u)
        .join(F.broadcast(dv), adj.nbr == dv.v)
        .agg(
            F.count(F.lit(1)).alias("n_dir_edges"),
            F.round(
                F.corr(
                    F.col("du").cast("double"), F.col("dv").cast("double")
                ),
                4,
            ).alias("assortativity"),
        )
    )


@query(
    "q_graph_bfs",
    oracle=f"""
    WITH {_BACKBONE_CTES}, nodes AS (
      SELECT DISTINCT node FROM adj
    ), d0 AS MATERIALIZED (
      SELECT node FROM nodes WHERE node % 7 = 0
    ), d1 AS MATERIALIZED (
      SELECT DISTINCT a.nbr AS node FROM adj a
      JOIN d0 ON d0.node = a.node
      WHERE a.nbr NOT IN (SELECT node FROM d0)
    ), d2 AS MATERIALIZED (
      SELECT DISTINCT a.nbr AS node FROM adj a
      JOIN d1 ON d1.node = a.node
      WHERE a.nbr NOT IN (SELECT node FROM d0)
        AND a.nbr NOT IN (SELECT node FROM d1)
    ), d3 AS MATERIALIZED (
      SELECT DISTINCT a.nbr AS node FROM adj a
      JOIN d2 ON d2.node = a.node
      WHERE a.nbr NOT IN (SELECT node FROM d0)
        AND a.nbr NOT IN (SELECT node FROM d1)
        AND a.nbr NOT IN (SELECT node FROM d2)
    )
    SELECT * FROM (
      SELECT 0 AS hop, count(*) AS n_nodes,
             min(node) AS min_node, max(node) AS max_node
      FROM d0 HAVING count(*) > 0
      UNION ALL
      SELECT 1, count(*), min(node), max(node) FROM d1
      HAVING count(*) > 0
      UNION ALL
      SELECT 2, count(*), min(node), max(node) FROM d2
      HAVING count(*) > 0
      UNION ALL
      SELECT 3, count(*), min(node), max(node) FROM d3
      HAVING count(*) > 0
    ) ORDER BY hop
    """,
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS reachability over the 3-NN supplier backbone:
    hop-distance frontiers (3 unrolled rounds) from the deterministic
    seed set {node : node % 7 = 0}, reporting per-hop frontier size and
    node-id span — the "how much of the graph is within k hops of the
    cohort" expansion profile that pairs with the k-core / LPA /
    clustering family on the same shared relation.

    Plan: the memoized eagerly-checkpointed backbone is re-joined once
    per round (frontier-keyed equi-join + distinct + anti-join against
    the visited set), and each round ends in localCheckpoint so the
    final plan sees only the last frontier — the Pregel discipline of
    q_graph_pagerank/q_llm_dedup_clusters. Frontier size is bounded by
    the node set; rounds are a fixed constant. Empty frontiers emit no
    row in either engine (the oracle guards with HAVING count > 0)."""
    adj = _knn_backbone(spark, sf_dir)
    frontier = (
        adj.select("node")
        .distinct()
        .filter(F.col("node") % 7 == 0)
        .withColumn("hop", F.lit(0))
        .transform(checkpoint)
    )
    visited = frontier
    for h in range(1, 4):
        nxt = (
            adj.join(
                frontier.select("node"), "node", "left_semi"
            )
            .select(F.col("nbr").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .transform(checkpoint)
        )
        visited = visited.unionAll(nxt).transform(checkpoint)
        frontier = nxt
    return (
        visited.groupBy("hop")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("hop")
    )


@query(
    "q_graph_ppr",
    oracle=f"""
    WITH {_BACKBONE_CTES}, pdeg AS (
      SELECT node, count(*) AS dg FROM adj GROUP BY node
    ), seeds AS MATERIALIZED (
      SELECT DISTINCT node FROM adj WHERE node % 7 = 0
    ), r0 AS (
      SELECT node, CAST(1000 AS BIGINT) AS r FROM seeds
    ), flow1 AS (
      SELECT a.nbr AS node,
             CAST(sum(r0.r // (2 * pdeg.dg)) AS BIGINT) AS f
      FROM adj a
      JOIN r0 ON r0.node = a.node
      JOIN pdeg ON pdeg.node = a.node
      GROUP BY a.nbr
    ), r1 AS MATERIALIZED (
      SELECT coalesce(s.node, f.node) AS node,
             CAST(CASE WHEN s.node IS NOT NULL THEN 500 ELSE 0 END
                  + coalesce(f.f, 0) AS BIGINT) AS r
      FROM seeds s FULL JOIN flow1 f ON f.node = s.node
    ), flow2 AS (
      SELECT a.nbr AS node,
             CAST(sum(r1.r // (2 * pdeg.dg)) AS BIGINT) AS f
      FROM adj a
      JOIN r1 ON r1.node = a.node
      JOIN pdeg ON pdeg.node = a.node
      GROUP BY a.nbr
    ), r2 AS (
      SELECT coalesce(s.node, f.node) AS node,
             CAST(CASE WHEN s.node IS NOT NULL THEN 500 ELSE 0 END
                  + coalesce(f.f, 0) AS BIGINT) AS r
      FROM seeds s FULL JOIN flow2 f ON f.node = s.node
    )
    SELECT node, r AS score_milli, node % 7 = 0 AS is_seed
    FROM r2 ORDER BY r DESC, node ASC LIMIT 10
    """,
)
def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (2 unrolled rounds, damping 1/2) from the
    q_graph_bfs seed cohort {node % 7 = 0} over the shared 3-NN
    backbone: mass starts at 1000 milli on each seed, each round every
    node forwards r DIV (2·deg) to each neighbor and seeds get their
    500-milli teleport back — "which suppliers does the cohort's
    network attention concentrate on", the seed-biased complement to
    the global q_graph_pagerank.

    ALL-INTEGER by design: truncating integer division per edge makes
    every round's mass vector exact int64 in both engines, so the
    2-round unrolled oracle hash-matches with no per-iteration rounding
    re-sync at all (the float-PageRank pain point eliminated). Plan:
    per round one frontier-keyed join against the memoized backbone +
    degree relation, one nbr-keyed aggregate, a full-outer with the
    seed set, then localCheckpoint (Pregel discipline) — the final plan
    sees only round 2."""
    adj = _knn_backbone(spark, sf_dir)
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("dg"))
    seeds = (
        adj.select("node")
        .distinct()
        .filter(F.col("node") % 7 == 0)
        .transform(checkpoint)
    )
    r = seeds.withColumn("r", F.lit(1000).cast("long"))
    for _ in range(2):
        contrib = (
            adj.alias("e")
            .join(r.alias("rr"), F.col("rr.node") == F.col("e.node"))
            .join(deg.alias("d"), F.col("d.node") == F.col("e.node"))
            .select(
                F.col("e.nbr").alias("node"),
                F.expr("r DIV (2 * dg)").alias("c"),
            )
        )
        flow = contrib.groupBy("node").agg(F.sum("c").alias("f"))
        r = (
            seeds.alias("s")
            .join(
                flow.alias("f"),
                F.col("s.node") == F.col("f.node"),
                "full_outer",
            )
            .select(
                F.coalesce(F.col("s.node"), F.col("f.node")).alias(
                    "node"
                ),
                (
                    F.when(F.col("s.node").isNotNull(), 500).otherwise(0)
                    + F.coalesce(F.col("f.f"), F.lit(0))
                )
                .cast("long")
                .alias("r"),
            )
            .transform(checkpoint)
        )
    return (
        r.select(
            "node",
            F.col("r").alias("score_milli"),
            (F.col("node") % 7 == 0).alias("is_seed"),
        )
        .orderBy(F.col("score_milli").desc(), F.col("node").asc())
        .limit(10)
    )


@query(
    "q_graph_degree_dist",
    oracle=f"""
    WITH {_BACKBONE_CTES}, gdeg AS (
      SELECT node, count(*) AS d FROM adj GROUP BY node
    ), hist AS (
      SELECT d, count(*) AS n_nodes FROM gdeg GROUP BY d
    )
    SELECT d AS degree, n_nodes,
           CAST((2 * 1000 * n_nodes + sum(n_nodes) OVER ())
                // (2 * sum(n_nodes) OVER ()) AS BIGINT)
               AS share_permille,
           CAST(sum(n_nodes) OVER (ORDER BY d DESC ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_nodes_at_least
    FROM hist ORDER BY degree
    """,
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the 3-NN supplier backbone: per degree,
    the node count, its half-up permille share, and the complementary
    cumulative count (nodes with degree >= d) — the first thing anyone
    plots before trusting a graph algorithm's cost model (the k-NN
    admission caps out-degree at 3, but symmetrization lets popular
    nodes exceed it; this measures by how much).

    Plan: the shared memoized backbone + one degree aggregate + a
    degree-bounded histogram + two windows over that tiny relation —
    amortized to near-zero after any other graph-family query."""
    adj = _knn_backbone(spark, sf_dir)
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("n_nodes"))
    w_all = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_ccdf = Window.orderBy(F.col("d").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        F.col("d").alias("degree"),
        "n_nodes",
        F.expr(
            "CAST((2 * 1000 * n_nodes + sum(n_nodes) OVER"
            " (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED"
            " FOLLOWING)) DIV (2 * sum(n_nodes) OVER (ROWS BETWEEN"
            " UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))"
            " AS BIGINT)"
        ).alias("share_permille"),
        F.sum("n_nodes").over(w_ccdf).alias("n_nodes_at_least"),
    ).orderBy("degree")


@query(
    "q_graph_two_hop",
    oracle=f"""
    WITH {_BACKBONE_CTES}, hdeg AS (
      SELECT node, count(*) AS d FROM adj GROUP BY node
    ), seeds AS MATERIALIZED (
      SELECT node, d FROM hdeg
      ORDER BY d DESC, node ASC LIMIT 10
    ), reach AS (
      SELECT s.node AS seed, a.nbr AS r FROM seeds s
      JOIN adj a ON a.node = s.node
      UNION
      SELECT s.node AS seed, b.nbr AS r FROM seeds s
      JOIN adj a ON a.node = s.node
      JOIN adj b ON b.node = a.nbr
    )
    SELECT r.seed AS node, CAST(s.d AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_two_hop
    FROM reach r JOIN seeds s ON s.node = r.seed
    WHERE r.r <> r.seed
    GROUP BY r.seed, s.d
    ORDER BY degree DESC, node ASC
    """,
)
def q_graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop ego-network size for the 10 highest-degree backbone
    nodes (tie -> smaller id): distinct nodes within <= 2 hops,
    excluding the seed — the friend-of-friend reach metric that
    predicts how fast anything (influence, contagion, a bad record)
    spreads from a hub; the per-node complement to q_graph_bfs's
    cohort frontier view.

    Plan: degree agg + top-10 seeds + two bounded joins against the
    memoized checkpointed backbone (fan-out <= deg per hop, capped by
    the 3-NN admission) + a distinct-union and a 10-row count. No
    all-pairs, no unbounded expansion — the hop depth is a constant."""
    adj = _knn_backbone(spark, sf_dir)
    hdeg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    seeds = (
        hdeg.orderBy(F.col("d").desc(), F.col("node").asc())
        .limit(10)
        .select(F.col("node").alias("seed"), F.col("d").alias("degree"))
        .transform(checkpoint)  # feeds hop1, hop2, and the final join
    )
    hop1 = seeds.join(
        adj, seeds.seed == adj.node
    ).select("seed", F.col("nbr").alias("r"))
    hop2 = (
        hop1.withColumnRenamed("r", "mid")
        .join(adj, F.col("mid") == adj.node)
        .select("seed", F.col("nbr").alias("r"))
    )
    reach = hop1.unionAll(hop2).distinct()
    return (
        reach.filter(F.col("r") != F.col("seed"))
        .groupBy("seed")
        .agg(F.count(F.lit(1)).alias("n_two_hop"))
        .join(F.broadcast(seeds), "seed")
        .select(
            F.col("seed").alias("node"),
            F.col("degree").cast("long").alias("degree"),
            "n_two_hop",
        )
        .orderBy(F.col("degree").desc(), F.col("node").asc())
    )


@query(
    "q_graph_modularity",
    oracle=f"""
{_SQL_NATION_LABELED}
    ), nodes AS (
      SELECT la.com, CAST(count(DISTINCT adj.node) AS BIGINT) AS n_nodes
      FROM (SELECT DISTINCT node FROM adj) adj
      JOIN lab la ON la.node = adj.node GROUP BY la.com
    ), per_c AS (
      SELECT ca AS com,
             CAST(count(*) AS BIGINT) AS deg_sum,
             CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT)
               AS intra_dir
      FROM labeled GROUP BY ca
    ), contrib AS (
      SELECT p.com, n.n_nodes, p.deg_sum,
             p.intra_dir // 2 AS m_intra,
             CAST(p.intra_dir AS HUGEINT) * t.m2
               - CAST(p.deg_sum AS HUGEINT) * p.deg_sum AS num,
             CAST(t.m2 AS HUGEINT) * t.m2 AS den
      FROM per_c p JOIN nodes n ON n.com = p.com CROSS JOIN m2t t
    ), qfold AS (
      SELECT round(sum(CAST(num AS DOUBLE)) / max(CAST(den AS DOUBLE)),
                   4) AS q_modularity
      FROM contrib
    )
    SELECT c.com AS community, c.n_nodes, c.m_intra, c.deg_sum,
           CASE WHEN c.num >= 0
                THEN CAST((2 * 1000 * c.num + c.den)
                          // (2 * c.den) AS BIGINT)
                ELSE -CAST((2 * 1000 * (-c.num) + c.den)
                           // (2 * c.den) AS BIGINT)
           END AS contrib_permille,
           q.q_modularity
    FROM contrib c CROSS JOIN qfold q
    """,
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the supplier-NATION partition over the
    symmetrized 3-NN co-occurrence backbone — the partition-QUALITY
    metric the community family lacked: labelprop FINDS communities,
    this key SCORES a partition (here the natural geographic one), the
    number a Louvain-style optimizer would climb. Q = Σ_c [m_c/m −
    (D_c/2m)²]: intra-community edge share minus the share expected
    under the degree-preserving null model; per nation the audit
    reports nodes, intra-edges, degree sum, and its signed half-up
    permille contribution, plus the global round-4 Q.

    Exactness: with m2 = 2m directed rows, each community's
    contribution is the exact integer ratio (intra_dir·m2 − D_c²) /
    m2² — numerator and denominator fold in DECIMAL(38,0)/HUGEINT
    (D_c² is supplier-count-quadratic: ~3.6e17 at a 1M-supplier sf100,
    and the 1000× permille product would cross int64 around 1e8
    suppliers — widened NOW, the registration-time-carrier
    discipline); the signed permille uses the sign-safe half-up CASE
    (intra-poor communities contribute negatively). Q itself is the
    one double fold, round-4.

    Plan: the memoized backbone (built once per session, shared with
    LPA/k-core/clustering), two broadcast joins against the
    supplier-dimension label table, a 25-group aggregate, and 1-row
    m2/Q folds broadcast-crossed back (the q_agg_theil decomposition
    shape). Nothing beyond the backbone build touches a fact table."""
    adj = _knn_backbone(spark, sf_dir)
    lab = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("lnode"),
        F.col("s_nationkey").cast("long").alias("com"),
    )
    labeled = (
        adj.join(
            F.broadcast(lab), F.col("node") == F.col("lnode")
        )
        .select(F.col("com").alias("ca"), "nbr")
        .join(F.broadcast(lab), F.col("nbr") == F.col("lnode"))
        .select("ca", F.col("com").alias("cb"))
    )
    m2t = labeled.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    nodes = (
        adj.select("node")
        .distinct()
        .join(F.broadcast(lab), F.col("node") == F.col("lnode"))
        .groupBy("com")
        .agg(F.countDistinct("node").cast("long").alias("n_nodes"))
    )
    per_c = labeled.groupBy(F.col("ca").alias("com")).agg(
        F.count(F.lit(1)).cast("long").alias("deg_sum"),
        F.sum((F.col("ca") == F.col("cb")).cast("long"))
        .cast("long")
        .alias("intra_dir"),
    )
    wide = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    contrib = (
        per_c.join(nodes, "com")
        .crossJoin(F.broadcast(m2t))
        .select(
            "com",
            "n_nodes",
            "deg_sum",
            F.expr("intra_dir DIV 2").alias("m_intra"),
            (wide("intra_dir") * F.col("m2") - wide("deg_sum") * F.col("deg_sum"))
            .cast("decimal(38,0)")
            .alias("num"),
            (wide("m2") * F.col("m2")).cast("decimal(38,0)").alias("den"),
        )
        .transform(checkpoint)  # feeds the Q fold AND the final projection
    )
    qfold = contrib.agg(
        F.round(
            F.sum(F.col("num").cast("double"))
            / F.max(F.col("den").cast("double")),
            4,
        ).alias("q_modularity")
    )
    return contrib.crossJoin(F.broadcast(qfold)).select(
        F.col("com").alias("community"),
        "n_nodes",
        "m_intra",
        "deg_sum",
        F.when(
            F.col("num") >= 0,
            F.expr(
                "CAST((2 * 1000 * num + den) DIV (2 * den) AS BIGINT)"
            ),
        )
        .otherwise(
            -F.expr(
                "CAST((2 * 1000 * (-num) + den) DIV (2 * den) AS BIGINT)"
            )
        )
        .alias("contrib_permille"),
        "q_modularity",
    )


@query(
    "q_graph_louvain_round",
    oracle=f"""
    WITH {_BACKBONE_CTES}, lab AS (
      SELECT s_suppkey AS node, CAST(s_nationkey AS BIGINT) AS com
      FROM supplier
    ), ndeg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS ki FROM adj GROUP BY node
    ), m2t AS (
      SELECT CAST(count(*) AS BIGINT) AS m2 FROM adj
    ), sigma AS (
      SELECT l.com, CAST(sum(d.ki) AS BIGINT) AS tot
      FROM ndeg d JOIN lab l ON l.node = d.node GROUP BY l.com
    ), kic AS (
      SELECT adj.node, lb.com AS c, CAST(count(*) AS BIGINT) AS k
      FROM adj JOIN lab lb ON lb.node = adj.nbr
      GROUP BY adj.node, lb.com
    ), own AS (
      SELECT d.node, l.com AS a, d.ki,
             COALESCE(kc.k, 0) AS k_own
      FROM ndeg d JOIN lab l ON l.node = d.node
      LEFT JOIN kic kc ON kc.node = d.node AND kc.c = l.com
    ), cand AS (
      SELECT k.node, k.c, k.k FROM kic k
      UNION
      SELECT node, a AS c, k_own AS k FROM own
    ), scored AS (
      SELECT o.node, o.a, c.c,
             2 * t.m2 / 2 * c.k
               - o.ki * (s.tot - CASE WHEN c.c = o.a
                                      THEN o.ki ELSE 0 END) AS score
      FROM cand c
      JOIN own o ON o.node = c.node
      JOIN sigma s ON s.com = c.c
      CROSS JOIN m2t t
    ), chosen AS (
      SELECT node, a,
             CASE WHEN node % 2 = 0 AND best_score > stay_score
                  THEN best_c ELSE a END
               AS nc
      FROM (
        SELECT node, a,
               max(CASE WHEN rn = 1 THEN c END) AS best_c,
               max(CASE WHEN rn = 1 THEN score END) AS best_score,
               max(CASE WHEN c = a THEN score END) AS stay_score
        FROM (
          SELECT node, a, c, score,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY score DESC, c ASC) AS rn
          FROM scored
        ) GROUP BY node, a
      )
    ), relabeled AS (
      SELECT ca.nc AS ca, cb.nc AS cb
      FROM adj JOIN chosen ca ON ca.node = adj.node
               JOIN chosen cb ON cb.node = adj.nbr
    ), before_labeled AS (
      SELECT la.com AS ca, lb.com AS cb
      FROM adj JOIN lab la ON la.node = adj.node
               JOIN lab lb ON lb.node = adj.nbr
    ), q_of AS (
      SELECT 'after' AS phase,
             sum(CAST(intra AS DOUBLE) * m2 - CAST(dsum AS DOUBLE) * dsum)
               / (max(CAST(m2 AS DOUBLE)) * max(m2)) AS q
      FROM (SELECT ca, count(*) AS dsum,
                   sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS intra
            FROM relabeled GROUP BY ca) CROSS JOIN m2t GROUP BY 1
      UNION ALL
      SELECT 'before',
             sum(CAST(intra AS DOUBLE) * m2 - CAST(dsum AS DOUBLE) * dsum)
               / (max(CAST(m2 AS DOUBLE)) * max(m2))
      FROM (SELECT ca, count(*) AS dsum,
                   sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS intra
            FROM before_labeled GROUP BY ca) CROSS JOIN m2t GROUP BY 1
    ), folds AS (
      SELECT round(max(CASE WHEN phase = 'before' THEN q END), 4)
               AS q_before,
             round(max(CASE WHEN phase = 'after' THEN q END), 4)
               AS q_after
      FROM q_of
    ), moved AS (
      SELECT CAST(sum(CASE WHEN nc <> a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved
      FROM chosen
    )
    SELECT r.ca AS community,
           CAST(count(DISTINCT ch.node) AS BIGINT) AS n_nodes,
           CAST(sum(CASE WHEN r.ca = r.cb THEN 1 ELSE 0 END) // 2
                AS BIGINT) AS m_intra,
           CAST(count(*) AS BIGINT) AS deg_sum,
           m.n_moved, f.q_before, f.q_after
    FROM (SELECT adj.node, ca.nc AS ca, cb.nc AS cb
          FROM adj JOIN chosen ca ON ca.node = adj.node
                   JOIN chosen cb ON cb.node = adj.nbr) r
    JOIN chosen ch ON ch.nc = r.ca AND ch.node = r.node
    CROSS JOIN folds f CROSS JOIN moved m
    GROUP BY r.ca, m.n_moved, f.q_before, f.q_after
    """,
)
def q_graph_louvain_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE synchronous Louvain round over the 3-NN backbone, seeded
    with the nation partition — the modularity-CLIMBING step composing
    with q_graph_modularity (which only scores): every node evaluates
    moving to each neighbor community against the ORIGINAL partition
    (the synchronous/distributed-Louvain variant — classic Louvain is
    sequential and inherently serial; synchronous sweeps are how
    Spark/Pregel implementations actually run it), using the EXACT
    integer gain comparator

        s(c) = m2·k_{i,c} − k_i·(Σtot_c − [c = a]·k_i)

    (ΔQ·2m² with constant terms dropped — argmax-equivalent), moving
    only when the best strictly beats staying, smallest community id
    on ties. The audit reports the new partition's per-community
    nodes/intra-edges/degree-sum plus n_moved and round-4 Q before and
    after — Q_after is MEASURED, not asserted, because simultaneous
    moves can overshoot on adversarial graphs (the documented
    synchronous-Louvain caveat; a production loop alternates sweeps
    with the modularity key as its convergence gate).

    All comparators are exact int64 (k_{i,c} ≤ degree ≤ 6 on the 3-NN
    backbone, m2 supplier-bounded — ~8 decades of headroom at a 1M-
    supplier sf100); the two Q evaluations reuse the modularity
    integer-numerator identity in one double fold each.

    Plan: the memoized backbone + supplier-dim broadcast labels; every
    relation past the backbone (deg, Σtot, k_{i,c}, candidates,
    chosen) is node- or community-bounded; two label joins re-score
    the partition before/after; 1-row m2/Q/n_moved folds broadcast-
    crossed back. Nothing past the backbone touches a fact table."""
    adj = _knn_backbone(spark, sf_dir)
    lab = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("lnode"),
        F.col("s_nationkey").cast("long").alias("com"),
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("ki"))
    m2t = adj.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    sigma = (
        deg.join(F.broadcast(lab), F.col("node") == F.col("lnode"))
        .groupBy("com")
        .agg(F.sum("ki").cast("long").alias("tot"))
    )
    kic = (
        adj.join(F.broadcast(lab), F.col("nbr") == F.col("lnode"))
        .groupBy("node", F.col("com").alias("c"))
        .agg(F.count(F.lit(1)).alias("k"))
    )
    own = (
        deg.join(F.broadcast(lab), F.col("node") == F.col("lnode"))
        .select("node", F.col("com").alias("a"), "ki")
        .join(
            kic.select(
                F.col("node").alias("knode"),
                F.col("c").alias("kc"),
                F.col("k").alias("k_own"),
            ),
            (F.col("node") == F.col("knode"))
            & (F.col("a") == F.col("kc")),
            "left_outer",
        )
        .select(
            "node", "a", "ki", F.coalesce("k_own", F.lit(0)).alias("k_own")
        )
        .transform(checkpoint)  # feeds candidates, scoring, and n_moved
    )
    cand = (
        kic.select("node", "c", "k")
        .unionAll(
            own.select(
                "node", F.col("a").alias("c"), F.col("k_own").alias("k")
            )
        )
        .distinct()
    )
    scored = (
        cand.join(
            own.select("node", "a", "ki"), "node"
        )
        .join(F.broadcast(sigma), F.col("c") == F.col("com"))
        .crossJoin(F.broadcast(m2t))
        .select(
            "node",
            "a",
            "c",
            (
                F.expr("m2 DIV 2") * 2 * F.col("k")
                - F.col("ki")
                * (
                    F.col("tot")
                    - F.when(F.col("c") == F.col("a"), F.col("ki"))
                    .otherwise(0)
                )
            ).alias("score"),
        )
    )
    w_best = Window.partitionBy("node").orderBy(
        F.desc("score"), F.asc("c")
    )
    chosen = (
        scored.withColumn("rn", F.row_number().over(w_best))
        .groupBy("node", "a")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("c"))).alias("best_c"),
            F.max(F.when(F.col("rn") == 1, F.col("score"))).alias(
                "best_score"
            ),
            F.max(F.when(F.col("c") == F.col("a"), F.col("score"))).alias(
                "stay_score"
            ),
        )
        .select(
            "node",
            "a",
            F.when(
                (F.col("node") % 2 == 0)
                & (F.col("best_score") > F.col("stay_score")),
                F.col("best_c"),
            )
            .otherwise(F.col("a"))
            .alias("nc"),
        )
        .transform(checkpoint)  # relabels both adj ends + the moved fold
    )
    ch_a = chosen.select(
        F.col("node").alias("na"), F.col("nc").alias("ca")
    )
    ch_b = chosen.select(
        F.col("node").alias("nb"), F.col("nc").alias("cb")
    )
    relabeled = (
        adj.join(F.broadcast(ch_a), F.col("node") == F.col("na"))
        .join(F.broadcast(ch_b), F.col("nbr") == F.col("nb"))
        .select("node", "ca", "cb")
        .transform(checkpoint)  # feeds Q_after AND the per-community audit
    )

    def _q(labeled: DataFrame) -> DataFrame:
        per = labeled.groupBy("ca").agg(
            F.count(F.lit(1)).alias("dsum"),
            F.sum((F.col("ca") == F.col("cb")).cast("long")).alias(
                "intra"
            ),
        )
        return per.crossJoin(F.broadcast(m2t)).agg(
            F.round(
                F.sum(
                    F.col("intra").cast("double") * F.col("m2")
                    - F.col("dsum").cast("double") * F.col("dsum")
                )
                / (
                    F.max(F.col("m2").cast("double"))
                    * F.max(F.col("m2"))
                ),
                4,
            ).alias("q")
        )
    la = lab.select(F.col("lnode").alias("na"), F.col("com").alias("ca"))
    lb = lab.select(F.col("lnode").alias("nb"), F.col("com").alias("cb"))
    before_labeled = (
        adj.join(F.broadcast(la), F.col("node") == F.col("na"))
        .join(F.broadcast(lb), F.col("nbr") == F.col("nb"))
        .select("ca", "cb")
    )
    folds = (
        _q(before_labeled)
        .select(F.col("q").alias("q_before"))
        .crossJoin(_q(relabeled).select(F.col("q").alias("q_after")))
    )
    moved = chosen.agg(
        F.sum((F.col("nc") != F.col("a")).cast("long"))
        .cast("long")
        .alias("n_moved")
    )
    node_new = chosen.select(
        F.col("node").alias("mnode"), F.col("nc").alias("mca")
    )
    return (
        relabeled.join(
            F.broadcast(node_new),
            (F.col("ca") == F.col("mca"))
            & (F.col("node") == F.col("mnode")),
        )
        .groupBy(F.col("ca").alias("community"))
        .agg(
            F.countDistinct("mnode").cast("long").alias("n_nodes"),
            F.expr(
                "CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) DIV 2"
                " AS BIGINT)"
            ).alias("m_intra"),
            F.count(F.lit(1)).cast("long").alias("deg_sum"),
        )
        .crossJoin(F.broadcast(moved))
        .crossJoin(F.broadcast(folds))
        .select(
            "community",
            "n_nodes",
            "m_intra",
            "deg_sum",
            "n_moved",
            "q_before",
            "q_after",
        )
    )


@query(
    "q_graph_conductance",
    oracle=f"""
{_SQL_NATION_LABELED}
    ), nodes AS (
      SELECT la.com, CAST(count(DISTINCT a.node) AS BIGINT) AS n_nodes
      FROM (SELECT DISTINCT node FROM adj) a
      JOIN lab la ON la.node = a.node GROUP BY la.com
    ), per_c AS (
      SELECT ca AS com,
             CAST(count(*) AS BIGINT) AS vol,
             CAST(sum(CASE WHEN ca <> cb THEN 1 ELSE 0 END) AS BIGINT)
               AS cut
      FROM labeled GROUP BY ca
    )
    SELECT p.com AS community, n.n_nodes, p.vol, p.cut,
           CASE WHEN least(p.vol, t.m2 - p.vol) > 0
                THEN CAST((2 * 1000 * p.cut + least(p.vol, t.m2 - p.vol))
                          // (2 * least(p.vol, t.m2 - p.vol)) AS BIGINT)
                ELSE NULL END AS phi_permille
    FROM per_c p JOIN nodes n ON n.com = p.com CROSS JOIN m2t t
    ORDER BY community
    """,
)
def q_graph_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community conductance over the shared 3-NN supplier backbone -
    the SECOND partition-quality metric (modularity scores global
    cohesion against a null model; conductance phi(c) = cut(c) /
    min(vol(c), vol(rest)) scores each community's BOUNDARY - the
    probability a random step from inside leaves - which is the number
    spectral partitioners (Cheeger) bound and community-QA dashboards
    alarm on: a community can carry positive modularity contribution
    while leaking half its edges). Communities are the nation
    partition, as in q_graph_modularity/q_graph_louvain_round, so the
    three keys form a score -> climb -> boundary-QA loop over ONE
    graph.

    Determinism/exactness: all-integer - directed-edge volumes and
    cuts counted over the deterministic backbone (degree-capped,
    rank-tied-broken 3-NN, the _knn_backbone contract), conductance as
    exact half-up permille with the empty-side NULL guard; counts are
    nation-bounded (25 rows) after one edge-labeled aggregate.

    Plan: the memoized backbone (one pair join per session) + two
    broadcast label joins + a 25-row conditional aggregate + a 1-row
    m2 fold broadcast-crossed back. At 100 TB the backbone build is
    the only fact-scale stage, shared with the whole graph family."""
    adj = _knn_backbone(spark, sf_dir)
    lab = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("lnode"),
        F.col("s_nationkey").cast("long").alias("com"),
    )
    labeled = (
        adj.join(F.broadcast(lab), F.col("node") == F.col("lnode"))
        .select(F.col("com").alias("ca"), "nbr")
        .join(F.broadcast(lab), F.col("nbr") == F.col("lnode"))
        .select("ca", F.col("com").alias("cb"))
        .transform(checkpoint)  # k-NN-bounded edges; feeds m2t AND per_c
    )
    m2t = labeled.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    nodes = (
        adj.select("node")
        .distinct()
        .join(F.broadcast(lab), F.col("node") == F.col("lnode"))
        .groupBy("com")
        .agg(F.countDistinct("node").cast("long").alias("n_nodes"))
    )
    per_c = labeled.groupBy(F.col("ca").alias("com")).agg(
        F.count(F.lit(1)).cast("long").alias("vol"),
        F.sum((F.col("ca") != F.col("cb")).cast("long"))
        .cast("long")
        .alias("cut"),
    )
    side = F.least(F.col("vol"), F.col("m2") - F.col("vol"))
    return (
        per_c.join(nodes, "com")
        .crossJoin(F.broadcast(m2t))
        .select(
            F.col("com").alias("community"),
            "n_nodes",
            "vol",
            "cut",
            F.when(
                side > 0,
                F.expr(
                    "CAST((2 * 1000 * cut + least(vol, m2 - vol))"
                    " DIV (2 * least(vol, m2 - vol)) AS BIGINT)"
                ),
            )
            .otherwise(F.lit(None).cast("long"))
            .alias("phi_permille"),
        )
        .orderBy("community")
    )
