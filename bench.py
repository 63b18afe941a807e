"""Benchmark runner — the driver executes this per round (BENCH_r{N}.json).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed by ``count()`` on its result. Catalyst may prune
operators whose output ``count()`` never reads; perfbench/ times keys
into the ``noop`` sink, which keeps the whole plan.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from khose_spark import registry
from khose_spark.operators import dedup_audit, llm, similarity_fixedk
from khose_spark.operators.similarity import build_pq_index, encode_pq_sampled
from khose_spark.session import get_spark

# Headline set: one representative per operator family (scan, filter,
# join algos, agg, window, sort, functions, LLM ops, UDF surface).
HEADLINE = [
    "q_agg_flagship_pricing",
    "q_filter_compare",
    "q_join_broadcast",
    "q_join_multiway",
    "q_join_asof",
    "q_join_salted",
    "q_tpch_q3_shipping",
    "q_tpch_q5_local_volume",
    "q_tpch_q10_returns",
    "q_agg_count_distinct",
    "q_agg_rollup",
    "q_win_running_sum",
    "q_win_topk_per_group",
    "q_sort_multikey",
    "q_fn_split_explode",
    "q_fn_json",
    "q_llm_exact_dedup",
    "q_llm_cosine_topk",
    "q_llm_cosine_topk_blocked",
    "q_llm_simhash",
    "q_llm_quality_score",
    "q_llm_text_stats",
    "q_udf_scalar_pandas",
    "q_mm_decode_features",
    "q_tpch_q18_large_volume",
    "q_tpch_q21_waiting_supplier",
    "q_tpch_q2_min_cost_supp",
    "q_tpch_q9_product_profit",
    "q_llm_pii_scrub",
    "q_llm_seq_pack",
    "q_llm_ann_pq",
    "q_dq_expectations",
    "q_scd2_history",
    "q_ts_interpolate",
    "q_llm_bpe_merges",
    "q_ml_naive_bayes",
    "q_llm_minhash_det",
    "q_agg_bitmap_distinct",
    # Round-5 scale patterns: two-job bucketed ANN search, cluster-
    # bounded semantic dedup, unrolled all-integer LTTB.
    "q_llm_ann_pq_indexed",
    "q_llm_semdedup",
    "q_ts_lttb_downsample",
    # Round-5b statistical/resolution family: ACF, Zipf fit, sorted-
    # neighborhood ER (the window-scan dedup), triangle counting.
    "q_ts_acf",
    "q_llm_zipf",
    "q_er_sorted_neighborhood",
    "q_graph_triangles",
    "q_llm_kl_divergence",
    "q_llm_heaps",
    "q_ml_logreg",
    "q_ts_window_funnel",
    "q_agg_weighted_percentile",
    "q_llm_bloom_prefilter",
    "q_ts_theil_sen",
    "q_graph_adamic_adar",
    "q_ts_m4_downsample",
    "q_llm_embedding_drift",
    "q_ts_wow_growth",
    # Round-5c curation/stat/graph family: quality-rule filters, CCNet
    # terciles, containment dedup, Holt smoothing, label propagation,
    # HITS, closed-form OLS, Gini, Fellegi-Sunter ER scoring.
    "q_llm_gopher_rules",
    "q_llm_ccnet_buckets",
    "q_llm_containment",
    "q_ts_holt_forecast",
    "q_graph_labelprop",
    "q_graph_hits",
    "q_ml_linreg_2f",
    "q_agg_gini",
    "q_er_fellegi_sunter",
    "q_ts_mann_kendall",
    # Round-5d eval/audit family: exact banded AUC, full FK-graph
    # audit, Hampel robust outliers, RAKE phrases, backbone BFS.
    "q_ml_auc",
    "q_dq_referential",
    "q_ts_hampel",
    "q_llm_rake",
    "q_graph_bfs",
    # Round-5d second wave: single-scan 5-fold CV, sessionization,
    # rolling distinct users, incremental delta-vs-base dedup,
    # nearest-direction as-of, banded Spearman.
    "q_ml_cross_val",
    "q_ts_sessionize",
    "q_ts_rolling_wau",
    "q_llm_incremental_dedup",
    "q_join_asof_nearest",
    "q_agg_spearman",
    # Round-8 family representatives (observability audits, spatial
    # joins, applyInPandas DP, URL canonicalization, one-pass bootstrap,
    # vocabulary coverage, reconciliation, skyline, spectral, Shapley):
    "q_agg_hll_audit",
    "q_join_geo_knn",
    "q_ts_dtw",
    "q_llm_url_dedup",
    "q_ml_poisson_bootstrap",
    "q_llm_vocab_coverage",
    "q_dq_reconciliation",
    "q_agg_skyline_2d",
    "q_ts_dft_power",
    "q_ml_shapley_2f",
    # Round-9 scale-linear twins (the production forms of the declared-
    # superlinear family — constant-k ANN/clustering, banded exact
    # verify, fixed-pool sampling):
    "q_llm_ann_pq_rerank_fixedk",
    "q_llm_kmeans_fixedk",
    "q_llm_semdedup_fixedk",
    "q_llm_neardup_jaccard_banded",
    "q_llm_negative_sampling_fixedpool",
    # Round-10 probe-scaled search (the recall-at-scale closers):
    "q_llm_ann_ivf_probed",
    "q_llm_ann_pq_rerank_scaled",
    # Round-11: the composed production search — multi-probe routing
    # feeding the corpus-scaled exact rerank within the probed cells
    # (cell-partitioned index, DPP-pruned scan).
    "q_llm_ann_pq_probed_scaled",
    # Round-10 second wave: DSIR selection, rank concordance, drift,
    # local-DP release, compaction planning.
    "q_llm_dsir",
    "q_ml_kendall_tau",
    "q_ts_page_hinkley",
    "q_priv_randomized_response",
    "q_lake_compaction_plan",
    "q_lake_compaction_apply",
    "q_ml_kruskal_wallis",
    "q_ts_holt_winters",
    # Round-9 second wave: exact-integer AdaBoost, one-shuffle CM
    # sketch, tolerance as-of, STL strengths.
    "q_ml_boosted_stumps",
    "q_agg_cm_join_estimate",
    "q_join_asof_tolerance",
    "q_ts_stl_strength",
    # Round-11 wave: the three new keys with corpus-scale work (the
    # bounded-rollup analytics — friedman, modularity, isotonic — cost
    # their fact scan only and ride the flagship's timing family).
    "q_llm_paragraph_dedup",
    "q_llm_ann_sq8",
    "q_fn_jaro_winkler",
    # Round-11 waves 4-7: the keys with corpus-scale work (user-keyed
    # CUPED fold, vocab-join JSD, per-source cap window, user-window
    # disorder audit, fact-to-fact temporal FK join, backbone
    # conductance, token-lambda watermark scan).
    "q_ml_cuped",
    "q_llm_jsd_sources",
    "q_llm_domain_cap",
    "q_stream_disorder_batchsem",
    "q_dq_temporal_fk",
    "q_graph_conductance",
    "q_llm_watermark_detect",
    # Round-12: the composed 6-stage curation funnel (two corpus scans
    # + the chunk-dedup exchange — the heaviest honest curation key).
    "q_llm_curation_pipeline",
    # Round-13: the stream-composed corpus refresh — a REAL availableNow
    # envelope drain + compaction + the funnel over the landed table;
    # its timing is ingest + curation end to end, the production job.
    "q_stream_curation_e2e_batchsem",
    # Round-13 wave 1/2 perf-relevant keys: the composed day-2
    # incremental refresh (two heavy reads per side), the banded
    # two-phase exact grand median (three fact passes by contract),
    # and the token-explode MATTR (the heaviest wave-2 key at 100x).
    "q_llm_corpus_refresh_incremental",
    "q_ml_mood_median",
    "q_llm_mattr",
]


def run_ingest(spark, sf_dir: str) -> dict:
    """khose's native metric: records/s through the full ingest pipeline
    (Kinesis-envelope stream -> JSON decode -> exactly-once partitioned
    parquet sink). Staging the fixture as chunk files is setup, not
    ingest — the clock starts at stream launch."""
    import shutil

    from khose_spark.memo import scratch
    from khose_spark.sources.kinesis_sim import (
        kinesis_stream,
        parse_envelope,
        stage_event_chunks,
    )
    from khose_spark.streaming.runtime import compact_parquet, ingest_to_parquet

    chunks = stage_event_chunks(spark, sf_dir, n_chunks=8, tag="bench_ingest")
    # Scratch dirs are cleared first: the gate's rerun drains the same
    # sf_dir again, and a reused streaming checkpoint would resume and
    # land nothing.
    base = scratch(sf_dir, "bench_ingest")
    shutil.rmtree(base, ignore_errors=True)
    # Warm the STREAMING code path before the clocked drain (r12): the
    # first streaming query in a session pays one-time codegen/state-
    # store init that measured 2x-4x the whole steady-state drain
    # (quiet-host triple: 18.6k warming vs 42.1k/37.1k warm, recorded
    # in BENCH_DETAIL ingest_quiet_rerun). The gate tracks the DRAIN
    # path, so the warmup runs on its own 1-chunk staging + throwaway
    # sink and stays off the clock — same discipline as the headline
    # loop's first-query warmup.
    # Warmup fixture: the tiny sf0.001 events table when present (cheapest
    # possible codegen/state-store warmup), else sf_dir itself — so the
    # bench still runs on hosts that only carry the target fixture
    # (ADVICE r12: the hardcoded path aborted the whole bench there).
    warm_sf = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_sf):
        warm_sf = sf_dir
    warm_chunks = stage_event_chunks(
        spark, warm_sf, n_chunks=1, tag="bench_ingest_warm"
    )
    warm_base = scratch(warm_sf, "bench_ingest_warm")
    shutil.rmtree(warm_base, ignore_errors=True)
    warm_out, warm_ckpt = os.path.join(warm_base, "out"), os.path.join(warm_base, "ckpt")
    ingest_to_parquet(
        parse_envelope(kinesis_stream(spark, warm_chunks, files_per_trigger=1)),
        warm_out,
        warm_ckpt,
        partition_granularity="month",
        coalesce_to=1,
    )
    shutil.rmtree(warm_base, ignore_errors=True)
    shutil.rmtree(warm_chunks, ignore_errors=True)
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    t0 = time.perf_counter()
    # Fixture events span ~1 month, so "month" is the rate-matched
    # partition granularity here (a day-dir would hold ~3k rows — the
    # small-files anti-pattern); coalesce(1) gives one file per
    # partition-dir per micro-batch. Production at 100 TB flips these
    # to "day" + parallel writers — same code path.
    # 4 chunk files per micro-batch: the per-batch fixed cost
    # (incremental plan + WAL + manifest commit) dominates at this
    # volume, so batching is the honest throughput knob — a real
    # Kinesis consumer does exactly this by raising its GetRecords
    # batch size. Convergence tests keep files_per_trigger=1.
    ingest_to_parquet(
        parse_envelope(kinesis_stream(spark, chunks, files_per_trigger=4)),
        out,
        ckpt,
        partition_granularity="month",
        coalesce_to=1,
    )
    dt = time.perf_counter() - t0

    def _count_files(d: str) -> int:
        return sum(1 for _, _, fs in os.walk(d) for f in fs if f.endswith(".parquet"))

    landed_files = _count_files(out)
    compacted = os.path.join(base, "compacted")
    t1 = time.perf_counter()
    compact_parquet(spark, out, compacted)
    compact_sec = time.perf_counter() - t1
    rows = spark.read.parquet(compacted).count()
    files = _count_files(compacted)
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(chunks, ignore_errors=True)
    return {
        "rows": rows,
        "sec": round(dt, 3),
        "rows_per_sec": round(rows / dt, 1),
        "files_landed": landed_files,
        "compact_sec": round(compact_sec, 3),
        "files_written": files,
    }



# Heavy-tail keys re-timed on the deterministic 10× materialization of
# the bench fixture (khose_spark/scaling.py): the empirical scaling
# proof behind the plan-shape arguments. Ordered cheapest-first so the
# wall-clock guard truncates the most expensive keys, not the cheapest.
SCALING_KEYS = [
    "q_llm_sentence_dedup",
    "q_llm_bpe_merges",
    "q_er_sorted_neighborhood",
    "q_llm_neardup_jaccard",
    "q_llm_minhash_det",
    "q_llm_ann_pq_indexed",
    "q_llm_containment",
    "q_llm_incremental_dedup",
    "q_llm_semdedup",
    # Fixed-k / banded twins: the empirical near-linear ratios that
    # justify retiring their sampled/all-candidate originals from the
    # scale path (originals stay above as the superlinear controls).
    "q_llm_ann_pq_indexed_fixedk",
    # Probe-scaled search: the corpus-scaled rerank pool's time ratio
    # rides next to its gated recall.
    "q_llm_ann_pq_rerank_scaled",
    # Composed routed search: ratio should track the probed corpus
    # fraction (8/64 of codes + the scaled pool).
    "q_llm_ann_pq_probed_scaled",
    "q_llm_semdedup_fixedk",
    "q_llm_neardup_jaccard_banded",
    # Paragraph-granularity dedup: ratio should track the chunk-stream
    # volume.
    "q_llm_paragraph_dedup",
    "q_graph_triangles",
    "q_graph_adamic_adar",
    "q_graph_labelprop",
    "q_graph_hits",
]
SCALING_FACTOR = 10
SCALING_BUDGET_SEC = 480.0

# The fixture-truth twins DECLARED superlinear at 10×: each is kept in
# SCALING_KEYS deliberately, as the quadratic control sitting next to
# its banded/fixed-k production sibling (SURVEY §2.16). Their ratios
# are real and expected to exceed ~1.2× the factor; the production
# siblings carry the linear contract the recall gates certify.
DECLARED_SUPERLINEAR = {
    # exact all-pairs Jaccard verifier (truth tier of the two-tier
    # pipeline; production sibling: q_llm_neardup_jaccard_banded)
    "q_llm_neardup_jaccard",
    # exact containment truth tier (sibling: q_llm_containment_banded)
    "q_llm_containment",
    # sampled k=n/50 codebook contract: assignment is n²/50 by design
    # (siblings: the fixed-k / probed-scaled family)
    "q_llm_ann_pq_indexed",
    # fixed-k clustering contract: 10× the corpus in the same 64
    # clusters makes the within-cluster pair scan quadratic
    # (production scales k with the corpus; sibling: semdedup_fixedk)
    "q_llm_semdedup",
}

HARD_TWIN_NOISE = 0.33  # the hard clustered twin's isotropic noise:
# the same manifold geometry as the 0.03 twin, tuned so the composed
# probed+scaled search sits mid-band instead of saturating at 1000
# permille (933 at registration; the transition is steep: 0.32 -> 967,
# 0.35 -> 900, 0.45 -> 633). The fixture is md5-determined and the
# engine deterministic, so any movement in its recall is an engine
# change, not flake.

# The routed/scaled searches: the only keys measured on the clustered
# 10× twins, so those fixtures cost three searches, not the full ladder.
ROUTED_KEYS = frozenset(
    {
        "q_llm_ann_ivf_probed",
        "q_llm_ann_pq_rerank_scaled",
        "q_llm_ann_pq_probed_scaled",
    }
)

# ANN recall fixtures run_scaling measures: (payload label, source dir,
# clustered-twin dir suffix, twin noise, key subset). The source is the
# bench fixture ("sf") or one of its generated scale dirs ("x1",
# "x10"). With a twin suffix, recall runs on a twin of the source whose
# embeddings have real cluster structure; None runs the full ladder.
#
# Geometry: the fixture embeddings are random-ish, so pairwise distances
# concentrate and ANY lossy quantizer (PQ ADC, IVF probe-1) has partial
# top-3 agreement with exact search even at 1×, while the tiers whose
# final ranking is exact hold. On the clustered twins "top-3 neighbors"
# is quantizer-resolvable, so high recall there plus low recall on the
# fixture is the fixture's distance concentration, not the plan.
RECALL_FIXTURES = [
    ("recall_1x", "x1", None, None, None),
    ("recall_10x", "x10", None, None, None),
    ("recall_clustered_1x", "sf", "_clustered", 0.03, None),
    ("recall_clustered_10x", "x10", "_clustered_x10", 0.03, ROUTED_KEYS),
    (
        "recall_clustered_hard_10x",
        "x10",
        "_clustered_hard_x10",
        HARD_TWIN_NOISE,
        ROUTED_KEYS,
    ),
]


def _scale_base(sf_dir: str) -> str:
    """Path prefix of the scale dirs generated from ``sf_dir``, keyed by
    the fixture name so a run at another SF never reuses a stale
    materialization."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/khose_scale") + f"_{tag}"


def run_scaling(spark, sf_dir: str) -> dict:
    """Time SCALING_KEYS at 1× and 10× volume and report the ratio.

    Both sides run against freshly GENERATED dirs (factor=1 and
    factor=10 of ``sf_dir``) so they share file layout, parquet
    encoding, and cold per-dir memo state (the graph backbone / PQ
    index caches are keyed per dir) — the ratio then measures the
    query, not warm-cache asymmetry. Superlinear ratios (>~1.2×factor)
    are the signal the plan gates can't see; DECLARED_SUPERLINEAR names
    the keys expected to exceed it. Then measures recall on every
    RECALL_FIXTURES row."""
    from khose_spark.scaling import ensure_clustered_dir, ensure_scale_dir

    base = _scale_base(sf_dir)
    t0 = time.perf_counter()
    one = ensure_scale_dir(spark, sf_dir, base + "_x1", factor=1)
    big = ensure_scale_dir(
        spark, sf_dir, base + f"_x{SCALING_FACTOR}", factor=SCALING_FACTOR
    )
    setup_sec = time.perf_counter() - t0
    keys: dict[str, dict] = {}
    start = time.perf_counter()
    truncated = False
    for name in SCALING_KEYS:
        if name not in registry.QUERIES:
            continue
        if time.perf_counter() - start > SCALING_BUDGET_SEC:
            truncated = True
            break
        t1 = time.perf_counter()
        registry.QUERIES[name](spark, one).count()
        sec_1x = time.perf_counter() - t1
        t1 = time.perf_counter()
        registry.QUERIES[name](spark, big).count()
        sec_10x = time.perf_counter() - t1
        keys[name] = {
            "sec_1x": round(sec_1x, 3),
            "sec_10x": round(sec_10x, 3),
            "ratio": round(sec_10x / sec_1x, 2) if sec_1x > 0 else None,
        }
        print(f"# scaling {name}: {sec_1x:.3f}s -> {sec_10x:.3f}s", file=sys.stderr)
    out = {"factor": SCALING_FACTOR, "setup_sec": round(setup_sec, 3), "keys": keys}
    if truncated:
        out["truncated"] = True  # budget hit; remaining keys dropped
    sources = {"sf": sf_dir, "x1": one, "x10": big}
    for label, source, twin, noise, only in RECALL_FIXTURES:
        # Per-fixture wrap: a failure is recorded under its own label.
        rdir = sources[source]
        try:
            if twin:
                rdir = ensure_clustered_dir(spark, rdir, base + twin, noise=noise)
            out[label] = run_ann_recall(spark, rdir, only)
        except Exception as exc:  # noqa: BLE001 — evidence; the gates read it
            out[label] = {"error": f"{type(exc).__name__}: {exc}", "dir": rdir}
        print(f"# {label}: {out[label]}", file=sys.stderr)
    return out


def run_ann_recall(spark, big_dir: str, only: frozenset | None = None) -> dict:
    """ANN recall on the 10× corpus (VERDICT r06 item 6): the sf0.1
    recall figures were measured where neighbor geometry is the base
    fixture's; the decorrelated 10× corpus has different cell/bucket
    occupancy, so recall is re-derived here against exact ground truth.

    Ground truth is brute force on the driver (20k×64 doubles ≈ 10 MB —
    measurement code, not the scale path): per method's OWN metric,
    cosine for IVF (it ranks by cosine in-cell) and full-precision L2²
    for PQ (ADC-vs-exact is the standard PQ recall definition). The
    two-tier near-dup recall comes from running the registered
    q_llm_lsh_recall_audit key on the 10× dir (its own exact tier is
    the ground truth there)."""
    import numpy as np

    rows = (
        spark.read.parquet(os.path.join(big_dir, "embeddings.parquet"))
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    qmask = ids < 10
    qids, qmat = ids[qmask], mat[qmask]
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    def exact_top3(scores_fn, better_desc: bool) -> dict[int, set[int]]:
        out: dict[int, set[int]] = {}
        for qi, qid in enumerate(qids):
            s = scores_fn(qi)
            mask = ids != qid
            cand, cs = ids[mask], s[mask]
            key = np.lexsort((cand, -cs if better_desc else cs))
            out[int(qid)] = {int(x) for x in cand[key[:3]]}
        return out

    # same rounding as the engine's ranking (round(...,4) + id tiebreak)
    exact_cos = exact_top3(lambda qi: np.round(qn[qi] @ matn.T, 4), True)
    exact_l2 = exact_top3(
        lambda qi: np.round(((mat - qmat[qi]) ** 2).sum(axis=1), 4), False
    )

    def recall_permille(key: str, truth: dict[int, set[int]]) -> int:
        got: dict[int, set[int]] = {}
        for r in registry.QUERIES[key](spark, big_dir).collect():
            got.setdefault(int(r["qid"]), set()).add(int(r["neighbor_id"]))
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        total = sum(len(t) for t in truth.values())
        return round(1000 * hits / total) if total else None

    if only is not None:
        # Subset mode (the clustered-10x routed-gate measurement): run
        # only the named keys so the extra fixture doesn't multiply the
        # whole ANN ladder's wall-clock.
        subset = {
            "ann_ivf_probed_r3_permille": ("q_llm_ann_ivf_probed", exact_cos),
            "ann_pq_rerank_scaled_r3_permille": (
                "q_llm_ann_pq_rerank_scaled", exact_l2),
            "ann_pq_probed_scaled_r3_permille": (
                "q_llm_ann_pq_probed_scaled", exact_l2),
        }
        return {
            label: recall_permille(key, truth)
            for label, (key, truth) in subset.items()
            if key in only
        }

    out = {
        "ann_ivf_r3_permille": recall_permille("q_llm_ann_ivf", exact_cos),
        "ann_pq_r3_permille": recall_permille(
            "q_llm_ann_pq_indexed", exact_l2
        ),
        # IVFPQ+R (round 8): same codes, top-10 ADC pool re-ranked by
        # exact L2^2 — measures what the refinement stage buys back
        # from the quantizer's cell distortion.
        "ann_pq_rerank_r3_permille": recall_permille(
            "q_llm_ann_pq_rerank", exact_l2
        ),
        # Fixed-k twins (round 9): the constant-64-seed production
        # contracts — recall tracked per round next to the sampled
        # forms so the codebook-size trade is a measured quantity.
        "ann_ivf_fixedk_r3_permille": recall_permille(
            "q_llm_ann_ivf_fixedk", exact_cos
        ),
        "ann_pq_fixedk_r3_permille": recall_permille(
            "q_llm_ann_pq_indexed_fixedk", exact_l2
        ),
        "ann_pq_rerank_fixedk_r3_permille": recall_permille(
            "q_llm_ann_pq_rerank_fixedk", exact_l2
        ),
        # Round 10: the probe-scaled forms that close VERDICT r09's
        # `weak` — multi-probe routing and the corpus-scaled (R=2n/25)
        # refinement pool. The scaled rerank is the GATED one (733‰
        # floor at 10×, enforced by recall_gate below).
        "ann_ivf_probed_r3_permille": recall_permille(
            "q_llm_ann_ivf_probed", exact_cos
        ),
        "ann_pq_rerank_scaled_r3_permille": recall_permille(
            "q_llm_ann_pq_rerank_scaled", exact_l2
        ),
        # Round 11: the composed key — probe-8 routing feeding the
        # corpus-scaled rerank within the probed cells. On decorrelated
        # fixtures this is bounded by routing recall (documented); the
        # GATED number is its clustered-10x entry (recall_gate_routed).
        "ann_pq_probed_scaled_r3_permille": recall_permille(
            "q_llm_ann_pq_probed_scaled", exact_l2
        ),
    }
    audit = registry.QUERIES["q_llm_lsh_recall_audit"](spark, big_dir).collect()
    if audit:
        out["two_tier_recall_permille"] = int(audit[0]["recall_permille"])
    # Containment recall (round 10, VERDICT r09 item 4): the banded
    # containment twin's declared residual risk (tiny-inside-huge
    # asymmetric pairs) measured per round, same audit pattern.
    caudit = registry.QUERIES["q_llm_containment_recall_audit"](
        spark, big_dir
    ).collect()
    if caudit:
        out["containment_recall_permille"] = int(
            caudit[0]["recall_permille"]
        )
    return out



def _bench_files_newest_first() -> list[str]:
    """BENCH_r*.json paths sorted by PARSED round number, newest first
    (a reverse lexicographic sort of the raw name breaks at round 100 —
    'BENCH_r99' sorts after 'BENCH_r100' — which would silently compare
    gates against stale rounds)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))

    def round_no(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", os.path.basename(p))
        return int(m.group(1)) if m else -1

    return sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=round_no,
        reverse=True,
    )


def _bench_rounds(sf, field: str = "queries", n: int = 2) -> list[tuple[str, dict]]:
    """(file name, body) of the newest ``n`` recorded rounds at scale
    ``sf`` whose body carries ``field``, newest first.

    A round record wraps bench's stdout line as ``parsed`` (null when
    the line overflowed its capture); files that do not parse are
    skipped. The sf filter comes before the cut to ``n``: timings at
    another scale are not comparable, so such a round must never push a
    comparable one out of the window."""
    out: list[tuple[str, dict]] = []
    for p in _bench_files_newest_first():
        try:
            with open(p) as f:
                doc = json.load(f)
            body = doc if doc.get("queries") else (doc.get("parsed") or {})
            if body.get("sf") != sf or not body.get(field):
                continue
        except (OSError, ValueError, AttributeError):
            continue
        out.append((os.path.basename(p), body))
        if len(out) == n:
            break
    return out


def regression_gate(spark, sf_dir: str, timings: dict[str, float], sf) -> dict:
    """Per-key bench regression gate — encode the ±40% host-noise band
    instead of eyeballing it.

    Offense = common-set total >1.4× the newest round at ``sf``, OR any
    single key >2× its trailing-two-round minimum (1 s absolute floor —
    sub-second keys swing multiples on host noise alone). Each offender
    gets ONE interleaved re-run (min of the two measurements replaces
    the timing — a noise spike must reproduce to fail); if a breach
    survives the re-run, the offenders are printed and bench exits
    nonzero. Thresholds documented in BASELINE.md."""
    # '_'-prefixed entries are compact-line subtotals, not queries
    prev = [
        (
            name,
            {
                k: float(v)
                for k, v in body["queries"].items()
                if not k.startswith("_") and isinstance(v, (int, float))
            },
        )
        for name, body in _bench_rounds(sf)
    ]
    if not prev:
        # Recorded rounds are at a different SF (e.g. a local sf0.001
        # dev run vs the driver's sf0.1 records) — cross-scale timing
        # comparisons are meaningless, so the gate stands down.
        return {"ok": True, "reason": f"no prior parseable round at sf={sf}"}

    def _offenders() -> dict[str, dict]:
        bad: dict[str, dict] = {}
        for k, v in timings.items():
            hist = [q[k] for _, q in prev if k in q]
            if hist and v > 2 * min(hist) and v > 1.0:
                bad[k] = {"sec": v, "prev_min": round(min(hist), 3)}
        return bad

    def _total_breach():
        common = common_with_prev(timings, sf)
        if common and common["sec"] > 1.4 * common["prev_sec"]:
            return common
        return None

    bad, total_bad = _offenders(), _total_breach()
    if not bad and not total_bad:
        return {"ok": True}

    # One interleaved re-run: per-key offenders, plus (on a total
    # breach) every common key that grew >1.4× and costs >0.5 s.
    rerun = set(bad)
    if total_bad:
        newest = prev[0][1]
        rerun |= {
            k
            for k, v in timings.items()
            if k in newest and v > 1.4 * newest[k] and v > 0.5
        }
    for k in sorted(rerun):
        t0 = time.perf_counter()
        registry.QUERIES[k](spark, sf_dir).count()
        dt = time.perf_counter() - t0
        print(f"# rerun {k}: {timings[k]:.3f}s -> {dt:.3f}s", file=sys.stderr)
        timings[k] = round(min(timings[k], dt), 3)

    bad, total_bad = _offenders(), _total_breach()
    result = {
        "ok": not bad and not total_bad,
        "reran": sorted(rerun),
        "per_key_offenders": bad,
    }
    if total_bad:
        result["total_breach"] = total_bad
    if not result["ok"]:
        print(
            "# REGRESSION GATE FAILED: "
            + json.dumps({"per_key": bad, "total": total_bad}),
            file=sys.stderr,
        )
    return result


def _ingest10_history(sf) -> list[float]:
    """Trailing 10× ingest rates at ``sf``. The BENCH_DETAIL.json on
    disk is the last round's full payload when this runs (main reads it
    before overwriting); its measured ingest_10x rate plus the trailing
    max its own gate carried forward give a two-round memory without
    inventing a new artifact."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json")) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        return []
    if doc.get("sf") != sf:
        return []
    rates = [
        (doc.get("ingest_10x") or {}).get("rows_per_sec"),
        (doc.get("ingest_gate_10x") or {}).get("prev_max"),
    ]
    return [float(r) for r in rates if isinstance(r, (int, float))]


class Gate(NamedTuple):
    """One row of GATES. The value at ``source`` (a path into the bench
    payload) must reach ``floor``: a fixed permille floor, or, when
    ``floor`` is a history reader ``floor(sf) -> [rates]``,
    INGEST_FLOOR_SHARE × the max of the trailing rates. With ``rerun``,
    a breach re-measures the payload block once with run_ingest and
    keeps the better measurement. ``what`` names the measurement in the
    record's skip reasons; ``record`` is copied into the record."""

    source: tuple[str, ...]
    floor: int | Callable[[object], list[float]]
    what: str
    rerun: bool = False
    record: dict = {}


INGEST_FLOOR_SHARE = 0.6

# Every gate but the per-key regression gate; each breach exits 3.
# Thresholds and fixtures are documented in BASELINE.md.
GATES = {
    # Ingest: the queries' interleaved-rerun rule applied to rows/s.
    "ingest_gate": Gate(
        ("ingest", "rows_per_sec"),
        lambda sf: [
            float(body["ingest_rows_per_sec"])
            for _, body in _bench_rounds(sf, "ingest_rows_per_sec")
        ],
        "ingest",
        rerun=True,
    ),
    "ingest_gate_10x": Gate(
        ("ingest_10x", "rows_per_sec"), _ingest10_history, "10x ingest", rerun=True
    ),
    # The corpus-scaled IVFPQ+R rerank on the decorrelated 10× corpus:
    # 733 is what the sampled n/50-codebook contract achieved there, the
    # bar its scale-linear replacement must clear.
    "recall_gate": Gate(
        ("scaling", "recall_10x", "ann_pq_rerank_scaled_r3_permille"),
        733,
        "10x recall",
        record={"key": "q_llm_ann_pq_rerank_scaled"},
    ),
    # The composed routed search on the clustered 10× twin: cell routing
    # is information-limited on decorrelated data (any sublinear reader
    # is), so the routed floor holds where neighbor geometry is
    # quantizer-resolvable, the case real embeddings present.
    "recall_gate_routed": Gate(
        ("scaling", "recall_clustered_10x", "ann_pq_probed_scaled_r3_permille"),
        900,
        "clustered-10x recall",
        record={"key": "q_llm_ann_pq_probed_scaled", "fixture": "clustered_10x"},
    ),
    # The same search on the hard twin, where it is not saturated: 866 is
    # registration's 933 minus two ground-truth neighbors (30 pairs, 33
    # permille each), so one lost neighbor shows but passes and two fail.
    "recall_gate_routed_hard": Gate(
        ("scaling", "recall_clustered_hard_10x", "ann_pq_probed_scaled_r3_permille"),
        866,
        "hard-clustered-10x recall",
        record={
            "key": "q_llm_ann_pq_probed_scaled",
            "fixture": f"clustered_hard_10x (noise={HARD_TWIN_NOISE})",
            "registration_permille": 933,
        },
    ),
}


def check_gate(name: str, payload: dict, sf, spark=None, rerun_dir=None) -> dict:
    """Evaluate GATES[name] on ``payload`` and return its record. A
    re-run gate's breach re-measures with run_ingest(spark, rerun_dir)
    and puts the better measurement into ``payload`` (a noise spike must
    reproduce to fail); the record keeps both."""
    gate = GATES[name]
    block, *path, field = gate.source
    measured = payload.get(block)
    if not measured:
        return {"ok": True, "reason": f"{block} report skipped"}
    for p in path:
        measured = measured.get(p) or {}
    value = measured.get(field)
    if not isinstance(value, (int, float)):
        return {"ok": True, "reason": f"no {gate.what} measurement in this run"}
    if not callable(gate.floor):
        rec = {
            "ok": value >= gate.floor,
            "floor_permille": gate.floor,
            "measured_permille": value,
        }
    else:
        prev = gate.floor(sf)
        if not prev:
            return {"ok": True, "reason": f"no prior {gate.what} record at sf={sf}"}
        floor = INGEST_FLOOR_SHARE * max(prev)
        rec = {"ok": value >= floor, "prev_max": max(prev)}
        if not rec["ok"] and gate.rerun:
            print(
                f"# {name}: {value} < {INGEST_FLOOR_SHARE}*{max(prev)} — re-running",
                file=sys.stderr,
            )
            second = run_ingest(spark, rerun_dir)
            best = max(measured, second, key=lambda m: m[field])
            payload[block] = best
            rec.update(
                {
                    "ok": best[field] >= floor,
                    "first_rows_per_sec": value,
                    "rerun_rows_per_sec": second[field],
                }
            )
    rec.update(gate.record)
    if not rec["ok"]:
        print(f"# {name} FAILED: " + json.dumps(rec), file=sys.stderr)
    return rec


# Indexed-ANN lifecycle: build step -> the registered SEARCH keys that
# read its tables. Builds are timed first-touch and
# separately; the per-key headline numbers then measure search only.
ANN_LIFECYCLE = [
    (
        "pq_sampled",
        partial(build_pq_index, name="pq", encode=encode_pq_sampled),
        ["q_llm_ann_pq_indexed", "q_llm_ann_pq_rerank"],
    ),
    (
        "pq_fixedk",
        partial(
            build_pq_index,
            name="pqf",
            encode=similarity_fixedk.encode_pq_fixedk,
        ),
        [
            "q_llm_ann_pq_indexed_fixedk",
            "q_llm_ann_pq_rerank_fixedk",
            "q_llm_ann_pq_rerank_scaled",
        ],
    ),
    (
        "ivfpq_fixedk",
        partial(
            build_pq_index,
            name="ivfpqf",
            encode=similarity_fixedk.encode_ivfpq_fixedk,
            partition_by="cid",
        ),
        ["q_llm_ann_pq_probed_scaled"],
    ),
]


# Dedup-family memo lifecycle: the ANN_LIFECYCLE pattern applied to the
# shared shingle/signature memos. Built and timed up front so the
# per-key headline numbers of their consumers measure the consumer
# only; the build cost stays visible in the payload's shingle_lifecycle
# block.
SHINGLE_LIFECYCLE = [
    (
        "doc_shingles",
        llm.doc_shingles,
        [
            "q_llm_exact_dedup",
            "q_llm_neardup_jaccard",
            "q_llm_minhash_lsh",
            "q_llm_neardup_two_tier",
            "q_llm_lsh_recall_audit",
            "q_llm_bloom_prefilter",
            "q_llm_minhash_estimator_audit",
            "q_llm_neardup_jaccard_banded",
            "q_llm_containment_banded",
            "q_llm_containment_recall_audit",
            "q_llm_containment",
            "q_llm_simhash",
        ],
    ),
    (
        "minhash_signatures",
        dedup_audit._det_signatures,
        [
            "q_llm_minhash_det",
            "q_llm_lsh_recall_audit",
            "q_llm_incremental_dedup",
            "q_llm_lsh_threshold_sweep",
            "q_llm_minhash_estimator_audit",
            "q_llm_dedup_funnel",
            "q_llm_band_occupancy",
            "q_llm_neardup_jaccard_banded",
            "q_llm_containment_banded",
            "q_llm_containment_recall_audit",
        ],
    ),
]


def run_ann_lifecycle(
    spark, sf_dir: str, names: list[str], lifecycle=ANN_LIFECYCLE
) -> dict:
    """Time each index build once (first touch populates the session
    memo keyed on (applicationId, sf_dir, name)); return per-build
    seconds plus the search keys whose headline timings are therefore
    search-only. Builds whose search keys aren't in this run are
    skipped — no wasted writes on --all subsets or dev key lists."""
    out: dict[str, dict] = {}
    wanted = set(names)
    for label, build, search_keys in lifecycle:
        if not wanted & set(search_keys):
            continue
        t0 = time.perf_counter()
        build(spark, sf_dir)
        dt = round(time.perf_counter() - t0, 3)
        out[label] = {"build_sec": dt, "search_keys": search_keys}
        print(f"# ann build {label}: {dt:.3f}s", file=sys.stderr)
    return out


def _family(name: str) -> str:
    """Bucket a query key into its operator family (q_<fam>_...)."""
    parts = name.split("_")
    return parts[1] if len(parts) > 1 else name



def common_with_prev(timings: dict[str, float], sf) -> dict | None:
    """Round-over-round comparability: subtotal this run over the
    intersection with the newest recorded round at ``sf``, next to the
    same subtotal from that round — so a changed suite composition
    can't masquerade as a perf regression/win."""
    rounds = _bench_rounds(sf, n=1)
    if not rounds:
        return None
    prev_file, body = rounds[0]
    prev = body["queries"]
    # "_"-prefixed entries are compact-line subtotals, not queries
    common = sorted(
        k for k in set(prev) & set(timings) if not k.startswith("_")
    )
    if not common:
        return None
    return {
        "prev_file": prev_file,
        "n_queries": len(common),
        "sec": round(sum(timings[k] for k in common), 3),
        "prev_sec": round(sum(float(prev[k]) for k in common), 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    registry.load_all()
    spark = get_spark("khose-bench")

    if "--ingest" in sys.argv:  # standalone ingest-throughput mode
        ing = run_ingest(spark, sf_dir)
        print(f"# ingest: {ing}", file=sys.stderr)
        print(
            json.dumps(
                {
                    "metric": "ingest_rows_per_sec",
                    "value": ing["rows_per_sec"],
                    "unit": "rows/sec",
                    "queries": {"ingest_drain_sec": ing["sec"]},
                    "ingest": ing,
                    "sf": sf,
                }
            )
        )
        spark.stop()
        return

    if "--all" in sys.argv:  # full sweep: every registered query
        names = sorted(registry.QUERIES)
    else:
        names = [n for n in HEADLINE if n in registry.QUERIES]
    timings: dict[str, float] = {}
    # Warm the JVM + parquet footers once so per-query numbers measure the
    # plan, not session startup. This also stores the schemas of the first
    # key's tables (tables.t), so their reads in the timed loop run no
    # inference job.
    registry.QUERIES[names[0]](spark, sf_dir).count()

    # Run the one-time ANN index builds and the dedup family's shared
    # shingle/signature memo builds up front and time them separately:
    # the headline timings of their consumers then measure search only,
    # so a search regression can't hide inside build noise, and the
    # build cost is still recorded.
    ann_lifecycle = run_ann_lifecycle(spark, sf_dir, names)
    shingle_lifecycle = run_ann_lifecycle(
        spark, sf_dir, names, lifecycle=SHINGLE_LIFECYCLE
    )

    for name in names:
        t0 = time.perf_counter()
        df = registry.QUERIES[name](spark, sf_dir)
        n = df.count()
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        print(f"# {name}: {dt:.3f}s rows={n}", file=sys.stderr)

    # Regression gate BEFORE the ingest/scaling extras: offenders get
    # their interleaved re-run while the session state matches the
    # original measurement as closely as possible.
    gate = regression_gate(spark, sf_dir, timings, sf)

    # The headline loop and the gate's re-runs are done with the session
    # memos — unpersist their blocks NOW so the ingest/scaling extras
    # below start from a clean storage footprint (the 10x block would
    # otherwise stack a second corpus's memos on top of these).
    from khose_spark import memo as _memo

    _memo.release_all()

    families: dict[str, float] = {}
    for name, dt in timings.items():
        fam = _family(name)
        families[fam] = round(families.get(fam, 0.0) + dt, 3)
    payload = {
        "metric": "full_suite_total" if "--all" in sys.argv else "headline_suite_total",
        "value": round(sum(timings.values()), 3),  # after any re-runs
        "unit": "sec",
        "queries": timings,
        "families": families,
        "sf": sf,
        "regression_gate": gate,
    }

    # khose's own axis — records/s through the streaming ingest pipeline —
    # rides along in the same single JSON line (contract: ONE line).
    payload["ingest"] = run_ingest(spark, sf_dir)
    print(f"# ingest: {payload['ingest']}", file=sys.stderr)
    payload["ingest_gate"] = check_gate("ingest_gate", payload, sf, spark, sf_dir)

    # 10× ingest: the same pipeline over the 10× events materialization
    # when it's on disk — throughput evidence at ~1M rows.
    ten_x = _scale_base(sf_dir) + f"_x{SCALING_FACTOR}"
    if os.path.exists(os.path.join(ten_x, f"_SCALED_x{SCALING_FACTOR}_OK")):
        try:
            payload["ingest_10x"] = run_ingest(spark, ten_x)
            print(f"# ingest 10x: {payload['ingest_10x']}", file=sys.stderr)
            payload["ingest_gate_10x"] = check_gate(
                "ingest_gate_10x", payload, sf, spark, ten_x
            )
        except Exception as exc:  # noqa: BLE001 — evidence, not a crash
            payload["ingest_10x"] = {"error": f"{type(exc).__name__}: {exc}"}

    # 10× scaling proof for the heavy tail (skippable for quick local
    # iterations: SPARK_GRAFT_SCALING=0).
    if os.environ.get("SPARK_GRAFT_SCALING", "1") == "1" and "--all" not in sys.argv:
        payload["scaling"] = run_scaling(spark, sf_dir)
    for name, g in GATES.items():
        if g.source[0] == "scaling":
            payload[name] = check_gate(name, payload, sf)

    if ann_lifecycle:
        # Attach the measured search-only seconds next to each build so
        # the lifecycle reads as one block: build once, search many.
        for blk in ann_lifecycle.values():
            blk["search_sec"] = {
                k: timings[k] for k in blk["search_keys"] if k in timings
            }
        payload["ann_lifecycle"] = ann_lifecycle
    if shingle_lifecycle:
        for blk in shingle_lifecycle.values():
            blk["consumer_sec"] = {
                k: timings[k] for k in blk["search_keys"] if k in timings
            }
        payload["shingle_lifecycle"] = shingle_lifecycle
    common = common_with_prev(timings, sf)
    if common is not None:
        payload["common_with_prev"] = common

    # The driver records only the LAST ~2000 chars of stdout and parses
    # the JSON line out of that tail — a full payload overflowed it and
    # was recorded unparsed. So: FULL payload goes to a committed
    # sidecar (BENCH_DETAIL.json), stdout gets a compact line that is
    # guaranteed to fit — per-query timings at 1 decimal for every query
    # above an adaptive threshold, the noise-floor rest as one subtotal.
    here = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(here, "BENCH_DETAIL.json")
    # Scale guard: BENCH_DETAIL.json is the ROUND artifact — the
    # trailing-record memory the sf-matched gates read next round (the
    # 10x ingest gate once lost its sf0.1 record to sf0.001 dev smokes
    # that clobbered the sidecar before the real sf0.1 run). A run at
    # any other sf keeps its full payload in a dev-scratch sidecar
    # instead; the committed artifact only ever holds the graded scale.
    committed_sf = None
    try:
        committed_sf = json.load(open(detail_path)).get("sf")
    except (OSError, ValueError):
        pass
    if sf != 0.1 and committed_sf == 0.1:
        detail_path = os.path.join(here, "BENCH_DETAIL_dev.json")
        print(
            f"# dev-sf run (sf={sf}): full payload -> "
            "BENCH_DETAIL_dev.json (committed sf0.1 sidecar preserved)",
            file=sys.stderr,
        )
    # Carry forward the recorded A/B (ab_vs_*) and evidence_* blocks
    # already in the sidecar: no tool writes them any more, and a bench
    # rewrite must not erase that evidence.
    try:
        prior_detail = json.load(open(detail_path))
        for k, v in prior_detail.items():
            if (
                k.startswith(("ab_vs_", "evidence_"))
                and k not in payload
            ):
                payload[k] = v
    except (OSError, ValueError):
        pass
    with open(detail_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps(_compact_line(payload), separators=(",", ":")))
    spark.stop()
    if any(not payload.get(k, {}).get("ok", True) for k in ("regression_gate", *GATES)):
        sys.exit(3)  # gate breach (offenders on stderr)


def _compact_line(payload: dict, budget: int = 1900) -> dict:
    timings = payload["queries"]
    out = {
        "metric": payload["metric"],
        "value": round(payload["value"], 1),
        "unit": "sec",
        "queries": {},
        "n_queries": len(timings),
        "sf": payload["sf"],
        "ingest_rows_per_sec": payload["ingest"]["rows_per_sec"],
        "detail": "BENCH_DETAIL.json",
    }
    if "scaling" in payload:
        ratios = [
            v["ratio"]
            for v in payload["scaling"]["keys"].values()
            if v.get("ratio")
        ]
        # max_ratio is dominated by the DECLARED superlinear twins, so
        # the line also names that set and the worst ratio among the
        # production (linear-contract) keys, keeping the one-line number
        # interpretable on its own.
        linear = [
            v["ratio"]
            for k, v in payload["scaling"]["keys"].items()
            if v.get("ratio") and k not in DECLARED_SUPERLINEAR
        ]
        out["scaling"] = {
            "factor": payload["scaling"]["factor"],
            "n_keys": len(ratios),
            "max_ratio": max(ratios) if ratios else None,
            "max_ratio_linear_contract": max(linear) if linear else None,
            "declared_superlinear": sorted(
                k
                for k in payload["scaling"]["keys"]
                if k in DECLARED_SUPERLINEAR
            ),
        }
        # the recall blocks the gates read
        for g in GATES.values():
            if g.source[0] == "scaling":
                rec = payload["scaling"].get(g.source[1])
                if rec and "error" not in rec:
                    out["scaling"][g.source[1]] = rec
    for k in ("regression_gate", *GATES):
        if not payload.get(k, {}).get("ok", True):
            out[k] = "FAILED"
    if "common_with_prev" in payload:
        out["common_with_prev"] = payload["common_with_prev"]
    for threshold in (0.5, 1.0, 2.0, 5.0, 1e9):
        slow = {k: round(v, 1) for k, v in timings.items() if v >= threshold}
        fast = sum(v for v in timings.values() if v < threshold)
        out["queries"] = dict(
            sorted(slow.items()), _rest_total=round(fast, 1)
        )
        if len(json.dumps(out, separators=(",", ":"))) <= budget:
            break
    return out


if __name__ == "__main__":
    main()
