"""Physical-plan hygiene gate (SURVEY.md §6 guidance made enforceable).

The 100 TB posture is mostly about what the plan does NOT contain:
surprise cartesian products, non-broadcast nested-loop joins, and
shuffle counts creeping up. This sweep pins the audited state of every
registered query so a regression (a lost broadcast hint, a join that
degenerates to a cartesian, a duplicated Exchange) fails CI instead of
surfacing as a 100× slowdown at scale.
"""

from __future__ import annotations

import json
import os

import pytest

from khose_spark import registry

registry.load_all()

# Queries that INTENTIONALLY use BroadcastNestedLoopJoin: an explicit
# cartesian over a broadcast side (tiny-by-construction), which is the
# correct physical plan for these semantics.
BNLJ_ALLOWED = {
    "q_graph_hits",            # 1-row L1-normalization total broadcast-
                               # crossed into the node-sized score
                               # relation; visible in the returned plan
                               # since r13 checkpoints the RAW half-step
                               # aggregate instead of the normalized
                               # projection (removing the double-
                               # computed edges join per half-step)
    "q_stream_state_budget_batchsem",  # 1-row stream-frontier (max ts)
                               # aggregate broadcast-crossed into the
                               # fact scan (the live-horizon predicate)
    "q_stream_curation_e2e_batchsem",  # stage-0 ingest audit: 1-row
                               # landing-count aggregate broadcast-
                               # crossed with the 1-row compacted fold
    "q_llm_pack_efficiency",   # broadcast 3-row window-size dim
                               # crossed with the 8-row bucket totals
    "q_ts_theta_forecast",     # 1-row OLS Cramer fold broadcast-
                               # crossed into the ~31-row day spine
                               # (the D-scaled theta series)
    "q_ts_sad_profile",        # days-bounded (~27x27) subsequence
                               # self-join on the non-equi exclusion
                               # |a-b| >= 3 (matrix-profile rule)
    "q_ts_paa_sax",            # 1-row exact-quartile breakpoint fold
                               # broadcast-crossed into 6 segment rows
    "q_ml_levene_bf",          # 1-row F-statistic fold broadcast-
                               # crossed back into the 5 group rows
    "q_ml_dunn_posthoc",       # 5-row group fold self-joined on the
                               # non-equi grp_i < grp_j (10 pairs) +
                               # 1-row variance fold crossed back
    "q_ml_cliffs_delta",       # declared <=491-band-per-group grid
                               # crossed (<=241k pairs) + 1-row totals
                               # cross (the gamma discipline)
    "q_ml_hodges_lehmann",     # same banded grid cross; the weighted-
                               # median fold + 1-row totals cross
    "q_ml_runs_test",          # 1-row median broadcast-crossed into
                               # the ~31-row day spine
    "q_ts_kpss_lag0",          # 1-row (n, Σx) stats fold broadcast-
                               # crossed into the ~31-row day spine
                               # (the u-carrier projection) and into
                               # the 1-row quadratic fold
    "q_ml_g_test",             # 1-row totals broadcast-crossed into
                               # the <=15-cell grid fold and the
                               # output row
    "q_ts_variance_ratio",     # two 1-row horizon folds broadcast-
                               # crossed (the VR ratio)
    "q_ml_chisq_gof",          # 1-row total/fold crosses into the
                               # 5-row priority grid
    "q_ml_mood_median",        # 1-row medband/median broadcast-crossed
                               # into the fact scan (the banded two-
                               # phase quantile) + 1-row folds into
                               # the 5-row contingency
    "q_ml_jonckheere",         # bounded densify cross (<=5001 bands x
                               # 5-row group dim) + 1-row sizes fold
                               # crossed into the 1-row JT fold
    "q_ml_gamma_concordance",  # declared <=50-cell contingency table
                               # crossed with itself (<=2500 pairs) +
                               # 1-row totals cross
    "q_ml_theil_u",            # broadcast crosses of the 1-row total
                               # into the <=15-cell marginals and the
                               # three 1-row entropy folds
    "q_llm_ann_probe_audit",   # 64-row broadcast seed cross into the
                               # 10-row query block (the shared ivf
                               # routing idiom) + 1-row corpus-total
                               # cross into the 10-row audit
    "q_llm_corpus_refresh_incremental",  # 1-row merged-total aggregate
                               # broadcast-crossed into the ~5-row
                               # per-lang mixture relation
    "q_ml_cochran_q",          # 1-row corpus-totals aggregate
                               # broadcast-crossed into the per-user
                               # counts (the integer mean threshold)
    "q_ml_page_trend",         # broadcast 4-row week dim crossed with
                               # the distinct purchasing users (the
                               # zero-fill grid, constant 4x)
    "q_join_cross",            # declared cartesian (region × nation)
    "q_dq_sequence_gaps",      # 1-row key-space bounds aggregate
                               # broadcast-crossed into the gap-start
                               # relation (the k < kmax trim)
    "q_agg_hll_audit",         # 1-row exact-count aggregate broadcast-
                               # crossed into the 1-row register fold
    "q_join_geo_knn",          # same 3x3 probe fan-out as geo_grid:
                               # supplier dim × broadcast offset grids
    "q_ts_cusum",              # 5-row type dim crossed with the
                               # broadcast ~30-row observed-day spine
                               # (zero-fill grid, constant size)
    "q_ts_dtw",                # same shared daily-spine cross
    "q_ml_calibration",        # 1-row global-train-rate fallback
                               # broadcast-crossed into the test band
                               # grid (the q_ml_brier idiom)
    "q_join_geo_grid",         # 100-row supplier dim × broadcast 3-row
                               # neighbor-offset grids (the 3x3 cell
                               # probe fan-out, constant 9x on the
                               # SMALL side)
    "q_llm_cosine_topk",       # 10 broadcast query vectors × corpus
    "q_llm_knn_label_vote",    # same candidate generator
    "q_llm_ann_ivf",           # corpus × broadcast centroid set
    "q_llm_lsh_srp",           # corpus × broadcast 16-hyperplane table
    "q_subq_scalar_global",    # 1-row global aggregate broadcast into
                               # the filter — the scalar-subquery plan
    "q_scan_key_skew",         # 1-row grand-total aggregate broadcast-
                               # crossed into the top-10 ranked counts
    "q_tpch_q22_global_sales", # 1-row avg-balance aggregate broadcast-
                               # crossed into the cohort (scalar subquery)
    "q_dq_expectations",       # 1-row n_checked aggregate broadcast-
                               # crossed into the FK-rule row
    "q_ts_interpolate",        # hour spine × broadcast 5-row distinct
                               # event-type dimension
    "q_llm_tfidf",             # 1-row corpus-size aggregate broadcast-
                               # crossed into the term-score relation
    "q_llm_dsir",              # 1-row totals (tot_t/tot_s/V) broadcast-
                               # crossed into the vocab-sized LLR model
                               # (the tfidf/surprisal idiom)
    "q_lake_compaction_plan",  # 1-row total/target aggregate broadcast-
                               # crossed into the dimension-bounded
                               # file list (the scalar-subquery idiom)
    "q_llm_kmeans",            # 1-row broadcast centroid-array collapse
                               # crossed into the corpus each iteration
                               # (map-side argmin fold, no vector shuffle)
    "q_ml_silhouette",         # same shared _lloyd broadcast-cross
                               # subtree + one more centroid-array
                               # cross for the a/b silhouette fold
    "q_ml_target_encoding",    # 1-row global-mean fold broadcast-
                               # crossed into the 5-category relation
    "q_ml_info_gain",          # 1-row class-totals fold broadcast-
                               # crossed into the 5-bin relation
    "q_ts_pacf2",              # 2-row lag grid broadcast-crossed into
                               # the centered per-type daily relation
                               # (the ljung_box idiom)
    "q_ml_woe_iv",             # 1-row good/bad totals + 1-row IV fold
                               # broadcast-crossed into the 5-bin table
    "q_llm_mixture_temperature",  # 1-row normalizer fold broadcast-
                               # crossed into the |langs| relation
    "q_er_token_blocking",     # 1-row part-universe count broadcast-
                               # crossed into the block-size relation
                               # (the stop-token 1% cap)
    "q_ml_shapley_2f",         # 1-row OLS-coefficient relation
                               # broadcast-crossed into the deviation
                               # pass (the q_ml_brier idiom)
    "q_ts_ljung_box",          # 3-row lag grid broadcast-crossed into
                               # the centered per-type daily relation
    "q_ml_mann_whitney",       # 1-row tie-correction aggregate
                               # broadcast-crossed into the 1-row U
                               # fold (the scalar-subquery idiom)
    "q_ts_burstiness",         # 5-row type dim crossed with the
                               # broadcast 720-row generator hour
                               # spine (constant at any scale)
    "q_llm_bm25",              # 1-row corpus-stats (N, avgdl) aggregate
                               # broadcast-crossed into the tf relation
    "q_llm_bigram_lm",         # 1-row vocabulary-size aggregate
                               # broadcast-crossed into the bigram stream
    "q_llm_dataset_mixture",   # 1-row leftover-budget aggregate
                               # broadcast-crossed into the 5-row alloc
    "q_llm_lsh_recall_audit",  # three 1-row count aggregates
                               # broadcast-crossed into one audit row
    "q_llm_containment_recall_audit",  # same three-count audit fold
                               # (the containment twin of the above)
    "q_ml_naive_bayes",        # 1-row corpus-size + vocab-size aggregates
                               # broadcast-crossed into the scoring stream
    "q_fn_geo_haversine",      # 25-row nation dimension self-paired on a
                               # < condition (300 pairs, broadcast by
                               # construction)
    # partsupp synthesis (tpch_partsupp.synth_partsupp): a 1-row
    # supplier-count aggregate broadcast-crossed into the part
    # projection — the scalar-subquery idiom; q11 adds a second 1-row
    # grand-total cross (classic Q11 scalar subquery).
    "q_tpch_q2_min_cost_supp",
    "q_tpch_q9_product_profit",
    "q_tpch_q11_important_stock",
    "q_tpch_q16_supplier_cnt",
    "q_tpch_q20_excess_stock",
    "q_tpch_q15_top_supplier",  # 1-row max-revenue aggregate broadcast-
                                # crossed into the revenue view (classic
                                # Q15 scalar subquery)
    "q_llm_semdedup",           # 1-row broadcast centroid-array collapse
                                # crossed into the corpus (the kmeans
                                # map-side argmin fold, single pass)
    # Fixed-k twins (round 9): same broadcast-cross idioms as their
    # sampled originals — 1-row centroid-array collapse into the corpus
    # (argmin fold), broadcast 16-hyperplane table, broadcast fixed
    # pool / 64-seed centroid set.
    "q_llm_ann_ivf_fixedk",     # corpus × broadcast 64-seed centroids
    "q_llm_ann_ivf_probed",     # same corpus × broadcast-64 cross (the
                                # fixedk assign), probe-8 query side
    "q_llm_ann_pq_rerank_scaled",  # 1-row pool-size (R=2n/25) aggregate
                                # broadcast-crossed into the ADC ranking
                                # (the scalar-subquery idiom)
    "q_llm_ann_pq_probed_scaled",  # same 1-row pool-size cross, plus
                                # the corpus × broadcast-64 routing
                                # cross (composed IVFPQ+R search)
    "q_lake_compaction_apply",  # 1-row target/v1-total/v2-total audit
                                # aggregates broadcast-crossed into the
                                # 8-row bin rollup (scalar-subquery
                                # idiom ×3)
    "q_llm_kmeans_fixedk",      # 1-row centroid-array collapse / round
    "q_ml_silhouette_fixedk",   # shared fixed _lloyd cross + a/b fold
    "q_llm_semdedup_fixedk",    # argmin-fold cross + broadcast planes
    "q_llm_negative_sampling_fixedpool",  # broadcast 1000-doc pool ×
                                # query stream (≠-lang theta join)
    "q_ml_boosted_stumps",      # 1-row chosen-stump relations
                                # broadcast-crossed into the bounded
                                # count grid (reweight + ensemble)
    "q_agg_cm_join_estimate",   # 1-row estimate/truth relations
                                # broadcast-crossed into one audit row
                                # (the scalar-subquery idiom ×4)
    "q_ts_acf",                 # 3-row broadcast lag dimension crossed
                                # into the tiny daily rollup
    "q_ml_logreg",              # 1-row broadcast weight vector crossed
                                # into the corpus each gradient step
                                # (the kmeans map-side collapse idiom)
    "q_llm_kl_divergence",      # 1-row corpus-total aggregate broadcast-
                                # crossed into the per-source term stats
    "q_llm_jsd_sources",        # same shape: 1-row corpus-total
                                # aggregate broadcast-crossed into the
                                # per-source term stats
    "q_llm_bloom_prefilter",    # 1-row filter-saturation stats broadcast-
                                # crossed into the 1-row FP audit
    "q_graph_triangles",        # 1-row grand-total aggregate broadcast-
                                # crossed into the 625-row nation grid
                                # (edge admission threshold)
    "q_graph_clustering",       # 1-row t6 / degree-stats / edge-count
                                # aggregates broadcast-crossed into the
                                # single transitivity row
    "q_ts_cross_correlation",   # 5-row broadcast lag dimension crossed
                                # into the filtered daily rollup (the
                                # q_ts_acf lag-dim idiom)
    "q_llm_negative_sampling",  # bounded ~10% md5-bucket candidate
                                # pool explicitly broadcast into the
                                # cross-lang != join (docstring's
                                # declared scale contract)
    "q_ml_pr_curve",            # 5-row broadcast threshold grid
                                # crossed into the scan (constant 5x
                                # map-side expansion, the acf idiom)
    "q_ts_rolling_wau",         # 1-row min-day bound broadcast-crossed
                                # into the per-day DAU/WAU relation
                                # (warm-up exclusion)
    "q_agg_quantile_bin_audit", # 3-row broadcast quantile grid >= -
                                # joined into the ~500-band cum
                                # histogram + 1-row exact reference
                                # cross
    "q_ml_brier",               # 1-row global-train-rate fallback
                                # broadcast-crossed into the test band
                                # grid
    "q_llm_lsh_threshold_sweep",# 5-row broadcast threshold grid >=
                                # joined into the 17-bucket agreement
                                # histogram + 1-row closed-form total
                                # cross (candidates themselves come
                                # from the lossless 16x1 slot-band
                                # equi-join since r08 — no all-pairs)
    "q_ml_psi",                 # 1-row cohort-total aggregate
                                # broadcast-crossed into the band grid
    "q_agg_theil",              # 1-row grand-total aggregate
                                # broadcast-crossed into the 25-row
                                # nation relation (decomposition
                                # shares)
    "q_agg_benford",            # 1-row order-count total broadcast-
                                # crossed into the 9-row digit histogram
    # Surfaced when the interior audit landed (the release-checkpoint
    # pattern had been truncating these plans to ExistingRDD scans):
    "q_llm_bpe_merges",         # per-round 1-row winning-pair subtree
                                # broadcast-crossed back as the next
                                # round's merge parameters (the fused
                                # single-job BPE)
    "q_er_fellegi_sunter",      # 1-row u-probability scalar aggregates
                                # broadcast-crossed into the pattern
                                # scoring relation
    "q_llm_pmi",                # 1-row unigram/bigram grand totals
                                # broadcast-crossed into the pair stream
    "q_llm_ndcg",               # 1-row corpus stats broadcast-crossed
                                # into the per-query ranking relation
    "q_fn_ipv4_cidr",           # 6-row CIDR dim broadcast containment
                                # join (div-alignment predicate is
                                # non-equi by construction)
    "q_ml_confusion_multiclass",# ≤5-row class universe broadcast OR-
                                # joined into the ≤25-cell confusion
                                # relation (constant size both sides)
    "q_ml_jackknife",           # 1-row totals aggregate broadcast-
                                # crossed into the 20-row fold relation
                                # (the scalar-subquery idiom)
    "q_priv_tokenize",          # two 1-row audit aggregates broadcast-
                                # crossed into the 1-row audit fold
    "q_ts_granger_lag1",        # broadcast zero-fill day spine crossed
                                # into the 5-row type dim + ordered-pair
                                # self-join on a != condition (≤20 pairs,
                                # both sides rollup-bounded)
    "q_ml_poisson_bootstrap",   # 1-row full-sample totals broadcast-
                                # crossed into the 20-row replicate
                                # relation (the jackknife idiom)
    "q_ml_kruskal_wallis",      # 1-row Σr²/n fold + 1-row H relation
                                # broadcast-crossed into the 5-row
                                # group fold (the scalar-subquery
                                # idiom ×2)
    "q_ml_friedman",            # 1-row k-dim + 1-row B fold + 1-row
                                # χ²_F relation broadcast-crossed into
                                # the day/5-row relations (the kruskal
                                # idiom with a block axis)
    "q_graph_modularity",       # 1-row m2 + 1-row Q folds broadcast-
                                # crossed into the 25-nation relation
                                # (the q_agg_theil decomposition shape)
    "q_ml_isotonic_pav",        # bounded band² pair join on a <=
                                # condition over the ~540-row broadcast
                                # band grid (domain-bounded, the
                                # minimax PAV closed form)
    "q_llm_ann_sq8",            # 1-row 64-float min/delta arrays +
                                # 10 broadcast query vectors × corpus
                                # (the cosine_topk idiom, twice: approx
                                # + exact-recall passes)
    "q_priv_dp_topk",           # 1-row totals fold broadcast-crossed
                                # into the <=10-row thresholded release
                                # (the scalar-subquery idiom)
    "q_ts_hurst",               # 3-row broadcast window dimension
                                # crossed into the days×types-bounded
                                # daily rollup (the q_ts_acf lag-dim
                                # idiom)
    "q_graph_louvain_round",    # 1-row m2/Q-before/Q-after/n_moved
                                # folds broadcast-crossed into the
                                # community-bounded audit (the
                                # modularity shape, twice)
    "q_graph_conductance",      # 1-row m2 fold broadcast-crossed into
                                # the 25-nation vol/cut relation (the
                                # modularity shape)
    "q_ml_cuped",               # 1-row pooled-moment fold broadcast-
                                # crossed into the 2-row arm fold (the
                                # scalar-subquery idiom)
    "q_ts_entropy_rate",        # 1-row N fold + 1-row rate fold
                                # broadcast-crossed into the k-row
                                # per-state entropy relation
    "q_ml_cramers_v",           # 1-row chi2 fold broadcast-crossed
                                # with the 1-row r/c dimension fold
    "q_ml_iptw_ate",            # 1-row ATE fold broadcast-crossed
                                # into the 5-row strata relation
    "q_ts_engle_granger",       # 1-row OLS-coef fold broadcast-crossed
                                # into the days-bounded residual
                                # relation + 1-row DF fold
}

# Shuffle-exchange ceilings. Default covers scan→agg/join→window plans;
# exceptions are multi-stage by design (audited 2026-08-13 at sf0.001:
# jaccard=7, simhash=4, scan_count=10 — ceilings leave AQE headroom).
DEFAULT_MAX_SHUFFLES = 4
MAX_SHUFFLES = {
    "q_ml_levene_bf": 7,          # audited 7: exact-median rank window
                                  # over the fact + the deviation pass's
                                  # 5-row moment agg re-shuffle (two
                                  # fact passes are inherent to an
                                  # exact-median statistic), 1-row F
                                  # fold, broadcast joins back, final
                                  # 5-row sort
    "q_llm_curation_pipeline": 11,  # audited 10: the COMPOSED 6-stage
                                  # curation funnel — md5(text) dedup
                                  # window, paragraph-chunk first-
                                  # occurrence window + per-doc token
                                  # re-agg + doc_id join-back (2), the
                                  # source-cap and pack-bucket windows,
                                  # the ~5-row lang rollup + 1-row fold,
                                  # final sort. Each exchange is one
                                  # stage's inherent key; the audit
                                  # itself adds ZERO passes (single
                                  # inline generator over one row)

    "q_ml_cramers_v": 7,          # audited 6: corpus cell rollup (pre-
                                  # checkpoint), then two marginal
                                  # windows on different keys + the
                                  # r/c countDistinct fold + 1-row
                                  # chi2 fold — every post-checkpoint
                                  # relation is ≤35 cells
    "q_dq_sequence_gaps": 6,      # audited 5: key distinct + shifted
                                  # re-exchange + anti-join + 1-row
                                  # bounds agg + final fold
    "q_ml_shapley_2f": 9,         # audited 8: per-order feature agg +
                                  # orders join + 9-stat fold, then the
                                  # SAME subtree re-shuffled for the
                                  # deviation pass (two passes by
                                  # design) + 1-row tails
    "q_ts_dft_power": 6,          # audited 5: daily rollup + index
                                  # window + stats agg + projection
                                  # fold + final sort — post-rollup
                                  # relations are days×types-bounded
    "q_ts_pacf2": 10,             # audited 9: same chain as ljung_box
                                  # plus the per-type 2-row lag pivot
    "q_ml_friedman": 10,          # audited 9 across both checkpoint
                                  # halves: daily rollup + k-dim fold +
                                  # block filter + two per-block
                                  # windows, then grp/tot/folds — every
                                  # post-rollup relation days×types-
                                  # bounded
    "q_graph_labelprop": 13,      # audited 12 since r14 folded BOTH
                                  # LPA rounds into one returned plan
                                  # (self-loop adjacency made labels
                                  # single-consumer, so the per-round
                                  # checkpoints and their extra jobs
                                  # are gone): per round an nbr-keyed
                                  # join (2 exchanges), the
                                  # (node,label) count (1) and the
                                  # argmax window re-key (1), plus the
                                  # re-inlined nodes-distinct subtrees
                                  # and the final community rollup —
                                  # every relation is 3-NN-backbone-
                                  # bounded (node-sized at any scale)
    "q_graph_hits": 7,            # audited 6 since r14 dropped the
                                  # final 20-row checkpoint: the dual
                                  # top-10 rankings (each a distributed
                                  # TakeOrderedAndProject feeding a
                                  # 10-row window) + their two 1-row
                                  # L1-total SinglePartition folds now
                                  # sit in the RETURNED plan, plus the
                                  # last half-step's join+agg interior.
                                  # Every post-checkpoint relation is
                                  # node-sized or 10-row-bounded
    "q_graph_conductance": 7,     # audited 6: backbone label joins +
                                  # m2/nodes/per_c folds over the
                                  # nation-bounded relation (the
                                  # modularity shape + the nodes join)
    "q_graph_modularity": 6,      # audited 5 (interior): m2/nodes/
                                  # per_c folds over the supplier-
                                  # bounded backbone join; returned
                                  # half is the 1-row Q fold
    "q_graph_louvain_round": 10,  # audited 9 across the checkpoint
                                  # halves: deg/sigma/k_ic/candidate/
                                  # argmax folds + two partition
                                  # re-scorings — every relation past
                                  # the backbone is node- or
                                  # community-bounded
    "q_ts_ljung_box": 9,          # audited 8: daily rollup + type
                                  # window + stats/denom aggs + lag
                                  # self-join + per-type folds — all
                                  # post-rollup relations are
                                  # days×types-bounded
    "q_er_token_blocking": 6,     # audited 5: explode distinct + block
                                  # count + 1-row universe agg + 1-row
                                  # closed-form fold
    "q_ml_woe_iv": 6,             # audited 5: 5-bin agg + 1-row totals
                                  # + 5-row IV fold + final sort — all
                                  # tiny post the bin agg
    "q_ts_cusum": 6,              # audited 6, all tiny: daily rollup +
                                  # types/days distincts + spine
                                  # row_number + CUSUM window + final
                                  # agg — only the rollup touches facts
    "q_ts_dtw": 6,                # audited 5 (same spine chain) +
                                  # aligned pair join + grouped DP;
                                  # post-rollup relations are
                                  # dimension-sized
    # Audited 2026-08-14 when the interior audit landed (these plans
    # were previously truncated to checkpoint scans; counts are the
    # live-cache snapshot of the plan each final checkpoint executes,
    # +~20% headroom):
    "q_er_fellegi_sunter": 13,    # audited 11: blocked pair gen + 3 field
                                  # agreements + pattern aggs + u-scalars
    "q_graph_ppr": 6,             # audited 5: frontier expansion rounds
                                  # over the checkpointed backbone
    "q_llm_ndcg": 14,             # audited 12: per-query gain/ideal-gain
                                  # rankings + corpus stats
    "q_llm_pmi": 8,               # audited 7: unigram + bigram counts +
                                  # pair join + totals
    "q_llm_semdedup": 8,          # audited 6: Lloyd assign + cluster-
                                  # scoped pair search + sizes
    "q_llm_semdedup_fixedk": 10,  # audited 8: seed TakeOrdered + argmin
                                  # cross + SRP band agg/join + verify
                                  # + 64-row audit
    "q_ml_silhouette_fixedk": 8,  # audited 6: fixed-seed Lloyd chain
                                  # (same budget as q_ml_silhouette)
    "q_llm_ann_pq_probed_scaled": 8,  # audited 6: seed TakeOrdered +
                                  # probe window (640 rows) + 1-row
                                  # pool agg + pool/final rank windows
                                  # on id pairs — the corpus-sized
                                  # codes scan is DPP-pruned to probed
                                  # cells and never exchanges
    "q_lake_compaction_apply": 10,  # audited 8: v2-read bin rollup +
                                  # v1/v2 1-row audit totals + the
                                  # files rollup/prefix window chain
                                  # re-derived for the audit columns —
                                  # each a snapshot-scan agg or a
                                  # dimension-bounded window; the
                                  # rewrite's own clustering exchange
                                  # happens at commit time, not here
    "q_dq_functional_dep": 11,    # audited 9: per-FD (lhs,rhs) agg +
                                  # lhs re-fold + 1-row summary × 3
                                  # FDs unioned — each FD is one fact
                                  # shuffle on its own key
    "q_ml_boosted_stumps": 11,    # audited 9: ONE fact grid shuffle +
                                  # checkpointed bounded-grid windows
                                  # per candidate feature × 2 rounds
                                  # (post-grid relations ≤500 rows)
    "q_ts_spc_rules": 6,          # audited 5: daily rollup + baseline
                                  # fold + three ROWS windows + final
                                  # 5-row rollup, all post-rollup tiny
    "q_ts_stl_strength": 8,       # audited 6: daily rollup + centered
                                  # window + residue/total folds + the
                                  # 7-column pivot join — post-rollup
                                  # relations are days×types-bounded
    "q_agg_cm_join_estimate": 11, # audited 9: 1 grid shuffle per
                                  # sketch (the checkpointed R sketch
                                  # feeds j + f2) + 2 pivot folds +
                                  # truth join + truth F2 — the truth
                                  # tier is audit-only by contract
    "q_ts_mann_kendall": 10,      # audited 8: daily rollup + banded
                                  # concordance + variance terms
    "q_llm_neardup_jaccard": 8,   # shingle distinct + pair agg + 2 size joins
    "q_llm_neardup_two_tier": 10, # tier-1 LSH (sig agg + band join) feeding
                                  # tier-2 exact verify (audited: 8)
    "q_llm_simhash": 6,           # signature agg + band self-join + distinct
    "q_scan_count": 12,           # one tiny agg per fixture table (10 tables)
    "q_llm_lsh_srp": 7,           # code agg + band self-join + distinct +
                                  # 2 rerank joins (audited: 5)
    "q_ts_multires_rollup": 6,    # true shuffles = 3 (hourly agg + 2 coarse
                                  # re-aggs); the persisted hourly subplan is
                                  # EMBEDDED 3x in the plan string by its
                                  # InMemoryTableScans but executes once
    "q_ts_funnel": 9,             # 3 per-stage min-ts aggs + 3 single-row
                                  # stage counts + stage-chaining joins
                                  # (audited: 8)
    "q_llm_tfidf": 9,             # tf agg + df agg + score join + lang agg
                                  # + per-lang top-5 window (audited: 7)
    "q_llm_kmeans": 20,           # true shuffles = 2/iteration (centroid
                                  # re-avg + 1-row broadcast collapse) + 2
                                  # final; the persisted Lloyd chain is
                                  # EMBEDDED 3x in the plan string by its
                                  # InMemoryTableScans but executes once
                                  # (audited string count: 18)
    "q_llm_dedup_clusters": 12,   # label propagation checkpoints each
                                  # round, so the final plan is scan+agg; the
                                  # headroom covers AQE variation in the
                                  # eager pair-generation stage
    "q_graph_pagerank": 21,       # power iterations checkpoint each
                                  # round; the combined audit (returned +
                                  # final-round interior, r07) sees the last
                                  # round's contrib agg + node joins with the
                                  # persisted rank chain embedded 3x in the
                                  # string (audited combined count: 18)
    "q_llm_bm25": 6,              # tf doc_id agg + 3-row df agg + scored
                                  # doc agg + TakeOrdered (audited: 5)
    "q_llm_lsh_threshold_sweep": 6,  # banded form (r08): sig agg + slot
                                  # self-join (2 exchange sides) + pair
                                  # agg + 17-bucket hist agg
                                  # (audited: 5)
    "q_llm_bigram_lm": 8,         # c12/c1/vocab model aggs + per-doc NLL
                                  # agg + 5-row lang agg (audited: 6)
    "q_llm_bpe_merges": 80,       # true shuffles ~6/round (doc windows +
                                  # pair agg + run-island windows); the
                                  # persisted per-round stream is EMBEDDED
                                  # multiplicatively in the plan string by
                                  # its InMemoryTableScans across 3 rounds
                                  # (audited string count: 72)
    "q_llm_dataset_mixture": 8,   # lang window + per-lang agg + 5-row
                                  # alloc window + chars audit join
                                  # (audited: 7)
    "q_llm_lsh_recall_audit": 20, # exact tier (shingle self-join + size
                                  # joins) + band tier (sig agg + band
                                  # join) + 3 count aggs; persisted sh/sig
                                  # subplans embedded 2-3x in the string
                                  # (audited: 17)
    "q_llm_containment_recall_audit": 20,  # same tiers/fold as the
                                  # Jaccard recall audit above
                                  # (audited: 17)
    "q_llm_dsir": 6,              # target + corpus vocab aggs + 1-row
                                  # totals + per-doc score fold +
                                  # TakeOrdered (audited: 5)
    "q_ml_kruskal_wallis": 12,    # band marginal + group fold + tie
                                  # fold + Σr²/n fold; the checkpointed
                                  # grid's window subplan embeds 2-3x
                                  # in the string (audited: 10)
    "q_ml_dunn_posthoc": 13,      # the kruskal grid lifecycle plus the
                                  # 10-pair contrast fold: marginal +
                                  # midrank window + group/tie/variance
                                  # folds + pair sort — everything past
                                  # the checkpointed (band,grp) grid is
                                  # domain-bounded <=5001 rows
                                  # (audited: 13)
    "q_ml_theil_u": 10,           # three entropy folds + marginal aggs
                                  # + 1-row total off the checkpointed
                                  # <=15-cell grid — every exchange
                                  # past the grid moves <=15 rows
                                  # (audited: 10)
    "q_ml_mood_median": 10,       # banded two-phase median lifecycle:
                                  # band marginal + cumulative window +
                                  # within-band rank window + 2x5
                                  # contingency agg + bounded folds;
                                  # the checkpointed marg/cum/counts
                                  # interiors audit alongside
                                  # (audited: 9) — only the marginal
                                  # and the two counts passes touch
                                  # fact rows
    "q_ml_chisq_gof": 6,          # 5-row priority agg + total fold +
                                  # deviation fold + ordered output;
                                  # checkpoint interior audits
                                  # alongside (audited: 5)
    "q_ml_jonckheere": 8,         # (band,grp) fact agg + bounded
                                  # densify join + per-group cumulative
                                  # window + band-equi matrix self-join
                                  # + group-size folds; checkpointed
                                  # grid/matrix interiors audit
                                  # alongside (audited: 6) — only the
                                  # grid agg touches fact rows
    "q_ml_g_test": 8,             # 15-cell grid agg + two margin aggs
                                  # + totals fold + G fold + output
                                  # cross; checkpointed grid interior
                                  # audits alongside (audited: 7) —
                                  # only the grid agg touches fact rows
    "q_ts_kpss_lag0": 6,          # day rollup + 1-row stats fold +
                                  # ~31-row prefix window + 1-row
                                  # quadratic fold + output cross —
                                  # every exchange past the rollup
                                  # moves <=31 rows (audited: 6)
    "q_llm_mattr": 6,             # token (doc,win) agg with partial
                                  # count-distinct + doc rollup + lang
                                  # rollup + sort (audited: 5)
    "q_llm_ann_probe_audit": 5,   # 64-row occupancy agg off the index
                                  # scan + 80-row probe window + per-
                                  # query fold + 1-row total + sort —
                                  # nothing corpus-sized moves
                                  # (audited: 5)
    "q_llm_corpus_refresh_incremental": 7,  # the documented stage
                                  # exchanges: base digest distinct +
                                  # delta flag window + base chunk
                                  # distinct + chunk cover agg + two
                                  # lang rollups + merge sort — each
                                  # either delta-sized or the inherent
                                  # dedup hash partition (audited: 7)
    "q_llm_minhash_det": 6,       # sig agg + band self-join + distinct +
                                  # 2 sig-lookup joins (audited: 5)
    "q_graph_cooccurrence": 10,   # distinct edges + degree agg + semi
                                  # join + pair agg; persisted edge list
                                  # embedded 3x in the string (audited: 9)
    "q_ml_naive_bayes": 12,       # model aggs (class totals, vocab, dense
                                  # grid) + per-(doc,class) scoring agg +
                                  # argmax window; persisted token stream
                                  # embedded across consumers (audited: 10)
    "q_llm_ngram_novelty": 6,     # shingle firsts agg + shingle-keyed
                                  # join-back + per-doc + per-lang aggs
                                  # (audited: 4; headroom for AQE)
    "q_llm_winnowing": 6,         # one doc window pass + per-doc distinct
                                  # agg + per-lang agg (audited: 4)
    "q_graph_supplier_similarity": 10,  # distinct edges + degree agg +
                                  # custkey pair self-join + TakeOrdered;
                                  # persisted edge list embedded 3x in
                                  # the plan string (audited: 9)
    "q_priv_generalize": 6,       # groups agg + per-level agg + chosen
                                  # agg; persisted per-level relation
                                  # embedded 2x in the string (audited: 5)
    "q_graph_triangles": 6,       # nation-flow agg chain (fact join +
                                  # grid agg) before the checkpointed
                                  # edge list; triangle joins broadcast
                                  # (audited: 4 post-checkpoint)
    "q_llm_kl_divergence": 10,    # (source,term) agg + vocab re-agg +
                                  # term join (AQE decides broadcast) +
                                  # totals; persisted term stats embedded
                                  # 4x in the string (audited: 8)
    "q_llm_jsd_sources": 10,      # the KL shape: (source,term) agg +
                                  # ct/ns/n re-aggs over it + term join
                                  # + per-source fold (audited: 8)
    "q_llm_heaps": 7,             # first-occurrence agg + novel re-agg +
                                  # rank/cumsum windows + regression agg;
                                  # persisted ranked relation embedded 2x
                                  # (audited: 5)
    "q_ml_logreg": 8,             # 3 chained 1-row gradient aggregates +
                                  # final accuracy agg over the corpus
                                  # scan (audited: 4; headroom for AQE)
    "q_ts_window_funnel": 9,      # distinct users + 3 chained per-stage
                                  # min-ts aggs + stage joins + level agg
                                  # (the q_ts_funnel layout; audited: 7)
    "q_llm_bloom_prefilter": 10,  # train/eval shingle distincts + filter
                                  # bit_or agg + probe agg + membership
                                  # join + audit agg; persisted train
                                  # set embedded 2x (audited: 8)
    "q_ts_theil_sen": 7,          # daily rollup + slope rank window +
                                  # median agg + n_days join; persisted
                                  # rollup embedded 3x (audited: 5)
    "q_graph_adamic_adar": 9,     # distinct edges + degree agg + capped
                                  # custkey self-join + TakeOrdered; the
                                  # memoized edge list embedded 3x in
                                  # the string (audited: 7)
    "q_graph_clustering": 13,     # two node-keyed triangle self-joins +
                                  # degree agg + edge-count agg + 1-row
                                  # combines over the checkpointed
                                  # backbone; +backbone-build interior
                                  # under the combined audit (r07:
                                  # audited combined count 11)
    "q_dq_referential": 18,       # 5 FK edges x (child distinct-key agg
                                  # + parent membership join + 1-row
                                  # fold) unioned — inherently one
                                  # audit branch per edge (audited: 15)
    "q_ts_hampel": 9,             # daily rollup + center-keyed median
                                  # agg + MAD join/agg + final med/mad
                                  # joins over the tiny day grid
                                  # (audited: 7)
    "q_dq_pk_uniqueness": 16,     # 7 tables x (key-shuffled count agg
                                  # + 1-row fold) unioned — one audit
                                  # branch per declared PK
                                  # (audited: 14)
    "q_llm_incremental_dedup": 7, # band equi-join + 2 sig lookups +
                                  # flagged distinct + lang agg over the
                                  # checkpointed signature table
                                  # (audited: 5)
    "q_agg_spearman": 8,          # checkpointed joint grid feeding two
                                  # marginal re-aggs + their midrank
                                  # windows + the 1-row moment fold
                                  # (audited: 6)
    "q_ml_feature_stumps": 10,    # 4 independent stump branches x
                                  # (band agg + grid windows) unioned
                                  # (audited: 8)
    "q_ts_rolling_wau": 8,        # checkpointed distinct-pair relation
                                  # feeding anchor distinct-count +
                                  # DAU re-agg + semi join + bound
                                  # (audited: 6)
    "q_ts_cohort_ltv": 9,         # checkpointed purchase rollup feeding
                                  # cohort agg + (cohort,age) cells +
                                  # size re-agg + cum windows
                                  # (audited: 7)
    "q_graph_two_hop": 7,         # degree agg + top-10 + two bounded
                                  # hop joins + reach distinct + 10-row
                                  # count over the checkpointed
                                  # backbone (audited: 5)
    "q_agg_theil": 8,             # customer rollup + broadcast dim join
                                  # + 25-row nation agg + 1-row total +
                                  # decomposition fold (audited: 6)
    # Surfaced when the COMBINED interior audit landed (r07: returned
    # plan + final-checkpoint interior are now counted together, so
    # checkpoint-plus-trailing-op queries stopped auditing only their
    # trailing stub — ADVICE r06 item 3). Counts are audited combined
    # string counts at sf0.001 + ~30% headroom:
    "q_graph_assortativity": 8,   # degree-pair moments over the
                                  # checkpointed backbone + backbone-
                                  # build interior (audited: 6)
    "q_graph_degree_dist": 8,     # degree agg + histogram fold +
                                  # backbone-build interior (audited: 6)
    "q_llm_dedup_apply": 7,       # canonical-join apply + final CC
                                  # round's min-label interior
                                  # (audited: 5)
    "q_llm_minhash_estimator_audit": 7,  # band-pair estimates + exact-
                                  # Jaccard audit join + signature-build
                                  # interior (audited: 5)
    "q_llm_sentence_dedup": 6,    # span-hash dup agg + co-partitioned
                                  # mark join + doc rollup + lang rollup
                                  # + ordered output (audited: 5, r07)
    "q_ml_silhouette": 8,         # shared Lloyd chain (per-round k-row
                                  # re-average) + silhouette k-rollup +
                                  # ordered k-row output (audited: 6,
                                  # r07)
    "q_ml_mann_whitney": 8,       # (band,grp) agg + band-grid marginal
                                  # + rank-join fold + tie fold over
                                  # the checkpointed grid (audited: 6,
                                  # r07)
    "q_ml_confusion_multiclass": 8,  # customer-history window + 25-cell
                                  # agg (interior, runs once behind the
                                  # cells checkpoint) + class-universe
                                  # distinct + per-class agg + macro
                                  # fold over ≤k² rows (audited: 7, r08)
    "q_ts_granger_lag1": 7,       # (type,day) rollup + spine zero-fill
                                  # row_number + lag window + pair join
                                  # sides + 20-group agg — all post-
                                  # rollup relations ≤ types×days rows
                                  # (audited: 6, r08)
    "q_ml_raking": 8,             # seed cell agg + 2 margin aggs (the
                                  # three fact-sized passes) + pri/st
                                  # windows over the ≤15-cell grid
                                  # (audited: 7, r08)
}

SF_DIR = "/root/testdata/sf0.001"

# Streaming-sink queries execute eagerly on plan construction; their
# physical plans are checked by the streaming tests instead.
_SKIP = {k for k in registry.QUERIES if k.startswith("q_stream_")} | {
    "q_sink_parquet_roundtrip",
    "q_sink_orc_roundtrip",
    "q_sink_partitioned",
    "q_sink_bucketed_join",
    "q_source_json_lines",
    "q_source_csv",
    "q_source_csv_malformed",
    "q_source_jsonl_gzip",
}

AUDITED = sorted(set(registry.QUERIES) - _SKIP)


# One (returned_plan, interior_plan) build per key per session: the
# parametrized gates below plus the skeleton lock all audit the same
# pair, and plan construction is the expensive part. The memo also
# guarantees every gate sees the SAME memo-state-independent render
# (plancheck.audited_plan resets SQL cache + cross-query memos first).
_PLAN_MEMO: dict[str, tuple[str, str | None]] = {}


def _audited(spark, key: str) -> tuple[str, str | None]:
    if key not in _PLAN_MEMO:
        from khose_spark.plancheck import audited_plan

        _PLAN_MEMO[key] = audited_plan(spark, registry.QUERIES[key], SF_DIR)
    return _PLAN_MEMO[key]


def _plan(spark, key: str) -> str:
    # Queries using the cache-release pattern (an eager memo.checkpoint
    # of the final result) would otherwise audit as a bare ExistingRDD
    # scan — and checkpoint-plus-trailing-op queries would audit only
    # the trailing stub — silently exempting their interiors from the
    # cartesian/BNLJ/shuffle gates. Checkpoints still execute for real
    # (iterative loops keep their genuine chunked shape), but the LAST
    # pre-checkpoint plan is recorded by a memo.checkpoint hook and
    # audited ALONGSIDE the returned plan (ADVICE r06 item 3: both
    # halves, not a bare-scan recovery heuristic).
    returned, interior = _audited(spark, key)
    return returned if interior is None else returned + "\n" + interior


@pytest.mark.parametrize("key", AUDITED)
def test_no_cartesian_product(key, spark):
    assert "CartesianProduct" not in _plan(spark, key), (
        f"{key}: CartesianProduct in plan — a join lost its condition "
        "or its broadcast"
    )


# Queries whose final top-k runs over a GLOBAL (empty-PARTITION BY)
# window: scale-safe ONLY because the optimizer bounds the window input
# — LimitPushDownThroughWindow turns the rank filter into a distributed
# TakeOrderedAndProject(limit=k), or InferWindowGroupLimit inserts a
# WindowGroupLimit per-partition prune. If a Spark upgrade loses both
# rewrites, the window silently degrades to a full single-partition
# sort of the keyspace — fatal at 100×. Pin it.
GLOBAL_TOPK_BOUNDED = [
    "q_fn_split_explode",
    "q_tpch_q3_shipping",
    "q_tpch_q10_returns",
    "q_scan_key_skew",
    # r14: hits' dual top-10 rank moved into the returned plan (no
    # final checkpoint) — pin that each global rank stays a distributed
    # TakeOrderedAndProject, never a full single-partition keyspace sort.
    "q_graph_hits",
]


@pytest.mark.parametrize("key", GLOBAL_TOPK_BOUNDED)
def test_global_topk_window_is_bounded(key, spark):
    plan = _plan(spark, key)
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, (
        f"{key}: global top-k window lost its limit pushdown — the plan "
        "has neither TakeOrderedAndProject nor WindowGroupLimit, so the "
        "rank runs over the full keyspace on one partition"
    )


# r14 (VERDICT r13 item 7): a partition-less WindowExec moves ALL its
# input to one task — fine over a post-aggregate (or otherwise bounded)
# relation, fatal if a refactor ever slides one onto a fact-sized
# relation. Gate: every global window must either sit above an
# aggregate / group-limit bound IN ITS SUBTREE, or be allowlisted here
# with the contract reason (the BNLJ_ALLOWED discipline).
GLOBAL_WINDOW_ALLOWED = {
    # Each entry documents why the window's single-partition input is
    # bounded (or the global sort is the declared semantics) — audited
    # from the full-board sweep, r14.
    "q_fn_intdiv_laws": (
        # declared contract key: 10 extreme balances need a global
        # bidirectional rank (rn ASC + rn DESC stacked, so neither
        # LimitPushDownThroughWindow nor WindowGroupLimit applies);
        # input is the single-column customer cents projection —
        # SURVEY pins this as the hash-checkable DIV/% law fixture
        "global bidirectional extreme-rank over 1-column cents"
    ),
    "q_sort_multikey": (
        # declared global-ORDER contract: row_number() materializes the
        # sort so order survives order-insensitive hashing (SURVEY
        # §2 'rel'); the distributed-rank production twin is
        # q_sort_multikey_dist, gated above to NEVER use a window
        "declared global-rank twin; q_sort_multikey_dist is the "
        "scale path"
    ),
    "q_sort_nulls": (
        # same declared global-rank contract; input additionally
        # bounded by the pushed o_orderkey < 500 scan predicate
        "declared global-rank contract over a <500-key scan slice"
    ),
}


def _global_window_subtrees(plan: str) -> list[str]:
    """Subtree text below each partition-less Window.

    A Window line renders top-level bracket groups
    ``[funcs], [partitionSpec], [orderSpec]`` — the partition group is
    omitted when empty, and the order group when unordered. So a window
    is GLOBAL iff it has a single group, or exactly two groups whose
    second is an ORDERING (contains ASC/DESC markers) rather than a
    partition column list. Returns the remainder-of-plan slice for each
    global window found (the tree prints children below the parent, so
    the subtree is contained in it)."""
    import re

    out = []
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        body = re.sub(r"^[\s:+*()\d-]*", "", ln)
        if not body.startswith("Window "):
            continue
        depth, groups, cur = 0, [], []
        for ch in body:
            if ch == "[":
                if depth == 0:
                    cur = []
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    continue
            if depth >= 1:
                cur.append(ch)
        is_global = len(groups) == 1 or (
            len(groups) == 2
            and (" ASC" in groups[1] or " DESC" in groups[1])
        )
        if is_global:
            out.append("\n".join(lines[i + 1 :]))
    return out


@pytest.mark.parametrize("key", AUDITED)
def test_global_window_sits_on_bounded_input(key, spark):
    plan = _plan(spark, key)
    for subtree in _global_window_subtrees(plan):
        if any(
            tok in subtree
            for tok in (
                "HashAggregate",
                "SortAggregate",
                "ObjectHashAggregate",
                "WindowGroupLimit",
                "TakeOrderedAndProject",
            )
        ):
            continue  # bounded: post-agg input or group-limit prune
        assert key in GLOBAL_WINDOW_ALLOWED, (
            f"{key}: a global (no PARTITION BY) window sits on an "
            "unbounded relation — single-partition sort of the full "
            "keyspace at scale. Bound it or allowlist with a reason."
        )


@pytest.mark.parametrize("key", AUDITED)
def test_bnlj_only_where_intended(key, spark):
    plan = _plan(spark, key)
    if "BroadcastNestedLoopJoin" in plan:
        assert key in BNLJ_ALLOWED, (
            f"{key}: unexpected BroadcastNestedLoopJoin — an equi-join "
            "condition was probably lost"
        )


@pytest.mark.parametrize("key", AUDITED)
def test_shuffle_budget(key, spark):
    plan = _plan(spark, key)
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    budget = MAX_SHUFFLES.get(key, DEFAULT_MAX_SHUFFLES)
    assert shuffles <= budget, (
        f"{key}: {shuffles} shuffle exchanges (budget {budget}) — "
        "a duplicate Exchange crept in"
    )


def test_distributed_rank_has_no_window(spark):
    # The registered scale path must actually BE the scale path: rank
    # comes from range partitioning + offsets, never a WindowExec
    # (whose no-PARTITION-BY form is single-partition and 100TB-fatal).
    plan = _plan(spark, "q_sort_multikey_dist")
    assert "Window" not in plan, (
        "q_sort_multikey_dist fell back to a window — the distributed "
        "branch of with_global_rank was not taken"
    )
    assert "MapInPandas" in plan, (
        "distributed rank lost its per-partition numbering stage"
    )
    # The checkpoint inside with_global_rank truncates the lineage the
    # final plan would show, so pin the range repartitioning on the
    # pre-checkpoint shape directly.
    from pyspark.sql import functions as F

    from khose_spark.operators.rank import _range_sorted
    from khose_spark.tables import t

    o = t(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    pre = _range_sorted(o, 8, F.asc("o_totalprice"), F.asc("o_orderkey"))
    pre_plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in pre_plan.lower(), (
        "distributed rank lost its range repartitioning"
    )


def test_flagship_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q_agg_flagship_pricing")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, (
        "flagship l_shipdate predicate no longer reaches the parquet scan"
    )


def test_flagship_prunes_columns(spark):
    plan = _plan(spark, "q_agg_flagship_pricing")
    # 7 needed columns; unreferenced ones (l_orderkey, l_partkey, ...)
    # must not be read.
    assert "l_orderkey" not in plan.split("ReadSchema")[-1], (
        "flagship scan reads columns the query never uses"
    )


def test_aqe_splits_skewed_join(spark, sf_dir):
    """AQE's OptimizeSkewedJoin is the FIRST line of skew defense at
    100 TB (salting — q_join_salted — is the manual second). Prove the
    runtime re-plan actually fires in this engine: a deliberately
    skewed fact side (~99% of rows funneled onto one join key) against
    a distinct-key dim, thresholds scaled to fixture bytes, broadcast
    disabled so the join must sort-merge. The executed adaptive plan
    must mark the join skew=true (i.e. the hot partition was split)."""
    from khose_spark.tables import t as t_

    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    # fixture-scaled: the hot partition is a few KB compressed at
    # sf0.001, so the "what counts as skewed" knobs shrink with it
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = t_(spark, sf_dir, "lineitem")
        # repartition(8) first: AQE splits a skewed reduce partition by
        # MAP-OUTPUT RANGES, so the join's shuffle needs >1 mapper — a
        # single-file fixture scan is one map task and would leave the
        # rule nothing to split by (found empirically; at production
        # scale the map side is always wide, so this is test-only prep).
        fact = li.select(
            F.when(F.col("l_orderkey") % 100 != 0, F.lit(0))
            .otherwise(F.col("l_orderkey"))
            .alias("key"),
            (F.col("l_orderkey") * 7919 + F.col("l_linenumber"))
            .alias("payload"),
        ).repartition(8)
        dim = t_(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("key"), "o_orderpriority"
        )
        joined = fact.join(dim, "key").groupBy("o_orderpriority").count()
        joined.collect()  # AQE finalizes the plan only on execution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE did not split the skewed join:\n" + plan
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _lock() -> dict[str, list[str]]:
    with open(os.path.join(_REPO, "plans.lock.json")) as f:
        return json.load(f)


def test_plan_skeleton_lock(spark):
    """Registry-wide physical-plan drift gate (plans.lock.json).

    The budget tests above catch plans growing (extra shuffles,
    cartesian products); this catches plans changing SHAPE within the
    budget — a SortMergeJoin flipping to BroadcastNestedLoopJoin under
    a Spark upgrade, a lost partial-aggregation stage, a window gaining
    a sort. Every registered query's canonical operator skeleton must
    equal the committed lock; intentional plan changes are landed by
    regenerating it (python scripts/gen_planlock.py) so the diff is
    reviewed rather than silent. One looping test, not a parametrize:
    plan construction is the expensive part and this keeps it to one
    pass with a full drift report at the end.
    """
    from khose_spark.plancheck import full_skeleton

    lock = _lock()
    drift: list[str] = []
    for key in AUDITED:
        if key not in lock:
            drift.append(f"{key}: not in plans.lock.json (regenerate)")
            continue
        returned, interior = _audited(spark, key)
        got = full_skeleton(returned, interior)
        if got != lock[key]:
            want = lock[key]
            # first differing index, for a readable failure
            i = next(
                (j for j in range(max(len(got), len(want)))
                 if j >= len(got) or j >= len(want) or got[j] != want[j]),
                0,
            )
            drift.append(
                f"{key}: skeleton drift at op {i}: "
                f"locked={want[i] if i < len(want) else '<end>'} "
                f"got={got[i] if i < len(got) else '<end>'} "
                f"({len(want)} -> {len(got)} ops)"
            )
    assert not drift, (
        "physical-plan drift (review + regenerate plans.lock.json):\n"
        + "\n".join(drift)
    )


def test_record_checkpoints_sees_every_checkpoint(spark):
    """The recorder keeps one plan per ``memo.checkpoint``, its last is
    the interior plans.lock.json pins, and its hook is gone after the
    block, also when the block raises."""
    from khose_spark import memo
    from khose_spark.operators import graph
    from khose_spark.plancheck import (
        INTERIOR_MARK,
        record_checkpoints,
        reset_plan_state,
        skeleton_tokens,
    )

    key = "q_graph_pagerank"
    reset_plan_state(spark)
    with record_checkpoints() as rec:
        registry.QUERIES[key](spark, SF_DIR)
    assert memo.CHECKPOINT_HOOKS == []
    # one checkpoint per power iteration, plus the 20-row answer
    assert len(rec.plans) == graph._PR_ITERS + 1
    locked = _lock()[key]
    assert skeleton_tokens(rec.last) == locked[locked.index(INTERIOR_MARK) + 1 :]

    with pytest.raises(RuntimeError, match="build failed"):
        with record_checkpoints():
            raise RuntimeError("build failed")
    assert memo.CHECKPOINT_HOOKS == []


def test_cli_explain_prints_the_checkpoint_interior(tmp_path):
    """``python -m khose_spark explain`` of a checkpointing key prints
    the plan its final checkpoint executed after the returned stub. In
    a subprocess, because the CLI stops its session."""
    import subprocess
    import sys

    from khose_spark.plancheck import INTERIOR_MARK, skeleton_tokens

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        TMPDIR=str(tmp_path),
        SPARK_GRAFT_CPUS="2",
        KHOSE_DRIVER_MEMORY="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-m", "khose_spark", "explain", "q_graph_pagerank",
         "--sf-dir", SF_DIR],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    returned, mark, interior = proc.stdout.partition(INTERIOR_MARK)
    assert mark, proc.stdout[-3000:]
    assert "Scan ExistingRDD" in returned
    assert set(skeleton_tokens(interior)) - {"Scan:ExistingRDD"}, interior
