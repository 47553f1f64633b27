"""Physical-plan quality gates: filters reach the parquet scan, column
pruning holds, dimension joins broadcast, no Python row-UDFs sneak into
relational plans. These are the properties that decide 100 TB behavior;
asserting them keeps refactors honest."""

from __future__ import annotations

import re

import pytest

from g1_etl_spark.plans import REGISTRY
from tests.conftest import SF_SMOKE


def _formatted(spark, name):
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def test_q6_filter_pushdown_and_pruning(spark):
    plan = _formatted(spark, "q6_forecast_revenue")
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m and "l_shipdate" in m.group(1), "shipdate filter not pushed"
    assert "l_discount" in m.group(1), "discount filter not pushed"
    rs = re.search(r"ReadSchema: struct<(.*?)>", plan)
    cols = rs.group(1)
    # only the four referenced columns are read
    assert set(re.findall(r"(\w+):", cols)) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


@pytest.mark.parametrize("name", ["q3_shipping_priority",
                                  "q5_local_supplier_volume",
                                  "q8_market_share",
                                  "q14_promo_revenue",
                                  "revenue_by_nation",
                                  "corpus_decontaminate"])
def test_dim_joins_broadcast(spark, name):
    plan = _formatted(spark, name)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"


@pytest.mark.parametrize("name", ["q1_pricing_summary",
                                  "q18_large_orders",
                                  "window_analytics",
                                  "events_sessionization",
                                  "dedup_ngram_jaccard"])
def test_no_python_row_udfs(spark, name):
    plan = _formatted(spark, name)
    assert "BatchEvalPython" not in plan, f"{name}: Python row-UDF in plan"


def test_topk_has_partial_window_group_limit(spark):
    """The two-stage top-k must pre-reduce before any exchange — visible
    as a partial WindowGroupLimit in the plan."""
    plan = _formatted(spark, "sim_brute_force_topk")
    assert "WindowGroupLimit" in plan
    assert plan.count("Window") >= 2  # local stage + final stage


def test_lsh_candidate_exchange_carries_ids_only(spark):
    """The candidate-dedup aggregate must group on ids, not embeddings."""
    plan = _formatted(spark, "sim_lsh_topk")
    m = re.findall(r"Keys \[2\]: \[(.*?)\]", plan)
    assert any("q_id" in keys and "vec_id" in keys
               and "embedding" not in keys for keys in m), m


def test_bm25_broadcasts_queries_not_corpus(spark):
    plan = _formatted(spark, "text_bm25_topk")
    assert "BroadcastHashJoin" in plan
    # the final top-k must be the two-stage form: a (q_id, _pid)-keyed
    # local prune before the per-query window
    assert "_pid" in plan


def test_upsert_never_shuffles_base(spark):
    plan = _formatted(spark, "merge_upsert_orders")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_equidepth_has_no_global_window(spark):
    # the distributed rank partitions its window by _pid — a bare
    # global window would show 'Window' with an empty partition spec
    plan = _formatted(spark, "feat_equidepth_bins")
    assert "_pid" in plan
    for line in plan.splitlines():
        if "Arguments" in line and "windowspecdefinition(" in line:
            assert "windowspecdefinition(_pid" in line or \
                "windowspecdefinition(spark_partition_id" in line


def test_zscore_stats_joinback_broadcasts(spark):
    plan = _formatted(spark, "feat_zscore")
    assert "BroadcastHashJoin" in plan


def test_chunking_is_narrow(spark):
    """Token-window chunking must be a pure map-side fan-out — any
    Exchange means a shuffle crept into a 1->N explode."""
    plan = _formatted(spark, "text_chunk_windows")
    assert "Exchange" not in plan, "chunking plan shuffles"
    assert "BatchEvalPython" not in plan


def test_overlap_join_is_equi_not_cross(spark):
    """The interval-overlap join must meet candidates via a shuffled or
    broadcast HASH join on (key, bucket) — never a nested-loop/cartesian
    theta-join."""
    plan = _formatted(spark, "orders_overlap_pairs")
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_stratified_sample_prereduces(spark):
    """Exact-k stratified sampling must take its local top-k BEFORE the
    per-stratum exchange (WindowGroupLimit under the first window), so
    no stratum-sized partition ever materializes."""
    plan = _formatted(spark, "sample_stratified_exact")
    assert "WindowGroupLimit" in plan


def test_tfidf_single_posting_scan(spark):
    """TF-IDF reads the documents parquet exactly twice (postings +
    the scalar doc count) — the df-per-term window must not add a third
    scan the way an aggregate self-join would."""
    plan = _formatted(spark, "text_tfidf_topk")
    # each physical scan appears once as a numbered detail header
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "BatchEvalPython" not in plan


# Queries whose plans legitimately contain a BroadcastNestedLoopJoin:
# every one broadcasts a SCALAR or constant-tiny side (a global count /
# avg / 5x3 cross), where BNLJ with a one-row build side IS the right
# plan. New entries here need the same justification.
_BNLJ_OK = {
    # bounded-grid pair enumeration / one-row grafts (r10): the
    # Mann-Kendall day-pair join is date-span-bounded (k-row-codebook
    # class), xcorr crosses the bounded hour grid with a 13-row lag
    # frame, and the Weibull GOF crosses the one-row fit into the
    # bounded KM grid
    "stats_mann_kendall", "events_xcorr_types", "orders_weibull_gof",
    # r11 bounded-alphabet graph folds (operators/folded): the one-row
    # ids array crossed with the one-row edge-struct array — a 1x1
    # BNLJ at the alphabet boundary (see _SINGLE_PART_OK entry)
    "graph_pagerank_trade", "graph_pagerank_bucketed", "graph_ppr_trade",
    "graph_hits_trade", "graph_sssp_trade", "graph_closeness_trade",
    "graph_kcore_trade", "graph_label_propagation",
    "graph_betweenness_trade", "text_textrank_keywords",
    "events_markov_stationary",
    # one-row global-moments frame crossed into the bounded PAA grid
    "events_sax_symbols",
    # r11 TSA family: one-row anchor/moments crossed into the bounded
    # hour grid (stl/theil_sen/lz reuse the SAX grid shape), the
    # span^2-bounded slope pair join, the (days x types) rank grid,
    # and the one-row observed-diff frame crossed into the 64-row
    # permutation frame
    "events_stl_decompose", "events_theil_sen", "events_lz_complexity",
    "stats_friedman_daily", "stats_permutation_mean",
    # r11: one-row census frame crossed into the CDC report; the
    # 5-query constant-tiny broadcast side inside the kNN vote (the
    # sim_brute_force_topk class); one-row k frame crossed into the
    # (sources x 20) stylometric grid
    "dedup_cdc_chunks", "sim_knn_label_vote", "text_burrows_delta",
    # r11 wave 2: one-row moment-threshold frame crossed into the
    # scan (POT); bins^3-bounded minimax joins (isotonic)
    "events_tail_pot", "feat_isotonic_calibration",
    # r11 wave 3: one-row tie-correction frame crossed into the W
    # scalar; one-row anchor/span crossed into the per-type hour grid
    "stats_wilcoxon_signed", "events_burstiness",
    # r11 wave 4: one-row LM-dimension frame crossed into the
    # vocabulary-keyed smoothing join
    "corpus_dsir_weights",
    # one-row G-test context crossed into the k=|types| report
    "dq_drift_report",
    # 4-row period frame + one-row moments crossed into the bounded
    # hour grid
    "events_periodogram",
    # one-row month-span frame crossed into the filtered part slice
    "orders_croston",
    "sim_brute_force_topk", "sim_hard_negatives",
    "sim_cosine_neardup_exact", "sim_neardup_recall", "entity_settings",
    # capped twin feeds from sim_cosine_neardup_exact's justified
    # bounded-slice BNLJ (the cap itself is exchange-hashed top-m)
    "sim_neardup_topm",
    "text_bm25_topk", "text_tfidf_topk", "pipeline_rag_index",
    "feat_equidepth_bins", "q22_global_sales_opportunity",
    "entity_products_smoke", "join_cross", "scalar_subquery",
    "dq_key_skew",
    # flat twins / recall contract reuse the already-justified plans:
    # one-row dispensary aggregates (settings/products) and the 5-query
    # constant-tiny broadcast side (brute-force top-k inside the recall
    # join)
    "entity_settings_flat", "entity_products_flat", "sim_lsh_recall",
    # JSON-roundtrip shape contracts reuse the flat twins' plans
    "entity_settings_json", "entity_products_json",
    # PQ scoring broadcasts the same 5-query constant-tiny side as
    # brute force; the scan side reads 16-byte codes, not raw vectors
    "sim_pq_topk", "sim_pq_recall",
    # the type-pair enumeration (type_a < type_b) broadcasts the
    # |event_types|-row SKETCH dim (5 rows at any data scale — sketch
    # state is O(types * 2^lgK), independent of user cardinality)
    "events_hll_intersection",
    # one-row est x one-row exact: scalar-aggregate cross, the
    # documented one-row-build-side case
    "sketch_cms_join_size",
    # one-row vocabulary-size scalar crossed into the score join
    "text_bigram_lm_nll",
    # one-row national-total scalar broadcast (the HAVING-vs-global
    # compare), same shape as q22's avg-balance scalar
    "q11_important_stock",
    # one-row min/max range + histogram-totals scalars
    "dq_distribution_drift",
    # reuses bm25's corpus-stats scalar (see text_bm25_topk)
    "pipeline_hybrid_search",
    # bm25's corpus-stats scalar + the 5-query constant-tiny cosine
    # broadcast side (brute force inside the fusion)
    "pipeline_rrf_fusion",
    # k-row centroid frame cross-joined into the scoring pass (k=4)
    "sim_kmeans_exact",
    # whole-org payload: six ONE-ROW entity folds crossJoined at the
    # payload boundary (entities/assemble.payload_doc docstring)
    "entity_org_payload_json",
    # one-row sketch-estimate x one-row exact-count scalar crosses
    # (the KMV frames themselves are k<=256 rows, broadcast semi-joins)
    "sketch_kmv_distinct", "sketch_kmv_jaccard",
    # one-row corpus-total scalar crossed into the vocabulary-sized
    # (source, token) score join — the bigram-LM shape
    "corpus_kl_sources",
    # one-row total-count scalar crossed into the 9-row digit frame
    "dq_benford",
    # one-row segment-A stats x one-row segment-B stats (two scalar
    # aggregates crossed for the t/df expressions)
    "stats_welch_ttest",
    # one-row max-date anchor + three one-row equidepth totals crossed
    # into the per-customer frame (the feat_equidepth_bins shape x3)
    "orders_rfm_scores",
    # one-row corpus-doc-count scalar crossed into the constant-sized
    # (<= 50*49/2 rows) PMI pair frame
    "text_pmi_pairs",
    # nation-bounded (25-row) aggregate broadcast into the tau-b
    # inequality pair join (<= 300 pairs at any data scale)
    "stats_kendall_tau",
    # one-row moment/node/edge scalars crossed over the nation-bounded
    # sparsified-graph frame
    "graph_degree_assortativity",
    # the ONE-ROW ~8 KB Bloom bitmap crossed into the fact scan — this
    # broadcast IS the operator (constant-size sketch by construction)
    "sketch_bloom_semijoin",
    # one-row vocab-size + doc-total scalars crossed into the
    # vocab x |langs| likelihood frame — the bigram-LM shape
    "text_nb_lang_confusion",
    # one-row tie-term scalar crossed into the one-row moment frame
    "stats_kruskal_value_type",
    # one-row MI/entropy scalar aggregates crossed for the two U ratios
    "stats_theil_u",
    # one-row study-end anchor + one-row total crossed into the
    # bounded duration grid; the KM fold is a one-row sorted array
    "orders_survival_km",
    # same anchors as the KM query (one-row study-end + one-row
    # per-cohort totals crossed into the bounded duration grid)
    "orders_logrank",
    # one-row token-count scalar crossed into the <=50-node TextRank
    # frame each iteration (the markov/pagerank shape)
    "text_textrank_keywords",
    # one-row grand-total scalar crossed into the 5x5 contingency cells
    "stats_chi2_segment_priority",
    # one-row grand-total scalar crossed into the 5x5 MI cell frame
    # (the chi2 shape with pinned-ln pointwise terms)
    "stats_mi_segment_priority",
    # one-row min/max scalar over the scan (equidepth shape) + one-row
    # good/bad totals over the 10-row bin frame
    "feat_woe_iv",
    # one-row time-range anchor over the scan + one-row n/k/halves
    # scalars crossed into the 10-cell G frame (the chi2/MI shape)
    "events_gtest_halves",
    # one-row per-iteration sum-normalizer scalars crossed into the
    # 25-node score frames (the pagerank census pattern)
    "graph_hits_trade",
    # one-row entropy/total scalars crossed for the two H ratios
    # (the Theil-U shape on the 5x5 transition matrix)
    "events_markov_entropy",
    # constant 16-row sign-matrix broadcast (the JL projection is a
    # narrow per-vector fan-out over a fixed codebook)
    "sim_jl_projection",
    # one-row base-rate scalar crossed into the survivor gate join
    "pipeline_curate_select",
    # inherits the KM query's one-row anchors + the one-row 5-moment
    # OLS fold over the bounded duration grid
    "orders_weibull_fit",
    # one-row grand-mean scalar crossed with the one-row sorted
    # 50-resample-means array
    "stats_bootstrap_ci_mean",
    # one-row basket-count scalar crossed into the <=300-row rule frame
    # (constant 25-brand alphabet)
    "orders_rule_lift",
    # one-row max-value scalar crossed over the scan (probability
    # normalization — the equidepth/woe shape)
    "stats_reliability_bins",
}
# Single-partition exchanges carrying partial-aggregate rows (one per
# input partition) or an already-aggregated tiny frame — not raw data.
_SINGLE_PART_OK = {
    # one-row scalar aggregates / bounded array folds (r10): the 2x2
    # McNemar cells, the k-types BH fold, the day-grid MK scalars, and
    # the one-row Weibull GOF assembly
    "quality_gate_mcnemar", "stats_fdr_bh", "stats_mann_kendall",
    "orders_weibull_gof",
    # r11 bounded-alphabet graph folds (operators/folded): the nation-
    # (<= 25 node) / token- (top-50) graph collapses to ONE guarded
    # row after the data-sized census, and the fixed iterations run as
    # a single fold expression — the collect_list fold and final
    # constant-row sort are single-partition BY construction, over
    # alphabet-bounded frames only (assert_true-guarded)
    "graph_pagerank_trade", "graph_pagerank_bucketed", "graph_ppr_trade",
    "graph_hits_trade", "graph_sssp_trade", "graph_closeness_trade",
    "graph_kcore_trade", "graph_label_propagation",
    "graph_betweenness_trade", "text_textrank_keywords",
    "events_markov_stationary",
    # r11 TSA family: one-row scalar aggregates / bounded array folds
    # (24-term centering mean, span^2 slope median pick, 64-row
    # permutation fold, span/8 LZ78 parse, one-row Friedman stat)
    "events_stl_decompose", "events_theil_sen", "events_lz_complexity",
    "stats_friedman_daily", "stats_permutation_mean",
    # r11: one-row CDC census report; top-20 word panel pick +
    # pair-grid sortsums
    "dedup_cdc_chunks", "text_burrows_delta",
    # r11 wave 2: one-row moment/threshold scalars; the <=10-bin
    # row_number window + bounded minimax frames
    "events_tail_pot", "feat_isotonic_calibration",
    # r11 wave 3: one-row W/tie scalar aggregates; (types x span)
    # bounded grid aggregate + constant-row final sort
    "stats_wilcoxon_signed", "events_burstiness",
    # r11 wave 4: one-row LM totals (Nr, Nt, V) scalar aggregates
    "corpus_dsir_weights",
    # r12 ACF restructure: the cross-partition boundary fix-up derives
    # global indexes from per-pid counts — a <= n_partitions-row frame
    # whose running-sum window is single-partition BY construction
    # (events_acf core; ljung_box / pacf_yw compose it verbatim)
    "events_acf", "stats_ljung_box", "events_pacf_yw",
    # one-row moment aggregates + constant-row final sorts
    "feat_correlation_matrix", "events_sax_symbols", "events_hurst_rs",
    "stats_levene_value", "dq_drift_report", "stats_runs_test",
    "events_periodogram", "orders_croston",
    "corpus_composition", "text_bm25_topk", "dq_expectations",
    "text_tfidf_topk", "pipeline_rag_index", "feat_equidepth_bins",
    "dq_profile_orders", "dq_table_checksum", "q6_forecast_revenue",
    "q14_promo_revenue", "q19_discounted_revenue", "q15_top_supplier",
    "q17_small_quantity_revenue", "q22_global_sales_opportunity",
    "scalar_subquery", "dq_key_skew",
    # one-row global contract aggregate over per-partition partials
    "sim_kmeans_clusters", "dedup_simhash_recall", "sim_neardup_recall",
    "sim_semantic_dedup", "dedup_minhash_adversarial",
    # one-row national-total scalar aggregate (see _BNLJ_OK)
    "q11_important_stock",
    # one-row range/totals scalars over the tiny binned frame
    "dq_distribution_drift",
    # bm25 corpus-stats scalar inside the candidate stage
    "pipeline_hybrid_search",
    # same bm25 scalar inside the fusion's candidate stage
    "pipeline_rrf_fusion",
    # whole-org payload: collect_list folds to one doc row per entity
    # (partial lists per partition, merged once — payload boundary)
    "entity_org_payload_json",
    # one-row vocabulary-size scalar (countDistinct partials merged
    # once), crossed into the bigram score join — see _BNLJ_OK
    "text_bigram_lm_nll",
    # two one-row scalars: min-over-3-hash-rows sketch inner product
    # (d*w-bounded input) and the exact-size count — see _BNLJ_OK
    "sketch_cms_join_size",
    # one-row scalar aggregates over k<=256-row sketch frames (k_used/
    # kth_hash/matches) and the one-row exact counts — see _BNLJ_OK
    "sketch_kmv_distinct", "sketch_kmv_jaccard",
    # one-row corpus-total scalar (SUM partials merged once) — the
    # vocabulary-sized score join itself is exchange-hashed
    "corpus_kl_sources",
    # one-row total over the 9-row digit frame
    "dq_benford",
    # one-row anchor + three one-row equidepth totals (see _BNLJ_OK)
    "orders_rfm_scores",
    # one-row doc-count scalar (countDistinct partials merged once)
    "text_pmi_pairs",
    # one-row token-count scalar + the <=50-row iteration folds
    "text_textrank_keywords",
    # one-row final U/n_pos/n_neg aggregate over the score-grid frame
    # (the prefix sum itself is range-partitioned, never one partition)
    "stats_auc_purchase",
    # one-row final max-|deviation| aggregate over the distinct-value
    # CDF frame (the dual-column prefix sum is range-partitioned)
    "stats_ks_value_purchase",
    # one-row final six-moment aggregate over the rank-joined rows
    # (both rank maps are range-partitioned prefix sums)
    "stats_spearman_qty_price",
    # one-row final nine-moment aggregate (closed-form ridge normal
    # equations; partials merged once)
    "feat_ridge_price",
    # one-row grand-total scalar + the 25-cell final chi2 fold
    "stats_chi2_segment_priority",
    # one-row grand-total scalar + the 25-cell weighted-pinned-MI fold
    "stats_mi_segment_priority",
    # one-row min/max + one-row totals scalars (10-row bin frame)
    "feat_woe_iv",
    # one-row basket-count scalar (distinct partials merged once)
    "orders_rule_lift",
    # one-row final (n, six, sx) aggregate over the ranked per-customer
    # frame (the rank itself is range-partitioned)
    "stats_gini_customers",
    # one-row max scalar + the 10-row bin fold
    "stats_reliability_bins",
    # one-row final concordance counts over the <= 300-pair frame
    "stats_kendall_tau",
    # one-row moment scalars over the nation-bounded edge frame
    "graph_degree_assortativity",
    # one-row Bloom-bitmap fold (<= width_words partials merged once)
    # + the one-row final exact rollup
    "sketch_bloom_semijoin",
    # one-row vocab-size / doc-total scalars (countDistinct and count
    # partials merged once) — see _BNLJ_OK
    "text_nb_lang_confusion",
    # one-row k/N/sortsum moment fold over the 5-group frame + the
    # one-row tie scalar (the rank map itself is range-partitioned)
    "stats_kruskal_value_type",
    # one-row 2x2 agreement-cell aggregate over the filter join
    "quality_filter_kappa",
    # one-row MI/entropy scalars over the alphabet-bounded frames
    "stats_theil_u",
    # one-row anchor/total scalars + the one-row KM array fold over
    # the bounded duration grid (the prefix sum is range-partitioned)
    "orders_survival_km",
    # one-row study-end anchor + cohort-totals scalars + the one-row
    # final chi2 fold over the bounded duration grid (the dual-cohort
    # prefix sum is range-partitioned)
    "orders_logrank",
    # one-row 9-moment aggregate over the <=51x11 pinned cell census
    # (the census itself is exchange-hashed; iterations touch only it)
    "feat_logistic_irls",
    # one-row 5-group moment fold (sorted-fold SSB term + totals)
    "stats_anova_f",
    # one-row G/n/k/halves scalar aggregates over the 10-cell frame
    "events_gtest_halves",
    # three one-row FD-strength aggregates over per-key max frames
    "dq_fd_audit",
    # one-row H folds over the 25-cell bigram matrix
    "events_markov_entropy",
    # one-row base-rate + 9-moment IRLS aggregates over the bounded
    # cell census (the feat_logistic_irls shape inside the composite)
    "pipeline_curate_select",
    # the KM grid fold + the one-row 5-moment OLS aggregate
    "orders_weibull_fit",
    # one-row grand-mean + the 50-row resample-means fold
    "stats_bootstrap_ci_mean",
    # one-row normalizer totals per HITS pass (25-row input)
    "graph_hits_trade",
}


# Queries allowed to keep top-level array columns. Empty since round 5:
# the nested smoke twins serialize their doc to JSON strings, and their
# nested SHAPE is now oracle-certified by the entity_*_json roundtrip
# contracts (entity_plans.py) instead of being exempted here.
_ARRAY_COL_OK: set[str] = set()


# ---------------------------------------------------------------------
# Broadcast-hint lint (round 7). An explicit F.broadcast() on a frame
# whose cardinality grows with sf is an executor OOM at the 100 TB
# north star: part is sf*200k rows (~20 B at 100 TB), customer sf*150k,
# supplier sf*10k. AQE broadcasts those frames anyway while they fit,
# so the hint buys nothing at bench scale and breaks at cluster scale.
# Round 6's verdict found 14 such sites; all were removed. This lint is
# the tripwire: it walks every registered query's ANALYZED logical plan
# (hints survive there as ResolvedHint nodes), and flags any broadcast
# hint whose subtree scans an sf-scaled base table without a
# cardinality-bounding Aggregate/GlobalLimit between hint and scan.
# Constant-size frames (nation, region, driver-built LocalRelations,
# k-row sketch/centroid frames, one-row scalar aggregates) pass.

# Column signatures identifying a parquet scan of an sf-scaled table.
_SF_SCALED_SIGS = ("l_orderkey#", "o_orderkey#", "c_custkey#",
                   "s_suppkey#", "p_partkey#", "event_id#", "doc_id#",
                   "vec_id#")

# Nodes that bound the cardinality of the hinted subtree. An Aggregate
# on a constant alphabet (brand, event_type) or a scalar agg is bounded;
# an Aggregate grouped on a sf-scaled key would NOT be, but no exempted
# plan does that — additions must be reviewed against this comment.
_BOUNDING_NODES = ("Aggregate", "GlobalLimit")

# A filter pinning a UNIQUE id column below/to a small constant bounds
# the frame to <= that many rows regardless of sf — the fixed-query-set
# idiom (`embeddings.filter(vec_id < 5)` in every sim_*/pipeline_*
# plan). Only unique keys qualify; a `<` on a non-key column would be a
# constant *fraction* (linear) and must not match.
_BOUNDED_ID_FILTER = re.compile(
    r"Filter \(?(?:vec_id|doc_id|event_id|o_orderkey|p_partkey"
    r"|c_custkey|s_suppkey)#\d+L? (?:<|<=|=) cast\((\d+) as bigint\)")
_BOUNDED_ID_MAX = 4096
# `id IN (<literal list>)` on a unique key: bounded by the list length
# (which is bounded by the plan text itself).
_BOUNDED_ID_IN = re.compile(
    r"Filter \(?cast\((?:vec_id|doc_id|event_id|o_orderkey|p_partkey"
    r"|c_custkey|s_suppkey)#\d+L? as bigint\) IN \(cast\(\d+")
# A top-k rank filter (`Filter (rank#N <= k)` over a row_number window)
# bounds the frame to k rows PER WINDOW GROUP. Every plan relying on
# this (the sim_pq*/sim_ivfpq* candidate sets) windows by q_id, whose
# frame is the fixed ≤5-row query set — so the hinted frame is ≤ 5*k
# rows at any sf. A rank filter whose window partitions by an
# sf-scaled key would NOT be bounded; like the _BOUNDING_NODES
# aggregate caveat above, additions must be reviewed against this
# comment (the per-path walk landed in round 8; before that the
# sibling branch's vec_id filter masked these, a false negative).
_BOUNDED_RANK_FILTER = re.compile(r"Filter \(?rank#\d+ <= (\d+)\)")

# name -> justification, for hinted subtrees that scan an sf-scaled
# table but are bounded by an operator-level CONTRACT the plan text
# can't show. Review each addition: the justification must say why the
# frame stays executor-memory-sized at any sf.
_BROADCAST_SFSCALED_OK: dict[str, str] = {
    "merge_upsert_orders": (
        "broadcasts the CDC delta's key set; upsert contract is "
        "delta << base (never shuffle base — test_upsert_never_"
        "shuffles_base). A 100 TB deployment bounds delta batches."),
    "merge_join_delta": (
        "same CDC contract: the delta batch (emulated as a modulo "
        "sample) is the small side by definition."),
    "corpus_decontaminate": (
        "broadcasts the benchmark suite's n-gram hashes; benchmarks "
        "are a fixed external corpus (constant size), emulated here "
        "as a modulo sample of documents."),
}

_TREE_PREFIX = re.compile(r"^(?:(?::  |   |:- |\+- ))*")


def _is_bounding_line(ln: str) -> bool:
    if any(b in ln for b in _BOUNDING_NODES):
        return True
    m = _BOUNDED_ID_FILTER.search(ln)
    if m and int(m.group(1)) <= _BOUNDED_ID_MAX:
        return True
    m = _BOUNDED_RANK_FILTER.search(ln)
    if m and int(m.group(1)) <= _BOUNDED_ID_MAX:
        return True
    return bool(_BOUNDED_ID_IN.search(ln))


def _hinted_sfscaled_scans(analyzed: str) -> list[str]:
    """Return violation descriptions for broadcast hints over unbounded
    sf-scaled scans in an analyzed-plan string.

    Boundedness is checked PER SCAN, on the ancestor path between that
    scan and the hint — not anywhere in the hint's subtree. A hint over
    join(bounded aggregate, unbounded sf-scaled scan) is exactly the
    OOM shape this lint exists to catch: the aggregate bounds its OWN
    branch, not the sibling scan (round-8 ADVICE fix)."""
    lines = analyzed.splitlines()
    depths = [len(_TREE_PREFIX.match(ln).group(0)) // 3 for ln in lines]
    bad = []
    for i, ln in enumerate(lines):
        if "ResolvedHint" not in ln or "broadcast" not in ln:
            continue
        d = depths[i]
        j = i + 1
        sub_end = j
        while sub_end < len(lines) and depths[sub_end] > d:
            sub_end += 1
        unbounded_tables: set[str] = set()
        for k in range(j, sub_end):
            s = lines[k]
            if "Relation" not in s \
                    or not any(sig in s for sig in _SF_SCALED_SIGS):
                continue
            # walk the ancestor chain from this scan up to the hint:
            # each step goes to the nearest preceding line of strictly
            # smaller depth (its parent in the tree rendering)
            bounded = False
            cur = depths[k]
            p = k - 1
            while p > i and cur > d + 1:
                if depths[p] < cur:
                    cur = depths[p]
                    if _is_bounding_line(lines[p]):
                        bounded = True
                        break
                p -= 1
            if not bounded:
                unbounded_tables.update(
                    sig.rstrip("#") for sig in _SF_SCALED_SIGS if sig in s)
        if unbounded_tables:
            bad.append("broadcast hint over sf-scaled scan(s) "
                       f"{sorted(unbounded_tables)}")
    return bad


def test_plan_lint_every_registered_query(spark):
    """Fleet-wide physical-plan lint: NO registered query may contain a
    cartesian product, a Python row-UDF, or an unexpected BNLJ /
    single-partition exchange. This is the regression tripwire for the
    100 TB properties — a refactor that de-broadcasts a join or drags
    raw rows into one partition fails here, not in production."""
    from pyspark.sql.types import ArrayType, MapType

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    bad = []
    for name, spec in REGISTRY.items():
        df = spec.fn(spark, SF_SMOKE)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        # VERDICT_r9 ask #2: a window partitioned by a connected-
        # component id sorts every row of a mega-clique in ONE task —
        # the exact skew class the per-doc top-m cap exists to avoid.
        # Per-component argmax/size must be a (min|max)_by / count
        # aggregate (map-side combine) + join-back instead.
        if "windowspecdefinition(component#" in analyzed:
            bad.append((name, "component-partitioned window (mega-"
                              "clique skew; use min_by/max_by agg)"))
        if name not in _BROADCAST_SFSCALED_OK:
            for v in _hinted_sfscaled_scans(analyzed):
                bad.append((name, v))
        plan = df._jdf.queryExecution().explainString(mode)
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan:
            bad.append((name, "Python row-UDF"))
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_OK:
            bad.append((name, "unexpected BNLJ"))
        if ("Arguments: SinglePartition" in plan
                and name not in _SINGLE_PART_OK):
            bad.append((name, "unexpected single-partition exchange"))
        # The grading driver canonicalizes output by sorting every
        # column through pandas, which cannot hash list cells — a
        # top-level array/map column makes even a rows-only entry
        # error out (round-3 reds: text_tokenize_ids,
        # multimodal_features). Serialize sequences in the registered
        # projection; keep arrays on the operator API only. Nested
        # struct twins are exempt (structs arrive as hashable Rows).
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType)) \
                    and name not in _ARRAY_COL_OK:
                bad.append((name, f"driver-unhashable column {f.name}: "
                                  f"{f.dataType.simpleString()}"))
    assert not bad, f"plan lint violations: {bad}"


def test_org_payload_assembly_plan_pre_checkpoint(spark):
    """entity_org_payload_json checkpoints its one-row roundtrip, which
    truncates the plan the fleet lint sees at an RDD scan — so the
    six-pipeline assembly upstream is linted HERE, pre-checkpoint: no
    cartesian products, no Python row-UDFs (the BroadcastNestedLoopJoin
    folds of six ONE-ROW frames are the exempted payload-boundary
    shape)."""
    from g1_etl_spark.plans.entity_plans import _org_payload_roundtrip

    df = _org_payload_roundtrip(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the assembly itself must be visible (not an RDD scan stub)
    assert "Scan parquet" in plan


def test_mmr_candidate_plan_pre_checkpoint(spark):
    """sim_mmr_rerank localCheckpoints its candidate pool, which hides
    the ONLY corpus-sized stage (brute_force_topk over embeddings) from
    the fleet lint as an RDD stub — so that assembly is linted HERE,
    un-checkpointed (ADVICE r8): the queries side must stay the
    broadcast side (the hint lint walks each scan's ancestor path and
    fails on a broadcast over the UNBOUNDED embeddings scan), no
    cartesian product, no Python row-UDF, and the two-stage top-k's
    partial WindowGroupLimit must survive so no single window task
    funnels the whole scored corpus."""
    from g1_etl_spark.catalog import load_table
    from g1_etl_spark.operators.similarity import mmr_candidate_pool
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    df = mmr_candidate_pool(emb, queries, pool=20)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert not _hinted_sfscaled_scans(analyzed), (
        "broadcast hint over the unbounded embeddings corpus — the "
        "queries side must be the broadcast side")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # de-broadcast regression shape: the intended plan has exactly one
    # BNLJ node (the queries-broadcast cross scoring the corpus);
    # count on the simple tree (formatted mentions each node twice)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert simple.count("BroadcastNestedLoopJoin") == 1, simple
    assert "WindowGroupLimit" in plan, "two-stage top-k lost its partial"
    # the corpus scan itself must be visible (not an RDD stub)
    assert "Scan parquet" in plan


def test_kcore_iteration_plan_pre_checkpoint(spark):
    """graph_kcore_trade localCheckpoints every h-index iteration, so
    the per-iteration join + per-node ranked window escape the fleet
    lint — linted HERE un-checkpointed (ADVICE r8): no cartesian
    product, no Python stage, and the row_number window must partition
    by node (a single-partition window over all edges is exactly the
    regression this pins)."""
    from pyspark.sql import functions as F

    from g1_etl_spark.plans.graph_plans import kcore_hindex_iteration

    # synthetic directed-pair frame with the operator's exact schema;
    # shape (not data) is what the lint inspects
    und = spark.range(0, 200).select(
        (F.col("id") % 40).alias("a"), (F.col("id") % 17).alias("b"))
    dirp = (und.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionByName(und.select(F.col("b").alias("u"),
                                    F.col("a").alias("v"))))
    c = dirp.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("c"))
    df = kcore_hindex_iteration(dirp, c)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Arguments: SinglePartition" not in plan, (
        "k-core window no longer partitions by node")


def test_fuzzy_damerau_single_python_stage(spark):
    """Exactly ONE Python/Arrow eval stage in fuzzy_id_transpositions
    (VERDICT r8 ask #3): the scalar-pandas-UDF form let Catalyst
    re-extract the Damerau DP into TWO ArrowEvalPython nodes (double
    DP cost, fixed by mapInPandas in f4d0b0e) — a Spark-version bump
    could silently reintroduce it, so the single-stage property is
    pinned here."""
    df = REGISTRY["fuzzy_id_transpositions"].fn(spark, SF_SMOKE)
    # count on the simple tree (formatted mentions each node twice)
    simple = df._jdf.queryExecution().executedPlan().toString()
    n_python = (simple.count("ArrowEvalPython")
                + simple.count("MapInPandas")
                + simple.count("BatchEvalPython"))
    assert n_python == 1, (
        f"expected exactly one Python stage, found {n_python}:\n{simple}")


def test_bucketed_twins_elide_smj_sort(spark):
    """The bucketed q21/basket twins' 100 TB margin rests on the
    one-file-per-bucket sorted layout: the co-located SMJs must consume
    the scans' outputOrdering directly. Pinned property (the r7 bench
    saw the twins' margin narrow — this makes a layout/conf regression
    fail HERE, not as a silent slowdown):

      * every Sort on an order key must be (a) partition-LOCAL (no
        Exchange beneath it — already asserted by test_scaling) and
        (b) sit directly above a hash-DISTINCT HashAggregate, whose
        output is inherently unordered and already deduped-small.
        Those local re-sorts are the floor for hash-based distinct.
      * a Sort whose child chain reaches a FileScan without crossing a
        HashAggregate means the scan stopped reporting its bucket-sort
        (one file per bucket + bucketedTableScan.outputOrdering) — the
        actual regression this test exists to catch."""
    sort_re = re.compile(r"\bSort \[(?:l|o)_orderkey#")
    for name in ("q21_blame_bucketed", "basket_pairs_bucketed"):
        df = REGISTRY[name].fn(spark, SF_SMOKE)
        simple = df._jdf.queryExecution().executedPlan().toString()
        lines = simple.splitlines()
        for i, ln in enumerate(lines):
            if not sort_re.search(ln):
                continue
            child = lines[i + 1] if i + 1 < len(lines) else ""
            assert "HashAggregate" in child, (
                f"{name}: order-key Sort above a non-distinct child — "
                f"bucket-sorted scan no longer reports its ordering:\n"
                f"{ln}\n{child}")


def test_build_jobs_stay_in_caller_job_group(spark):
    """A registered fn's eager build work (checkpoints, carry collects)
    must run on the caller's thread, so every job it starts carries the
    caller's job group — the label a caller cancels and attributes by.
    A driver thread pool breaks this: under pinned threads a pool
    thread does not inherit the caller's local properties."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    counts = {}  # name -> (jobs outside the group, jobs in it)
    try:
        for name in ("dq_drift_report", "pipeline_curate_select",
                     "orders_rfm_scores"):
            group = f"build-{name}"
            sc.setJobGroup(group, name)
            before = set(tracker.getJobIdsForGroup(None))
            REGISTRY[name].fn(spark, SF_SMOKE)
            stray = set(tracker.getJobIdsForGroup(None)) - before
            counts[name] = (len(stray),
                            len(tracker.getJobIdsForGroup(group)))
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    assert all(out == 0 and ins > 0 for out, ins in counts.values()), (
        f"(outside, inside) the caller's job group per build: {counts}")
