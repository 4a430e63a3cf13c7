"""Registry-wide physical-plan audit: no query in `queries()` may plan
a CartesianProduct or an un-allowlisted BroadcastNestedLoopJoin. This
is the scale guard as a TEST — a new query that quadratically
cross-joins (or a Catalyst/code change that silently degrades an
equi-join into a nested loop) fails CI here, not at 100 TB.

The allowlist holds the DOCUMENTED exceptions: labeled brute-force
baselines and broadcast crosses whose build side is provably tiny
(single-row stats aggregates, k-row centroid/codebook tables, fixed
probe lists) — each entry names why it is safe.
"""

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

# query -> why a BroadcastNestedLoopJoin / cross is acceptable there
BNLJ_ALLOWED = {
    "cosine_topk": "labeled brute-force correctness baseline",
    "embed_near_pairs": "labeled brute-force baseline (oracle anchor)",
    "ngram_jaccard": "labeled brute-force baseline over bounded sample",
    "ann_recall": "contains the brute-force ground-truth baseline",
    "semdedup": "broadcast k-row centroid table (k=8)",
    "kmeans": "broadcast k-row centroid table per Lloyd round",
    "ivf_assign": "broadcast N_CENTROIDS=5-row centroid table",
    "ivf_search": "centroid assignment reuses ivf_assign's 5-row cross",
    "ivf_multiprobe": "same 5-row centroid cross",
    "ivfpq_search": "5-row centroid cross + PQ codebook broadcast",
    "hard_negatives": "cell assignment reuses ivf_assign's 5-row cross",
    "pq_encode": "broadcast 16-row-per-subspace codebook",
    "pq_search": "broadcast codebook/ADC lookup table",
    "sq_encode": "broadcast single-row per-dimension stats aggregate",
    "sq_search": "broadcast single-row stats + 10-row query side",
    "bm25_topk": "single-row corpus-stats cross",
    "tfidf_topk": "single-row n_docs/df stats cross (textops.py:611)",
    "cooc_pmi": "single-row n_tok/n_pair totals crosses (curation4.py:116)",
    "dq_audit": "cross of two single-row violation aggregates",
    "lm_commonness": "single-row vocabulary-size cross",
    "dormant_customers": "single-row positive-balance stats cross (tpch3.py)",
    "theta_intersect": "event-type pair enumeration over |types|-row sides",
    "dtw_dist": "event-type pair enumeration over |types|-row sides "
    "(theta_intersect precedent; DP confined per pair, temporal2.py)",
    "lcs_series": "same |types|-row pair enumeration (temporal2.py)",
    "pca_cov": "single-row row-count cross (analytics2.py)",
    "join_card_est": "cross of two single-row count aggregates",
    "manifest_prune": "cross of two single-row audit aggregates "
    "(file stats × matched-row count, tableops.py)",
    "partition_quality": "cross of three single-row audit aggregates "
    "(edge counts × degree mass × node balance, graphcut.py)",
    "entropy_rate": "single-row corpus-totals cross over the "
    "alphabet²-bounded bigram table (compressops.py)",
    "kn_bigram": "single-row bigram-type-count cross over the "
    "vocabulary²-bounded table (lmops.py)",
    "diameter_sweep": "crosses of single-row eccentricity aggregates "
    "(graphsweep.py)",
    "transitivity": "cross of two single-row wedge/triangle aggregates "
    "(ccoeffops.py)",
    "bitemporal_asof": "broadcast 4-row probe-panel cross "
    "(bitempops.py)",
    "quantile_fit": "broadcast 42-row (slope,intercept) grid cross — "
    "the documented exact grid-search tier (bitempops.py)",
    "layout_advisor": "bounded manifest × 6-row workload cross "
    "(≤ ~100 partitions per layout, planops.py)",
    "watermark_plan": "candidate ladder rides one 1-row aggregate; "
    "recommended-δ is a second 1-row cross (planops.py)",
    "ab_test": "cross of the two single-row per-arm aggregates",
    "consistent_sample": "cross of two single-row count aggregates",
    "calibration_bins": "single-row score-min/max stats cross",
    "decontam": "broadcast eval-set n-gram table (bounded by eval size)",
    "minhash_jaccard_est": "bounded sample pair baseline vs estimate",
    "mix_sample": "single-row totals cross for mixture shares",
    "data_mixture": "single-row corpus-totals cross",
    "eb_shrinkage": "single-row global-totals cross (rankstats.py)",
    "target_encode": "single-row global-fallback totals cross (calendarops.py)",
    "assoc_rules": "single-row n_baskets totals cross (basketops.py)",
    "t_closeness": "broadcast |segment-domain|×1-row global-counts cross "
    "(privops2.py — the dense-grid zero-fill side is 5 rows)",
    "profile": "single-row corpus-stats crosses",
    "stats_agg": "single-row aggregate crosses",
    "corr_matrix": "single-row moment-sums aggregate",
    "zipf_fit": "single-row fold over the 100-term top list",
    "quantile_sketch": "broadcast 5-row stats/median tables",
    "mad_outliers": "broadcast 5-row median/MAD tables",
    "ann_lsh_buckets": "broadcast hyperplane constants",
    "ann_lsh_search": "broadcast 10-row query side",
    "ann_lsh_multiprobe": "broadcast 10-row query side",
    "curation_funnel": "single-row stage-count crosses",
    "hll_distinct": "single-row audit cross (est vs exact)",
    "heavy_hitters": "5-row probe list join",
    "source_drift": "single-row half-totals cross",
    "vocab_coverage": "broadcast 512-row vocabulary",
    "token_stats": "single-row corpus-totals cross",
    "rfm": "single-row corpus-max-day cross (engagement.py:48)",
    "cusum_drift": "single-row (n_days, total) aggregate cross (temporal.py)",
    "weighted_median": "single-row total-weight aggregate cross (statsops.py)",
    "doc_tfidf_keywords": "single-row n_docs cross (textmetrics.py)",
    "theil_sen": "day-grain pair self-join, calendar-bounded (statsops.py)",
    "rocchio_expand": "broadcast |probes|-row query-centroid cross (irops.py)",
    "important_stock": "single-row national-total aggregate cross (tpch4.py)",
    "value_share": "single-row stock-value-total aggregate cross (tpch5.py "
    "Q11 HAVING-vs-global)",
    "bq_search": "broadcast 10-row query side (binary masks)",
    "mutual_knn": "labeled brute-force kNN baseline (ANN-gated at scale)",
    "ams_f2": "cross of two single-row aggregates (exact F2 vs sketch est)",
    "cluster_purity": "assignment reuses kmeans' broadcast k-row centroid cross",
    "chi2_cells": "single-row grand-total aggregate cross (statsops2.py)",
    "cramers_v": "rides chi2_cells' single-row grand-total cross "
    "(statsops4.py)",
    "kaplan_meier": "single-row corpus-horizon aggregate cross (survival.py)",
    "knn_classify": "neighbor lists reuse cosine_topk's labeled brute-force "
    "baseline; scale path swaps in ivf_search/pq_search (mlops.py)",
    "ransac_fit": "broadcast 32-row candidate-model table + 1-row winner "
    "cross — RANSAC's fixed iteration budget (fitops.py)",
    "isotonic_fit": "bounded 16-row bin-table triple cross — PAVA minimax "
    "confined to the fixed-width bin table (fitops.py)",
    "mann_kendall": "day-grain pair self-join, calendar-bounded (the "
    "theil_sen precedent) + single-row stats crosses (misops.py)",
    "cuped": "single-row global-moments broadcast cross (experimentops.py)",
    "naive_bayes": "broadcast |labels|-row class table + single-row "
    "vocab/total crosses (mlops2.py)",
    "woe_iv": "single-row good/bad-totals cross (statsops5.py)",
    "psi_drift": "single-row half-totals cross (statsops5.py)",
    "capture_recapture": "cross of three single-row count aggregates "
    "(sampleops.py)",
    "seq_patterns": "single-row n_users cross (seqops.py)",
    "synth_control": "broadcast 66-row integer weight-simplex cross — "
    "the quantile_fit exact grid-search tier (synthops.py)",
    "team_draft": "broadcast 5-row query-panel cross (evalops2.py)",
    "selectivity_est": "1-row min/max stats cross + 5-row predicate panel "
    "against the 20-row histogram (evalops2.py)",
    "join_order_dp": "crosses of four single-row stat aggregates feeding "
    "the one-row DP pivot (joinorderops.py)",
    "vopt_hist": "1-row min/max stats cross bucketing the scan; the DP "
    "runs on a one-row pivot (histops.py)",
    "theil_decomp": "single-row global-totals cross, ln terms "
    "leaf-rounded before the sums (histops.py)",
    "label_noise_est": "broadcast ≤10-row integer-centroid table cross — "
    "the kmeans/semdedup tier (noiseops.py)",
    "heldout_ppl": "single-row vocabulary-size cross (lm_commonness "
    "precedent, noiseops.py)",
    "ring_rebalance": "single-row movement-totals cross (opsaudit.py)",
    "ams_join_est": "cross of two single-row aggregates (sketch estimate "
    "vs exact join size — the ams_f2 tier, sketchest.py)",
    "priority_sample_est": "broadcast 1-row threshold (τ) cross against "
    "the 64-row sample (sketchest.py)",
    "critical_path": "single-row global-max aggregate cross feeding the "
    "criticality flag (schedops.py)",
    "rec_coverage": "crosses of single-row totals/coverage/catalog "
    "aggregates (recops.py)",
    "mv_select": "32-row literal subset panel × single-row stats pivot "
    "(governops.py)",
    "fairness_audit": "rides noiseops.predictions' ≤10-row centroid "
    "cross + a 3-row gap rollup cross (governops.py)",
    "ql_dirichlet": "single-row corpus-stats cross (the bm25_topk "
    "no-explode precedent, rakeops.py)",
    "brier_decomp": "single-row score-min/max stats cross (the "
    "calibration_bins precedent, brierops.py)",
    "mann_whitney": "cross of two single-row aggregates (rank pivot × "
    "tie totals, rankstats2.py)",
    "kruskal_wallis": "single-row (n, tie_sum) totals cross broadcast "
    "onto the 5-row per-group table (rankstats2.py)",
    "condorcet_check": "bounded 10×10 Borda-candidate pair self-join — "
    "the pairwise-majority matrix is the deliverable (voteops.py)",
    "adaboost_stumps": "two single-row broadcast winner crosses (round-1 "
    "and round-2 stump parameters onto the scan, boostops.py)",
    "burrows_delta": "top-20-words × |sources|-row totals cross building "
    "the bounded W·S grid (styloops.py)",
    "collocation_llr": "single-row bigram-total cross (the cooc_pmi "
    "precedent, collocops.py)",
    "rank_select": "8-row probe panel × block-directory/bitvector "
    "verification crosses (succinctops.py)",
    "huffman_bits": "single-row alphabet-totals crosses (codingops.py)",
    "conformal_interval": "single-row OLS-fit / conformal-quantile "
    "broadcast crosses onto the scan (conformops.py)",
    "fm_sketch": "cross of two single-row aggregates (sketch sum vs "
    "exact distinct, morrisops.py)",
    "jsd_matrix": "top-64-words × |sources|-row totals cross building "
    "the bounded grid (the burrows_delta tier, infoops.py)",
}


def _registry():
    return entrymod.queries()


def test_no_unexpected_cartesian_or_nested_loop(spark):
    qs = _registry()
    offenders = {}
    for name, fn in sorted(qs.items()):
        df = fn(spark, SF)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        cart = "CartesianProduct" in plan
        bnlj = "BroadcastNestedLoopJoin" in plan
        if cart and name not in BNLJ_ALLOWED:
            offenders[name] = "CartesianProduct"
        elif bnlj and name not in BNLJ_ALLOWED:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, (
        "quadratic join shapes outside the documented allowlist: "
        f"{offenders} — either fix the plan (equi-join / broadcast a "
        "bounded side) or add a justified allowlist entry"
    )


def test_allowlist_entries_still_exist(spark):
    """An allowlist entry for a deleted/renamed query is stale noise."""
    qs = set(_registry())
    stale = [k for k in BNLJ_ALLOWED if k not in qs]
    assert not stale, f"stale allowlist entries: {stale}"


def test_ppjoin_pairs_has_no_single_partition_exchange(spark):
    """The vocabulary rank of ppjoin_pairs is data-proportional, so no
    job it runs (staging writes included) may funnel through one
    partition. Every SQL execution since the start is checked, since
    staged subtrees are absent from the returned DataFrame's plan."""
    store = spark._jsparkSession.sharedState().statusStore()

    def plans():
        ex = store.executionsList()
        return {
            ex.apply(i).executionId(): ex.apply(i).physicalPlanDescription()
            for i in range(ex.size())
        }

    seen = set(plans())
    entrymod.queries()["ppjoin_pairs"](spark, SF).collect()
    new = {k: v for k, v in plans().items() if k not in seen}
    assert new
    bad = [k for k, v in new.items() if "SinglePartition" in v]
    assert not bad, new[bad[0]]


# module:function -> why a Window.orderBy without partitionBy (one
# partition holds every row) is acceptable there. "bounded" entries
# window a small aggregate; "data-proportional" entries are known
# single-partition ranks kept until they move to util.global_seq.
UNPARTITIONED_WINDOW_ALLOWED = {
    "functions.boostops:q_pareto_layers":
        "data-proportional: one row per ordering customer (skyline "
        "running max needs one global spend order)",
    "functions.causalops:q_psm_match":
        "data-proportional: treated units + distinct control scores",
    "functions.conformops:q_conformal_interval":
        "bounded: distinct residuals of the calibration split",
    "functions.curation7:q_token_budget":
        "data-proportional: one row per document",
    "functions.curation7:q_epoch_shuffle":
        "data-proportional: one row per document per epoch",
    "functions.erops:q_snm_pairs":
        "data-proportional: one row per customer (sorted-neighbourhood key)",
    "functions.evalops:q_gains_table":
        "data-proportional ntile over customers; running sums over 10 deciles",
    "functions.experimentops:q_changepoint":
        "bounded: one row per day of the event window",
    "functions.fitops:q_isotonic_fit":
        "bounded: 16 price bins",
    "functions.mlops:q_best_split":
        "bounded: distinct order-price cents",
    "functions.netops:q_crawl_budget":
        "bounded: one row per host",
    "functions.opsaudit:q_dict_compress_est":
        "data-proportional: distinct vocabulary terms",
    "functions.projops:q_auc_roc":
        "bounded: distinct event-value cents",
    "functions.rankstats2:_ranked":
        "bounded: distinct order-price cents",
    "functions.recops:q_rec_exposure_gini":
        "bounded: one row per catalog item",
    "functions.relational:q_skyline":
        "bounded: survivors of the per-partition local skyline",
    "functions.sampleops:q_neyman_alloc":
        "bounded: one row per market segment",
    "functions.schedops:q_lpt_makespan":
        "data-proportional: one row per user before the top-K cut",
    "functions.sketchest:q_priority_sample_est":
        "data-proportional: one row per order",
    "functions.statsops:q_spearman_ranks":
        "data-proportional: one row per document",
    "functions.statsops:q_weighted_median":
        "data-proportional: one row per document",
    "functions.statsops:q_theil_sen":
        "bounded: day pairs of the calendar-sized daily aggregate",
    "functions.statsops2:q_ks_test":
        "bounded: distinct account-balance values of two segments",
    "functions.statsops2:q_seasonal_decompose":
        "bounded: one row per order day",
    "functions.succinctops:q_rank_select":
        "data-proportional: one row per order (bitvector positions)",
    "functions.suffixops:_rank_join":
        "data-proportional: distinct rank keys of token positions",
    "functions.suffixops:q_suffix_rank":
        "data-proportional: one row per token position",
    "functions.suffixops:q_longest_repeat":
        "data-proportional: one row per token position",
    "functions.survival:q_kaplan_meier":
        "bounded: distinct lifetimes in days",
    "functions.tableops:q_compaction_plan":
        "bounded: one row per manifest file (order month)",
    "functions.temporal:q_cusum_drift":
        "bounded: one row per event day",
    "functions.voteops:_ranks":
        "data-proportional: one row per document",
}


def _unpartitioned_windows() -> set[str]:
    """``module:function`` of every ``Window.orderBy(...)`` whose chain
    never calls ``partitionBy``, under the package and the entry file;
    the function is the outermost one enclosing the call."""
    import ast
    import pathlib

    root = pathlib.Path(entrymod.__file__).resolve().parent
    pkg = root / "ocr_to_csv_spark"
    sites = set()
    for f in sorted(pkg.rglob("*.py")) + [root / "__spark_entry__.py"]:
        tree = ast.parse(f.read_text())
        parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            fn = node.func if isinstance(node, ast.Call) else None
            if not (
                isinstance(fn, ast.Attribute)
                and fn.attr == "orderBy"
                and isinstance(fn.value, ast.Name)
                and fn.value.id == "Window"
            ):
                continue
            p, partitioned = node, False
            while isinstance(parent.get(p), (ast.Attribute, ast.Call)):
                p = parent[p]
                partitioned |= isinstance(p, ast.Attribute) and p.attr == "partitionBy"
            if partitioned:
                continue
            owner, p = "<module>", node
            while p in parent:
                p = parent[p]
                if isinstance(p, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    owner = p.name
            mod = ".".join(f.relative_to(pkg if f.is_relative_to(pkg) else root)
                           .with_suffix("").parts)
            sites.add(f"{mod}:{owner}")
    return sites


def test_unpartitioned_windows_are_allowlisted():
    """A Window.orderBy without partitionBy funnels every row through
    one partition; each site needs a reason, and stale reasons fail."""
    sites = _unpartitioned_windows()
    new = sorted(sites - set(UNPARTITIONED_WINDOW_ALLOWED))
    stale = sorted(set(UNPARTITIONED_WINDOW_ALLOWED) - sites)
    assert not new, (
        f"unpartitioned Window.orderBy in {new}: partition it, rank with "
        "util.global_seq, or add a justified allowlist entry"
    )
    assert not stale, f"stale allowlist entries: {stale}"
