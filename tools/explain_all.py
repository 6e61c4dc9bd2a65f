"""Dump formatted physical plans for the headline queries → docs/PLANS.md.

Regenerate after plan-affecting changes::

    python tools/explain_all.py [sf_dir]

The output is a review artifact: each query's plan shows where broadcasts,
exchanges, pushed filters, and codegen stages land, so plan regressions are
visible in diffs (tests/test_plans.py asserts the load-bearing properties;
this file is the human-readable companion).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from area_etl_spark.session import get_spark  # noqa: E402
from bench import CORPUS as BENCH_CORPUS  # noqa: E402 — both bench groups get plans
from bench import HEADLINE as BENCH_HEADLINE  # noqa: E402

HEADLINE = [
    "pipeline_core",
    "tpch_q5ish",
    "asof_join",
    "events_sessionization",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "multiway_left_join",
    "scd2_intervals",
    "role_permissions_fanout",
    "text_tfidf_topk",
    "text_repetition",
    "sample_hash",
    "funnel_conversion",
    "partitioned_layout_prune",
    "merge_upsert",
    "window_rolling_agg",
    "dense_ids",
    "quarantine_rows",
    "keep_latest",
    "pack_sequences",
    "outlier_detection",
    "pipeline_companies",
    "pipeline_udo_types",
    "pipeline_udos",
    "pipeline_operational_offices",
    "pipeline_udo_specialties",
    "pipeline_users",
    "decontaminate_benchmark",
    "corpus_prep_pipeline",
    "rebalance_mixture",
    "clean_lines",
    "dedup_paragraphs",
    "pipeline_bindings",
    "chunk_documents",
    "duplicate_spans",
    "bigram_lm_score",
    "incremental_dedup",
    "leakage_safe_split",
    "inverted_index",
    "search_terms",
    "bm25_search",
    "topk_per_group",
    "corpus_report",
    "merge_intervals",
    "salted_join_skew",
    "grouping_sets",
    "histogram_equidepth",
    "robust_zscore",
    "window_running_distinct",
    "ols_per_group",
    "weighted_sample",
    "dedup_best_rep",
    "pagerank",
    "ann_pq_topk",
    "scd2_lookup",
    "window_moving_median",
    "locf_impute",
    "ratio_to_report",
    "mode_per_group",
    "set_operations",
    "entropy_per_user",
    "text_strip_accents",
    "time_weighted_avg",
    "mom_growth",
    "event_transitions",
    "winsorize",
    "window_dist_funcs",
    "benford_digits",
    "chi_square",
    "window_range_frame",
    "assoc_rules",
    "topk_with_ties",
    "iqr_report",
    "debounce_events",
    "triangle_count",
    "bfs_hops",
    # — r11 additions —
    "warc_roundtrip",
    "language_id_trained",
    "luhn_card_scan",
    "multimodal_quarantine_report",
    "roc_auc_quantized",
    "rfm_segments",
    "ntile_scalable",
    "randomization_test",
    "isotonic_calibration",
    "mantel_haenszel",
    "mcnemar_langid",
    "trend_test",
    "spearman_corr",
    "kruskal_wallis",
    "holm_bonferroni",
    # — r12 additions —
    "jarque_bera",
    "mann_kendall",
    "hhi_concentration",
    "abc_classification",
    "bcubed_eval",
    "dedup_threshold_curve",
    "adamic_adar",
    "tokenizer_fertility",
    "forecast_accuracy",
    "ewma_control_chart",
    "welch_ttest",
    "hodges_lehmann",
    "hurst_exponent",
    "group_sequential",
    "disproportionality",
    "bradley_terry",
    "km_survival_ci",
    "kn_perplexity",
    "asof_nearest",
    "vwap_bars",
    "anderson_darling",
    "twfe_estimator",
    "siegel_slope",
    "eb_shrinkage",
    "overdispersion_check",
    "sbg_retention",
    "language_purity",
    # — r13 additions —
    "business_days_holidays",
    "html_main_text",
    "html_extract_links",
    "vat_checksum_scan",
    "iban_checksum_scan",
    # r13 plan-shape fixes (broadcast hints on keyless pair joins)
    "theil_sen_bounded",
    "kendall_tau",
    # — r13 session-2 additions —
    "cf_checksum_scan",
    "code_detect",
    "anchor_text_agg",
    "embedding_anisotropy",
    "embedding_whiten",
    "periodogram",
    "fs_em_weights",
    "crawl_funnel_pipeline",
    "cooccurrence_pairs",
    "hyperball_neighborhood",
    "local_clustering",
]
# bench.py's headline set is audited as a unit: every benchmarked query must
# have a PLANS.md entry (tests/test_plans.py asserts this), so the plan
# audit can't silently drop one.
HEADLINE += [q for q in BENCH_HEADLINE + BENCH_CORPUS if q not in HEADLINE]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-all")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        f"Generated by `python tools/explain_all.py {sf_dir}`. Do not edit by hand.",
        "",
    ]
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the tree, drop the verbose per-node details for readability
        tree = plan.split("\n\n")[0]
        out += [f"## {name}", "", "```", tree.strip(), "```", ""]
    with open(os.path.join(ROOT, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    main()
