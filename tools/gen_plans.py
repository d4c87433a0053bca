"""Regenerate PLANS.md: formatted physical plans + scan evidence for the
representative query set, with Exchange/join-node counts.

    python tools/gen_plans.py [sf_dir]

Run after any plan-affecting change; PLANS.md is the README's
performance-posture evidence, so it must reflect the committed code.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q14_promo_effect",
    "q21_suppliers_waiting",
    "q11_important_stock",
    "flow_stats",
    "sessionize",
    "window_topn_orders",
    "inverted_index_str",
    "word_counts",
    "minhash_lsh_pairs",
    "simhash_neardup_pairs",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_dfcapped",
    "duplicate_span_stats",
    "bm25_topk_docs",
    "cluster_silhouette",
    "source_fair_quality_rank",
    "dedup_clusters",
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "ann_topk_ivf_multiprobe",
    "cluster_balanced_sample",
    "asof_last_click_cogroup",
    "ngram_containment_pairs",
    "unigram_logprob_scores",
    "hourly_anomaly_scores",
    "contrastive_negatives",
    "doc_quality_scores",
    "attribution_range_join",
    "stratified_sample",
    "asof_last_click",
    "kmeans_step",
    "semantic_dedup",
    "doc_repetition_scores",
    "bow_dedup",
    "key_skew_report",
    "bm25_top_terms",
    "neardup_pagerank",
    # round-3 continuation additions
    "boilerplate_coverage",
    "blocklist_scrub",
    "source_vocab_overlap",
    "user_path_trigrams",
    "quality_weighted_sample",
    "bpe_pair_counts",
    "gap_filled_hourly",
    "cohort_retention",
    "curation_funnel",
    "semantic_dedup_multiprobe",
    "sliding_wau",
    "neardup_triangles",
    "event_type_melt",
    "embedding_gram_matrix",
    # round-3 third session
    "cdc_apply",
    "corpus_snapshot_diff",
    "per_source_caps",
    "quality_dup_calibration",
    "source_overlap_matrix",
    "neardup_pair_features",
    "source_mix_weights",
    "token_entropy_scores",
    "neardup_reach_rcte",
    "json_props_variant",
    "sql_udf_lang_stats",
    "lang_source_listagg",
    "event_type_stats_pipe",
    "user_recency_scores",
    "orders_column_profile",
    "prefix_filter_jaccard_pairs",
    "prefix_filter_jaccard_pairs_banded",
    "pii_canary_scrub",
    "clipped_value_stats",
    "value_histogram",
    "mixture_allocation",
    "truncation_report",
    "neardup_kcore",
    "neardup_random_walks",
    # round 4
    "sketch_error_bounds",
    "bpe_train_merges_batched",
    "winnow_neardup_pairs",
    "embedding_pca_power",
    "edit_distance_pairs",
    "bpe_encode_corpus",
    "embedding_pca_top2",
    "edit_distance_pairs_snm",
    "quality_logreg_step",
    "bigram_logprob_scores",
    # round 6
    "zorder_layout_skipping",
]

HEADER = """# PLANS — physical plans of representative queries (sf0.1, local[32])

Generated by `python tools/gen_plans.py`; regenerate after plan-affecting
changes. Evidence for README §Performance posture: pushed filters, pruned
read schemas, broadcast joins only where size-safe, bounded exchanges.
(Exchange counts include BroadcastExchange; AQE may further coalesce or
convert joins at runtime.)
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import __spark_entry__ as entrymod
    from geektime_bigdata_spark import get_spark
    from geektime_bigdata_spark.plans import explain_str

    spark = get_spark(app_name="gbs-plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    # the size-gated graph ops take a driver fast path at bench scale;
    # PLANS.md documents the SCALE plan, so close the gate in-process
    from geektime_bigdata_spark.operators import dedup

    dedup.SMALL_GRAPH_EDGES = 0
    out = [HEADER]
    for name in QUERIES:
        df = queries[name](spark, sf_dir)
        text = explain_str(df, "formatted")
        tree = text.split("\n\n")[0]
        n_ex = len(re.findall(r"\bExchange\b", tree))
        n_bhj = len(re.findall(r"\bBroadcastHashJoin\b", tree))
        n_smj = len(re.findall(r"\bSortMergeJoin\b", tree))
        evidence = [
            line.strip()
            for line in text.splitlines()
            if "PushedFilters" in line or "ReadSchema" in line
        ]
        block = [
            f"## {name}",
            f"`Exchange` nodes: {n_ex} · `BroadcastHashJoin`: {n_bhj}"
            f" · `SortMergeJoin`: {n_smj}",
            "```",
            tree.strip(),
        ]
        if evidence:
            block.append("-- scan evidence --")
            block.extend(dict.fromkeys(evidence))  # dedupe, keep order
        block.append("```")
        out.append("\n".join(block))
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLANS.md",
    )
    with open(path, "w") as fh:
        fh.write("\n\n".join(out) + "\n")
    print(f"wrote {path}: {len(QUERIES)} plans")


if __name__ == "__main__":
    main()
