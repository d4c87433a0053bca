"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py

Every headline query first runs once at sf0.001 (JVM startup and codegen
stay out of the measured numbers), then three times at the measured sf
in three interleaved passes, each pass in its own shuffled order. Each
query is forced to full execution through ``df.write.format("noop")``,
which keeps the whole plan. Per query the record keeps the median wall
time and the median process-tree CPU (``profile._tree_cpu_seconds``).

Two lines go to stdout: the full record, then a final line of at most
``TAIL_LINE_BUDGET`` chars carrying the headline total and the most
expensive queries' medians. The full record is also appended to
``bench_history.jsonl``.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from geektime_bigdata_spark import get_spark  # noqa: E402
from geektime_bigdata_spark.profile import _tree_cpu_seconds  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

# Headline set: scan/agg throughput (q1), join pipelines (q3/q5/q9/q21),
# windows (sessionize), text (inverted index), plus the heavy-tail dedup/
# ANN operators so regressions in the expensive plans stay visible.
# Keys must exist in __spark_entry__.queries().
#
# The set is versioned: the record carries `set`/`n`, so history totals
# are only comparable within a version. v1 = the r5-r13 73-query set
# below; each later version appends its HEADLINE_ADDED_V* list.
HEADLINE_V1 = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q14_promo_effect",
    "q21_suppliers_waiting",
    "flow_stats",
    "sessionize",
    "window_topn_orders",
    "inverted_index_str",
    "word_counts",
    "minhash_lsh_pairs",
    "simhash_neardup_pairs",
    "ngram_jaccard_pairs",
    "dedup_clusters",
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "doc_quality_scores",
    # round-2 additions: keep the new pipeline ops regression-visible
    "kmeans_step",
    "semantic_dedup",
    "doc_repetition_scores",
    "bow_dedup",
    "bm25_top_terms",
    "minhash_jaccard_estimate",
    "neardup_pagerank",
    # round-3 additions
    "ann_topk_ivf_multiprobe",
    "semantic_dedup_multiprobe",
    "cluster_balanced_sample",
    "ngram_containment_pairs",
    "unigram_logprob_scores",
    "hourly_anomaly_scores",
    # round-3 continuation: boilerplate/corpus-mix/sequence ops
    "boilerplate_coverage",
    "source_vocab_overlap",
    "user_path_trigrams",
    "bpe_pair_counts",
    "curation_funnel",
    "sliding_wau",
    "neardup_triangles",
    "embedding_gram_matrix",
    # round-3 third session: CDC/versioning, source-mix governance,
    # cross-signal calibration, and the Python-datasource IO path
    "cdc_apply",
    "corpus_snapshot_diff",
    "per_source_caps",
    "quality_dup_calibration",
    "source_overlap_matrix",
    "pyds_tsv_roundtrip",
    "neardup_pair_features",
    "token_entropy_scores",
    "neardup_kcore",
    "neardup_reach_rcte",
    "bpe_train_merges",
    "prefix_filter_jaccard_pairs",
    # round-4 additions
    "sketch_error_bounds",
    "bpe_train_merges_batched",
    "winnow_neardup_pairs",
    "embedding_pca_power",
    "edit_distance_pairs",
    "bpe_encode_corpus",
    "embedding_pca_top2",
    "quality_logreg_step",
    "bigram_logprob_scores",
    "edit_distance_pairs_snm",
    "ngram_novelty_scores",
    "neardup_detector_matrix",
    # round-5 additions
    "prefix_filter_jaccard_pairs_banded",
    "pii_canary_scrub",
    "jsonl_roundtrip_stats",
    "compact_small_files",
    # round-6 additions: real WAV/PNG/AVI container codec roundtrips;
    # z-order vs lexicographic layout scored by zone-map skipping
    "wav_roundtrip_features",
    "png_roundtrip_features",
    "avi_roundtrip_features",
    "zorder_layout_skipping",
]

# round-14 additions (the v1->v2 audit, VERDICT r13 item 2): the ORC
# roundtrip deferred from r13 to protect that round's n=73
# comparability; the new CSV roundtrip (same IO class, this round's
# surface); ONE streaming runner — the family had zero headline
# presence, so a regression in the availableNow/watermark path was
# bench-invisible; and the as-of join, the one join class without a
# representative. All four measured warm at sf0.1 before admission
# (1.2 / 1.1 / 1.6 / 0.5 s — ~4.4s added per pass).
HEADLINE_ADDED_V2 = [
    "orc_roundtrip_stats",
    "csv_roundtrip_stats",
    "streaming_hourly_rollup",
    "asof_last_click",
]

# round-15 additions (the v2->v3 audit, VERDICT r14 item 5): the three
# r14 surfaces that were registered but unbenched, plus this round's
# new df-capped similarity join (same-round admission, the r14 CSV
# precedent). All four measured warm at sf0.1 before admission
# (4.3 / 1.7 / 6.5 / 6.6 s medians on an ambient-noisy window —
# ~19s added per pass).
HEADLINE_ADDED_V3 = [
    "xml_roundtrip_stats",
    "binary_ingest_digests",
    "pyds_stream_roundtrip",
    "ngram_jaccard_pairs_dfcapped",
]

# round-16 additions (the v3->v4 audit, VERDICT r15 item 3): the four
# r15 operators registered after v3 had shipped its closing + splice
# records. All four measured warm at sf0.1 before admission
# (1.8 / 2.5 / 1.2 / 0.9 s medians — ~6.3s added per pass over v3).
HEADLINE_ADDED_V4 = [
    "duplicate_span_stats",
    "bm25_topk_docs",
    "cluster_silhouette",
    "source_fair_quality_rank",
]

# round-17 additions (the v4->v5 audit, VERDICT r16 item 4): the three
# r16 operators registered after v4 had shipped its seed + splice
# records. All three staged with warm sf0.1 medians from SCALING
# before admission (caps ~1.0 / retrieval ~2.5 / zipf ~1.0 s —
# ~4.5s added per pass over v4). The two r17 surfaces
# (contamination_suite_report ~3.6s, source_zipf_slope_grouped ~0.9s)
# are v6-staged.
HEADLINE_ADDED_V5 = [
    "source_fair_quality_caps",
    "contamination_retrieval",
    "source_zipf_slope",
]

HEADLINE_SET_VERSION = 5
HEADLINE = (
    HEADLINE_V1
    + HEADLINE_ADDED_V2
    + HEADLINE_ADDED_V3
    + HEADLINE_ADDED_V4
    + HEADLINE_ADDED_V5
)


# the BENCH_r*.json snapshots keep the last 2000 chars of stdout and
# parse the last line found there; a final line longer than that parses
# as nothing (observed: BENCH_r05/r08 `parsed: {}`). Ten chars are left
# for the trailing newline and slack in how the capture counts.
TAIL_LINE_BUDGET = 1990


def _run(df) -> None:
    # noop sink executes the complete plan without result materialization
    df.write.format("noop").mode("overwrite").save()


def _pass_drift(pass_totals: list[float]) -> tuple[float, float]:
    """(pass_spread, warm_fill) from the in-time-order pass totals.

    pass_spread compares only the WARM passes (all but the first):
    pass 1 additionally pays the structural memo/page-cache fill at
    the measured sf, and a per-query median of (inflated s1, s2, s3)
    resolves to max(s2, s3): pass-1 inflation can only nudge the
    median UP to the worse warm sample, never past either warm value
    — so the medians rest entirely on the warm passes and THEIR
    agreement is the drift signal (above 1.15 the window moved; see
    BASELINE.md). warm_fill records pass 1's structural overhang
    separately (measured 1.18-1.24x on steady same-code runs).
    """
    warm = pass_totals[1:]
    spread = round(max(warm) / min(warm), 3)
    fill = round(pass_totals[0] / min(warm), 3)
    return spread, fill


def _measure(spark, queries, names: list[str], sf_dir: str) -> dict:
    """Three interleaved shuffled passes over ``names``: per query the
    median wall and process-tree CPU, plus each pass's wall total.

    Each query is sampled early, mid and late in the window, so
    time-correlated host drift moves all medians alike instead of
    reading as a regression of whichever queries run last. Pass 1
    fills the session memos; passes 2-3 run warm."""
    samples: dict[str, list[float]] = {n: [] for n in names}
    cpu_samples: dict[str, list[float]] = {n: [] for n in names}
    cpu_ok = _tree_cpu_seconds() is not None
    for pass_idx in range(3):
        order = list(names)
        random.Random(pass_idx).shuffle(order)
        # query N's post-snapshot is query N+1's pre-snapshot
        c0 = _tree_cpu_seconds() if cpu_ok else None
        for name in order:
            t0 = time.perf_counter()
            _run(queries[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
            if c0 is not None:
                c1 = _tree_cpu_seconds()
                if c1 is None:
                    cpu_ok = False
                    c0 = None
                else:
                    # clamp at 0: a descendant orphaned to init between
                    # snapshots takes its time out of the tree, which
                    # can make the total DROP across a query
                    cpu_samples[name].append(max(c1 - c0, 0.0))
                    c0 = c1
    timings = {n: round(sorted(rs)[1], 3) for n, rs in samples.items()}
    pass_totals = [
        round(sum(samples[n][i] for n in names), 3) for i in range(3)
    ]
    pass_spread, warm_fill = _pass_drift(pass_totals)
    record = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # the key bench_history.jsonl records have kept the pass fields
        # under since those were added
        "calibration": {
            "pass_totals": pass_totals,
            "pass_spread": pass_spread,
            "warm_fill": warm_fill,
        },
    }
    # omitted, never zero-filled, when /proc was unreadable
    if cpu_ok and all(len(cpu_samples[n]) == 3 for n in names):
        cpu = {n: round(sorted(cs)[1], 3) for n, cs in cpu_samples.items()}
        record["cpu"] = cpu
        record["cpu_total"] = round(sum(cpu.values()), 3)
    return record


def _final_line(record: dict) -> str:
    """The last stdout line: headline numbers plus the medians of the
    most expensive queries, added greedily until the line would exceed
    TAIL_LINE_BUDGET. ``q_omitted`` counts the cheap tail left out; the
    full map is in the record line and bench_history.jsonl."""
    timings = record["queries"]
    compact = {
        "metric": record["metric"],
        "value": record["value"],
        "sf": record["sf"],
        "set": record["set"],
        "n": record["n"],
        "spread": record["calibration"]["pass_spread"],
    }
    if "cpu_total" in record:
        compact["cpu"] = round(record["cpu_total"], 1)
    qmap: dict[str, float] = {}
    for name in sorted(timings, key=lambda n: (-timings[n], n)):
        qmap[name] = round(timings[name], 2)
        trial = {**compact, "queries": qmap,
                 "q_omitted": len(timings) - len(qmap)}
        if len(json.dumps(trial, separators=(",", ":"))) > TAIL_LINE_BUDGET:
            del qmap[name]
            break
    compact["queries"] = qmap
    compact["q_omitted"] = len(timings) - len(qmap)
    return json.dumps(compact, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    spark = get_spark(app_name="gbs-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    names = [n for n in HEADLINE if n in queries]

    # warmup at the smallest scale factor: JVM startup and each query's
    # whole-stage codegen stay out of the measured sf run
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in names:
        _run(queries[name](spark, warm_dir))

    record = {
        **_measure(spark, queries, names, sf_dir),
        "sf": sf_val,
        "set": HEADLINE_SET_VERSION,
        "n": len(names),
    }
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_history.jsonl"),
            "a",
        ) as fh:
            fh.write(json.dumps({"ts": time.time(), **record}) + "\n")
    except OSError:
        pass  # history is best-effort; the contract is the stdout line
    print(json.dumps(record))
    print(_final_line(record))
    # drop the shared operator caches so a host embedding this bench in a
    # longer session does not keep the sf-scale relations pinned
    from geektime_bigdata_spark.session import release_caches

    release_caches(spark)


if __name__ == "__main__":
    main()
