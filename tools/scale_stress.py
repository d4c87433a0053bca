"""Scaling-curve measurement: run representative operators at 1x, 2x,
and 4x of sf0.1 and report the empirical scaling exponent per query.

    python tools/scale_stress.py [out_json]

Evidence for the 100 TB design claim: an operator whose runtime grows
~linearly in input size (exponent near 1.0 over doublings) has no hidden
quadratic pair expansion, driver materialization, or skew collapse; at
test scale, fixed per-query overhead (JVM scheduling, plan setup) biases
the exponent BELOW 1, so anything <= ~1.2 is comfortably linear and a
clearly super-linear exponent (>= ~1.5) flags a scale bug.

Scaled inputs are materialized under /tmp/gbs_scale/x{K} by unioning the
base tables K times with all entity keys shifted by a disjoint offset per
replica (doc_id/user_id/event_id/vec_id, order/customer/part/supplier
keys) — so key cardinality, group sizes per key, and join fan-outs all
scale with the data (pure row duplication WITHOUT key shifts would
instead deepen per-key skew and measure a different thing). Document
TOKENS are also suffixed per replica: otherwise every replica is an
exact copy of every text and the near-dup PAIR structure itself grows
quadratically in K — the pair-emitting dedup ops would then measure the
corpus's duplication, not the operator (with disjoint vocabularies per
replica, true pair counts scale linearly, as in a real bigger crawl).
Timestamps are left unshifted: hours gain rows, which matches how a
bigger ingest day actually looks. Dimension tables (region/nation) stay
fixed like real dimensions.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
OUT_ROOT = "/tmp/gbs_scale"
FACTORS = [1, 2, 4]

# per-table key columns to shift per replica (offset = replica * stride)
KEY_SHIFTS = {
    "events": {"event_id": 10_000_000, "user_id": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "lineitem": {"l_orderkey": 100_000_000},
    "customer": {"c_custkey": 10_000_000},
}
FIXED_TABLES = ["region", "nation", "supplier", "part"]

# linear-by-design operators worth the measurement (one per family)
OPS = [
    "sessionize",
    "word_counts",
    "exact_dedup",
    "minhash_lsh_pairs",
    "doc_quality_scores",
    "ann_topk_bruteforce",
    "q1_pricing_summary",
    "sliding_wau",
    "boilerplate_coverage",
    "embedding_gram_matrix",
    "curation_funnel",
    "bpe_pair_counts",
    # round-3 third session
    "cdc_apply",
    "corpus_snapshot_diff",
    "per_source_caps",
    "source_mix_weights",
    "token_entropy_scores",
    "neardup_pair_features",
    # round 4
    "sketch_error_bounds",
    "bpe_train_merges_batched",
    "winnow_neardup_pairs",
    "embedding_pca_power",
    "quality_logreg_step",
    "bigram_logprob_scores",
    "bpe_encode_corpus",
    "ngram_novelty_scores",
    "edit_distance_pairs",
    "edit_distance_pairs_snm",
    # round 5
    "prefix_filter_jaccard_pairs_banded",
    "neardup_detector_matrix",
    "compact_small_files",
    # round 6 (VERDICT r5 item 7): every remaining pair-emitting
    # operator, so the "nothing super-linear" claim is exhaustive for
    # the class where quadratic blowup hides — candidate-PAIR emission.
    "prefix_filter_jaccard_pairs",
    "ngram_jaccard_pairs",
    # round 15: the df-capped candidate tier (bounded postings by design)
    "ngram_jaccard_pairs_dfcapped",
    "duplicate_span_stats",
    "bm25_topk_docs",
    "cluster_silhouette",
    "source_fair_quality_rank",
    "ngram_containment_pairs",
    "simhash_neardup_pairs",
    "simhash_doc_pairs",
    "embedding_neardup_pairs",
    "minhash_jaccard_estimate",
    "neardup_triangles",
    "walk_skipgram_pairs",
    "semantic_dedup",
    "benchmark_contamination",
    "source_overlap_matrix",
    # round 6 additions: real WAV/PNG/AVI container codec roundtrips
    # (Arrow-batched Python stages, linear by construction) and the
    # z-order layout scorer (one 64-group aggregate; shuffle key space
    # = file count)
    "wav_roundtrip_features",
    "png_roundtrip_features",
    "avi_roundtrip_features",
    "zorder_layout_skipping",
    # round 13: ORC source/sink roundtrip (write + schema'd re-read of
    # the scaled events table — linear by construction, measured to
    # keep the new-surface evidence rule)
    "orc_roundtrip_stats",
    # round 14: CSV + XML roundtrips (explicit-format lossless text
    # interchange; same shared aggregate and linear-by-construction
    # write + schema'd re-read shape as ORC)
    "csv_roundtrip_stats",
    "xml_roundtrip_stats",
]


def build_scaled(spark, k: int) -> str:
    out = os.path.join(OUT_ROOT, f"x{k}")
    if os.path.isdir(out) and os.path.exists(os.path.join(out, "_OK")):
        return out
    from pyspark.sql import functions as F

    os.makedirs(out, exist_ok=True)
    for t in FIXED_TABLES:
        spark.read.parquet(f"{BASE}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")
    for t, shifts in KEY_SHIFTS.items():
        base = spark.read.parquet(f"{BASE}/{t}.parquet")
        parts = []
        for r in range(k):
            df = base
            for col, stride in shifts.items():
                df = df.withColumn(
                    col, (F.col(col) + F.lit(r * stride)).cast("long")
                )
            if t == "documents" and r > 0:
                # disjoint vocabulary per replica (see module docstring)
                df = df.withColumn(
                    "text",
                    F.regexp_replace(F.col("text"), r"(\S+)", f"$1x{r}"),
                )
            parts.append(df)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    open(os.path.join(out, "_OK"), "w").close()
    return out


def main() -> None:
    from geektime_bigdata_spark import get_spark
    from geektime_bigdata_spark.session import release_caches
    import __spark_entry__ as entrymod

    # SCALE_STRESS_ONLY=op1,op2 measures a subset and MERGES it into an
    # existing out_json (new ops don't force re-measuring all of OPS);
    # every other row and top-level key of that file is kept as it is.
    only = os.environ.get("SCALE_STRESS_ONLY")
    ops = [o.strip() for o in only.split(",") if o.strip()] if only else OPS
    path = sys.argv[1] if len(sys.argv) > 1 else None
    out = {"base": BASE, "factors": FACTORS, "ops": {}}
    if path and only and os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh)
        # Fail a grid-mismatched merge BEFORE any measurement: prior
        # sec_at keys / exponents would silently disagree with the
        # file's declared base+factors.
        if prior.get("base") != BASE or prior.get("factors") != FACTORS:
            raise SystemExit(
                "refusing SCALE_STRESS_ONLY merge: prior base/factors "
                f"({prior.get('base')}, {prior.get('factors')}) != current "
                f"({BASE}, {FACTORS}); re-run a full measurement instead"
            )
        out = prior

    spark = get_spark(app_name="gbs-scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    dirs = {k: build_scaled(spark, k) for k in FACTORS}

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warmup at the smallest scale
    for name in ops:
        run(queries[name](spark, dirs[FACTORS[0]]))
        release_caches(spark)

    def measure(name: str, k: int) -> float:
        """Median of 3 runs of ``name`` at factor ``k``."""
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            run(queries[name](spark, dirs[k]))
            runs.append(time.perf_counter() - t0)
            release_caches(spark)  # no cross-run cache reuse
        return round(sorted(runs)[1], 3)

    times: dict[str, dict[int, float]] = {n: {} for n in ops}
    for k in FACTORS:
        for name in ops:
            times[name][k] = measure(name, k)

    def exponent(series: dict[int, float]) -> float:
        t1, t4 = series[FACTORS[0]], series[FACTORS[-1]]
        return round(
            math.log(t4 / t1) / math.log(FACTORS[-1] / FACTORS[0]), 3
        )

    # every row carries the run that measured it: absolute times swing
    # up to ~30% across VM boots (same code), so compare exponents, not
    # seconds, across differently-stamped rows
    run_stamp = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    report = {
        name: {
            "sec_at": {str(k): times[name][k] for k in FACTORS},
            "exponent": exponent(times[name]),
            "run": run_stamp,
        }
        for name in ops
    }
    out["ops"].update(report)
    line = json.dumps(out)
    if path:
        with open(path, "w") as fh:
            fh.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
