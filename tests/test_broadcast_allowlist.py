"""Broadcast-hint allowlist (DESIGN.md §3, r16 hint discipline).

VERDICT r15's one code-level defect class was forced ``F.broadcast()``
hints on corpus-cardinality relations — harmless at sf0.1, an
executor-OOM / driver funnel at 10^9+ docs where the hint forcibly
overrides Spark's size logic. Round 16 removed thirteen such hints
(the six verdict sites plus seven found by the repo audit) and keeps
hints ONLY on relations bounded by CONSTRUCTION.

This test pins every ``F.broadcast(`` call site in the package (by
enclosing function, AST-scanned — no Spark session needed) to the
reviewed allowlist below. Adding a hint anywhere fails the test until
the allowlist is consciously extended WITH its boundedness argument;
removing one shrinks the allowlist. The boundedness classes:

- one-row scalar aggregates (thresholds, totals, avgdl, max-revenue)
- fixed dimensions: nation (25) / region (5)
- ``limit(k)`` / top-K outputs (BPE candidate windows, vocab top-K)
- group-bys over enumerable keys: source, event_type, cohort week,
  decade, vector dimension j (64), IVF cell / centroid frames
- fixed eval/query sets (benchmark shingles, BM25 query literal,
  contamination_retrieval's eval-side relations)
- size-gated driver fast-path label maps (dedup_clusters' union-find
  labels — bounded by the edge-count gate)
- the df-capped tier's heavy-hitter shingle set (df > cap keeps only
  the Zipf head; the cap is chosen so that set is the tiny hot tail)
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "geektime_bigdata_spark")

# function -> number of justified F.broadcast( sites it contains
ALLOWLIST = {
    "operators/dedup.py::benchmark_contamination": 1,  # eval shingle set
    "operators/dedup.py::boilerplate_ngrams": 1,  # threshold scalar
    # eval-bounded x3 (suite-tagged eval shingles / capped idf / eval
    # docs) — the one scorer of the contamination family
    "operators/dedup.py::_contam_scored": 3,
    "operators/dedup.py::contamination_suite_report": 1,  # |suites| rows
    "operators/dedup.py::dedup_clusters": 1,  # size-gated fast-path labels
    "operators/dedup.py::ngram_jaccard_pairs_dfcapped": 1,  # hot shingles
    "operators/etl.py::clipped_value_stats": 1,  # per-event_type bounds
    "operators/joins.py::broadcast_dim_join": 1,  # nation dim
    "operators/joins.py::q10_returned_items": 1,  # nation dim
    "operators/joins.py::q5_local_supplier_volume": 2,  # nation + region
    "operators/scale.py::key_skew_report": 1,  # one-row bounds
    "operators/scale.py::zorder_layout_skipping": 1,  # per-decade maxima
    # r18: the _ivf_assigned / cluster_silhouette / multiprobe
    # broadcast-centroid-row sites are GONE — the centroid matrix now
    # ships inside the Arrow probe pass's closure (driver-collected
    # off the cached _cells_one, bounded by the cell count), so those
    # functions no longer crossJoin a broadcast row at all
    "operators/similarity.py::_pca_power_iter": 1,  # d-row (64) vector
    "operators/similarity.py::ann_topk_bruteforce": 1,  # query rows
    "operators/similarity.py::ann_topk_ivf": 1,  # query rows
    "operators/similarity.py::ann_topk_ivf_multiprobe": 1,  # query rows
    "operators/similarity.py::embedding_pca_power": 1,  # d-row vector
    "operators/similarity.py::embedding_pca_top2": 5,  # d-row frames
    "operators/similarity.py::kmeans_train": 1,  # centroid frame
    "operators/sketches.py::sketch_error_bounds": 1,  # total scalar
    "operators/text.py::_bm25_scored": 2,  # one-row avgdl scalar + the
    # optional fixed probe-word literal (BM25_QUERIES terms — bounded
    # by construction; r17 semi-join pushdown)
    "operators/text.py::bm25_topk_docs": 1,  # fixed query literal
    # r18: the BPE trainers collect their gated limit(1)/limit(k)
    # windows driver-side and inline literal replace chains — the
    # _bpe_apply broadcast crossJoin and both trainer hint sites are
    # gone
    "operators/textstats.py::mixture_allocation": 1,  # total scalar
    "operators/textstats.py::quality_logreg_step": 1,  # weight row
    "operators/textstats.py::source_mix_weights": 1,  # total scalar
    "operators/textstats.py::source_vocab_overlap": 2,  # per-source sizes
    "operators/textstats.py::vocab_coverage": 1,  # top-K vocab list
    "operators/tpch.py::q11_important_stock": 2,  # nation + scalar
    "operators/tpch.py::q15_top_supplier": 1,  # max-revenue scalar
    "operators/tpch.py::q20_heavy_shippers": 1,  # nation dim
    "operators/tpch.py::q21_suppliers_waiting": 1,  # nation dim
    "operators/tpch.py::q22_global_sales_opportunity": 1,  # avg scalar
    "operators/tpch.py::q2_min_cost_supplier": 1,  # nation dim (25 rows)
    "operators/tpch.py::q7_volume_shipping": 2,  # nation pair x2
    "operators/tpch.py::q8_market_share": 3,  # nation x2 + region
    "operators/tpch.py::q9_product_profit": 1,  # nation dim
    "operators/windows.py::cohort_retention": 1,  # per-cohort-week sizes
    "operators/windows.py::event_funnel": 1,  # one-row top scalar
}


def _broadcast_sites() -> dict[str, int]:
    sites: dict[str, int] = {}
    for root, _, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                ):
                    fn = next(
                        (
                            name
                            for s, e, name in funcs
                            if s <= node.lineno <= e
                        ),
                        "<module>",
                    )
                    key = f"{rel}::{fn}"
                    sites[key] = sites.get(key, 0) + 1
    return sites


def test_every_broadcast_hint_is_allowlisted():
    sites = _broadcast_sites()
    new = {k: v for k, v in sites.items() if k not in ALLOWLIST}
    assert not new, (
        "unreviewed F.broadcast() sites — a forced hint is legal only "
        "on a relation bounded by construction (DESIGN.md §3); extend "
        f"the allowlist with the boundedness argument: {new}"
    )
    changed = {
        k: (ALLOWLIST[k], v)
        for k, v in sites.items()
        if k in ALLOWLIST and v != ALLOWLIST[k]
    }
    assert not changed, f"hint count changed (allowlisted, got): {changed}"
    gone = {k: v for k, v in ALLOWLIST.items() if k not in sites}
    assert not gone, f"allowlist entries with no remaining site: {gone}"
