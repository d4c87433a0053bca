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


# a measured point whose own window saw more hypervisor steal than this
# rate (jiffies per wall-second) is re-measured once (see measure() in
# main). Separation measured across ten steal-bearing windows on this
# boot family: steal-quiet windows read <= 2.7 j/s, contaminated ones
# >= 8.6 j/s; 5 j/s sits ~1.9x from each cluster.
STEAL_AMBIENT_J_PER_SEC = 5.0


def _host_snapshot() -> dict:
    """Host contention context: loadavg and cumulative steal/iowait
    jiffies from /proc; a field that cannot be read is left out."""
    snap = {}
    try:
        with open("/proc/loadavg") as fh:
            parts = fh.read().split()
        snap["load1"], snap["load5"] = float(parts[0]), float(parts[1])
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()
        # cpu user nice system idle iowait irq softirq steal ...
        snap["iowait_j"] = int(cpu[5])
        if len(cpu) > 8:
            snap["steal_j"] = int(cpu[8])
    except (OSError, ValueError, IndexError):
        pass
    return snap


def _steal_ctx(pre: dict, post: dict, wall: float) -> dict:
    """Steal context of one measured window: jiffy delta, wall length,
    and rate (j/s), the quantity STEAL_AMBIENT_J_PER_SEC bounds. Rate
    None when the host lacks a steal counter or the window is
    degenerate."""
    ctx: dict = {"wall": round(wall, 1)}
    if "steal_j" in pre and "steal_j" in post:
        ctx["d_steal_j"] = post["steal_j"] - pre["steal_j"]
        if wall > 0:
            ctx["rate"] = round(ctx["d_steal_j"] / wall, 2)
    return ctx


def _prune_runs(runs: dict, cap: int = 20) -> dict:
    """Keep only the newest ``cap`` run stamps (ISO-8601 keys sort
    chronologically). The 'runs' section otherwise grows without bound
    across merge invocations (ADVICE r12); 20 covers every stamp a
    round of probing produces while keeping SCALING.json reviewable."""
    if len(runs) <= cap:
        return runs
    return {k: runs[k] for k in sorted(runs)[-cap:]}


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
    # existing out_json (new ops don't force re-measuring all of OPS).
    # SCALE_STRESS_PROBE8X=op1,op2 instead runs the named ops at 4x and
    # 8x only (one extra doubling past the standard grid) and merges
    # the result under a separate top-level "probe8x" section, leaving
    # the declared base/factors grid untouched — the deep-probe results
    # live next to, never inside, the 1x/2x/4x exponents.
    only = os.environ.get("SCALE_STRESS_ONLY")
    # SCALE_STRESS_PROBE16X=op1,op2 extends the deep probe one more
    # doubling (8x and 16x) under its own "probe16x" section — same
    # contract as probe8x, two doublings past the standard grid.
    probe_key = None
    probe_spec = None
    probe_set = [
        key
        for key in ("probe32x", "probe16x", "probe8x")
        if os.environ.get(f"SCALE_STRESS_{key.upper()}")
    ]
    if len(probe_set) > 1:
        # A single run measures exactly one probe depth; silently
        # picking the deepest would drop the others (ADVICE r9).
        raise SystemExit(
            "refusing ambiguous probe request: "
            + ", ".join(f"SCALE_STRESS_{k.upper()}" for k in probe_set)
            + " are all set — unset all but one (each run measures one "
            "probe depth)"
        )
    for key, pair in (
        ("probe32x", [16, 32]),
        ("probe16x", [8, 16]),
        ("probe8x", [4, 8]),
    ):
        val = os.environ.get(f"SCALE_STRESS_{key.upper()}")
        if val:
            probe_key, probe_spec, probe_ops_csv = key, pair, val
            break
    # SCALE_STRESS_SCALE_PARTITIONS=1 (probe modes only): measure each
    # (op, factor) point twice — once at the session's fixed
    # spark.sql.shuffle.partitions (the comparability default every
    # exponent in this file uses) and once with the initial partition
    # count scaled linearly with the factor (default x k), which is how
    # a real cluster tracks input growth (AQE coalesce then picks the
    # effective sizes). Results merge under "{probe_key}_scaled" so deep
    # probes separate operator asymptotics from frozen-partition harness
    # pressure without the manual rerun round 9 needed.
    _sp_raw = os.environ.get("SCALE_STRESS_SCALE_PARTITIONS", "").strip()
    if _sp_raw.lower() in ("1", "true", "yes"):
        scale_partitions = True
    elif _sp_raw.lower() in ("", "0", "false", "no"):
        scale_partitions = False
    else:
        # a typo must not silently disable the mode (ADVICE r10) —
        # mirror the hard-fail the ambiguous-probe guard applies
        raise SystemExit(
            "unrecognized SCALE_STRESS_SCALE_PARTITIONS="
            f"{_sp_raw!r}: use 1/true/yes to enable, 0/false/no or "
            "unset to disable"
        )
    if scale_partitions and not probe_key:
        raise SystemExit(
            "SCALE_STRESS_SCALE_PARTITIONS only applies to probe modes "
            "(the standard 1x/2x/4x grid keeps the fixed default for "
            "exponent comparability) — set a SCALE_STRESS_PROBE* var too"
        )
    if probe_key:
        only = None
        factors = probe_spec
        ops = [o.strip() for o in probe_ops_csv.split(",") if o.strip()]
    else:
        factors = FACTORS
        ops = (
            [o.strip() for o in only.split(",") if o.strip()]
            if only
            else OPS
        )

    # Fail a grid-mismatched merge BEFORE any measurement: prior sec_at
    # keys / exponents would silently disagree with the file's declared
    # base+factors (ADVICE r6).
    path = sys.argv[1] if len(sys.argv) > 1 else None
    if probe_key and not (path and os.path.exists(path)):
        # A probe section is meaningless without the full-grid
        # measurements it sits next to; writing a fresh file here would
        # produce declared base/factors with no backing ops (ADVICE r9).
        raise SystemExit(
            f"refusing SCALE_STRESS_{probe_key.upper()} without an "
            f"existing out_json ({path or 'no path given'}): run the "
            "full 1x/2x/4x measurement first, then merge probes into it"
        )
    if path and probe_key and os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh)
        if prior.get("base") != BASE or prior.get("factors") != FACTORS:
            raise SystemExit(
                f"refusing SCALE_STRESS_{probe_key.upper()} merge: prior "
                f"base/factors ({prior.get('base')}, "
                f"{prior.get('factors')}) != current ({BASE}, {FACTORS}); "
                f"the {probe_key} section would sit next to exponents "
                "from a different grid — re-run a full measurement instead"
            )
    if path and only and os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh)
        if prior.get("base") != BASE or prior.get("factors") != FACTORS:
            raise SystemExit(
                "refusing SCALE_STRESS_ONLY merge: prior base/factors "
                f"({prior.get('base')}, {prior.get('factors')}) != current "
                f"({BASE}, {FACTORS}); re-run a full measurement instead"
            )

    spark = get_spark(app_name="gbs-scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    dirs = {k: build_scaled(spark, k) for k in factors}

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warmup at the smallest scale
    for name in ops:
        run(queries[name](spark, dirs[factors[0]]))
        release_caches(spark)

    # host contention context per run stamp: probe absolutes swing
    # ~30% across boots AND within a loaded boot — without the
    # snapshot, a steal-quiet and a contended probe run are
    # indistinguishable in SCALING.json after the fact (observed r12: two same-code 32x probes read doubling
    # exponents 1.263 and 0.582 while the 1-min loadavg sat at 25-28
    # from co-tenant steal). Taken AFTER warmup so the delta spans only
    # the timed loop, not JVM boot / dataset materialization / warmup
    # (ADVICE r12). The per-POINT steal windows below are what the
    # retry policy reads; this whole-run pair is coarse context.
    host_pre = _host_snapshot()

    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _timed_point(name: str, k: int) -> tuple[float, dict]:
        pre = _host_snapshot()
        t0 = time.perf_counter()
        runs = []
        for _ in range(3):
            t1 = time.perf_counter()
            run(queries[name](spark, dirs[k]))
            runs.append(time.perf_counter() - t1)
            release_caches(spark)  # no cross-run cache reuse
        ctx = _steal_ctx(pre, _host_snapshot(), time.perf_counter() - t0)
        return round(sorted(runs)[1], 3), ctx

    def measure(name: str, k: int, grid: str = "") -> float:
        """Median-of-3 with the promoted steal policy (VERDICT r12
        item 2b): a point whose own window shows steal above
        STEAL_AMBIENT_J_PER_SEC is re-measured ONCE; the retry is
        canonical and BOTH windows land in steal_retries so a still-contended retry
        stays visible rather than silently trusted. ``grid`` suffixes
        the retry key ("@scaled") so fixed/scaled passes at the same
        factor never collide."""
        sec, ctx = _timed_point(name, k)
        rate = ctx.get("rate")
        if rate is not None and rate > STEAL_AMBIENT_J_PER_SEC:
            sec2, ctx2 = _timed_point(name, k)
            steal_retries.setdefault(name, {})[str(k) + grid] = {
                "first": {"sec": sec, **ctx},
                "retry": {"sec": sec2, **ctx2},
            }
            return sec2
        return sec

    steal_retries: dict[str, dict[str, dict]] = {}
    times: dict[str, dict[int, float]] = {n: {} for n in ops}
    times_scaled: dict[str, dict[int, float]] = {n: {} for n in ops}
    parts_at: dict[int, int] = {}
    for k in factors:
        for name in ops:
            times[name][k] = measure(name, k)
        if scale_partitions:
            # initial partitions track input growth; AQE coalesce picks
            # the effective post-shuffle sizes, as on a real cluster
            parts_at[k] = default_parts * k
            spark.conf.set("spark.sql.shuffle.partitions", str(parts_at[k]))
            try:
                for name in ops:
                    # one untimed run at the new partition count so plan
                    # re-compilation (and the time-correlated drift of
                    # always measuring scaled AFTER fixed) doesn't land
                    # asymmetrically on the scaled series (ADVICE r10)
                    run(queries[name](spark, dirs[k]))
                    release_caches(spark)
                for name in ops:
                    times_scaled[name][k] = measure(name, k, "@scaled")
            finally:
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(default_parts)
                )

    import math

    def exponent(series: dict[int, float]) -> float:
        t1, t4 = series[factors[0]], series[factors[-1]]
        return round(
            math.log(t4 / t1) / math.log(factors[-1] / factors[0]), 3
        )

    # every probe row carries the boot that measured it: absolute
    # times swing up to ~30% across VM boots (same code), so two probe
    # sections are only comparable when their stamps match (ADVICE r10)
    run_stamp = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    host_post = _host_snapshot()
    host_ctx = {"pre": host_pre, "post": host_post}
    if "steal_j" in host_pre and "steal_j" in host_post:
        host_ctx["d_steal_j"] = host_post["steal_j"] - host_pre["steal_j"]
    if "iowait_j" in host_pre and "iowait_j" in host_post:
        host_ctx["d_iowait_j"] = (
            host_post["iowait_j"] - host_pre["iowait_j"]
        )
    plain_report = None
    if scale_partitions:
        report = {
            name: {
                "sec_at_fixed": {str(k): times[name][k] for k in factors},
                "sec_at_scaled": {
                    str(k): times_scaled[name][k] for k in factors
                },
                "partitions": {str(k): parts_at[k] for k in factors},
                "partitions_fixed": default_parts,
                "exponent_fixed": exponent(times[name]),
                "exponent_scaled": exponent(times_scaled[name]),
                "run": run_stamp,
                **(
                    {"steal_retries": steal_retries[name]}
                    if name in steal_retries
                    else {}
                ),
            }
            for name in ops
        }
        # the fixed passes ARE a plain-probe measurement of the same
        # ops on this boot; refresh the sibling plain section from them
        # so the SAME OP never holds disagreeing fixed/plain rows from
        # different boots (ADVICE r10). Only the ops measured THIS run
        # are refreshed — a plain section can still mix rows from
        # different boots ACROSS ops (each row's `run` stamp carries
        # its provenance; compare exponents, not absolute seconds,
        # across differently-stamped rows).
        plain_report = {
            name: {
                "sec_at": {str(k): times[name][k] for k in factors},
                "exponent": exponent(times[name]),
                "run": run_stamp,
                **(
                    {"steal_retries": steal_retries[name]}
                    if name in steal_retries
                    else {}
                ),
            }
            for name in ops
        }
    else:
        report = {
            name: {
                "sec_at": {str(k): times[name][k] for k in factors},
                "exponent": exponent(times[name]),
                "run": run_stamp,
                **(
                    {"steal_retries": steal_retries[name]}
                    if name in steal_retries
                    else {}
                ),
            }
            for name in ops
        }
    if probe_key:
        if path and os.path.exists(path):
            with open(path) as fh:
                out = json.load(fh)
        else:
            out = {"base": BASE, "factors": FACTORS, "ops": {}}
        if scale_partitions:
            out.setdefault(f"{probe_key}_scaled", {}).update(report)
            out.setdefault(probe_key, {}).update(plain_report)
        else:
            out.setdefault(probe_key, {}).update(report)
        out.setdefault("runs", {})[run_stamp] = host_ctx
        out["runs"] = _prune_runs(out["runs"])
        line = json.dumps(out)
        if path:
            with open(path, "w") as fh:
                fh.write(line + "\n")
        print(line)
        return
    out = {"base": BASE, "factors": FACTORS, "ops": report}
    if path and only and os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh)  # grid match asserted before measuring
        prior["ops"].update(report)
        out = prior
    out.setdefault("runs", {})[run_stamp] = host_ctx
    out["runs"] = _prune_runs(out["runs"])
    line = json.dumps(out)
    if path:
        with open(path, "w") as fh:
            fh.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
