"""Approximate/sketch aggregation — the 100 TB twins of exact operators.

The reference computes every aggregate exactly (its data fits one screen);
at pipeline scale, distinct counts and quantiles over trillions of rows use
mergeable sketches instead. These operators pair exact DataFrame aggregates
(oracle-checkable, used at test scale) with their sketch counterparts
(HyperLogLog++ via ``approx_count_distinct``, the GK/t-digest-style
``percentile_approx``) — both are partial+final mergeable aggregates, so
the shuffle carries ONE sketch per group per partition instead of the raw
key stream. Tests assert the sketch lands within tolerance of the exact
answer (a sketch cannot hash-match a DuckDB oracle, so the correctness
contract here is bounded error, not equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geektime_bigdata_spark.registry import table

HLL_RSD = 0.02  # target relative standard deviation for HLL++
PCT_ACCURACY = 10000  # percentile_approx accuracy knob (1/accuracy error)


def distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type (countDistinct expands to a
    two-phase partial-distinct aggregate — the full key stream shuffles)."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )


def distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct users per event type: each map task emits one
    fixed-size sketch per group; the shuffle is O(groups x sketch), not
    O(distinct keys) — the only viable plan when keys themselves are
    100 TB. rsd=2% keeps the sketch ~KB-sized."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=HLL_RSD)
        .cast("long")
        .alias("n_users")
    )


def order_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-priority order-value percentiles (Spark ``percentile``
    buffers each group's values — fine per-group here, impossible when a
    group holds billions)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    )


def order_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based per-priority percentiles: ``percentile_approx``
    maintains a bounded-size mergeable summary per group (error <=
    1/accuracy of rank), so memory is constant regardless of group
    cardinality."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, PCT_ACCURACY).alias("p50"),
        F.percentile_approx("o_totalprice", 0.99, PCT_ACCURACY).alias("p99"),
    )


MG_COUNTERS = 16  # Misra-Gries counters per partition


def _term_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per token occurrence, with the SAME empty-token filter as
    text.py's ``_tokens`` — both corpus token-count definitions must
    agree or the MG guarantee would be validated against a different N
    than the headline word counts.

    r17 measured revert (guide §1.1 record): a 32-way spread of the
    scan REGRESSED the sketch family 6.9 -> 20.6 CPU-s at sf0.1 —
    once the MG update is batch-vectorized, per-task Python worker
    overhead is the dominant term and the 32-way spread multiplies it
    (the same failure the pyds fan-out sweep measured). On a real
    multi-file corpus the scan parallelizes from its natural splits
    with no extra tasks manufactured."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")


def frequent_terms_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus term frequencies — the ground truth the Misra-Gries
    sketch is tested against (full key-stream shuffle)."""
    return (
        _term_stream(spark, sf_dir)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def frequent_terms_mg(
    spark: SparkSession, sf_dir: str, k: int = MG_COUNTERS
) -> DataFrame:
    """Misra-Gries heavy hitters over document tokens — the third classic
    mergeable sketch next to HLL++ (distinct) and t-digest (quantiles):
    frequent-items with O(k) memory per task regardless of vocabulary
    size. Each partition streams its tokens through k counters (the MG
    decrement step charges one unit to ALL counters when full); summing
    per-term partials across partitions keeps the guarantee additive:

        exact - N/k  <=  estimate  <=  exact

    so every term with true frequency > N/k MUST survive — the contract
    :mod:`tests.test_sketches` enforces against the exact twin. The
    shuffle carries at most k rows per partition (vs the full token
    stream for the exact count) — the only viable plan when the
    vocabulary itself outgrows a shuffle. Python is acceptable here:
    the sketch update is inherently imperative and Arrow-batched
    (``mapInPandas``), the same tier as the multimodal decode path.

    The update is the WEIGHTED (batched) Misra-Gries step (guide §4.2:
    hand whole batches to vectorized code, loop Python only over the
    reduced result): each Arrow batch collapses to exact (term, count)
    partials via ``value_counts`` (C speed), those partials merge into
    the counters, and one prune subtracts the (k+1)-th largest counter
    value s from every counter and drops the non-positive — at most k
    survive (only values > s), and because at least k+1 counters held
    >= s, every prune removes >= (k+1)*s of true mass, so the summed
    subtractions obey sum(s_i) <= N_p/(k+1) < N_p/k. That is the SAME
    per-partition guarantee as the classic one-token-at-a-time
    decrement loop (estimates never overcount; per-term undercount
    <= N_p/k), reached in O(unique-terms-per-batch) Python work
    instead of O(tokens): the r17 before/after on this operator is in
    OPTIMIZATION_r17.md. Individual ``n_est`` values differ from the
    arrival-order walk (any valid MG run's do), which is why no
    declared query exposes them — sketch_error_bounds emits only the
    exact values and the bound-held booleans the guarantee fixes."""
    import pandas as pd

    toks = _term_stream(spark, sf_dir)

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for term, w in pdf["term"].value_counts().items():
                counters[term] = counters.get(term, 0) + int(w)
            if len(counters) > k:
                # subtract the (k+1)-th largest from all, drop <= 0
                s = sorted(counters.values(), reverse=True)[k]
                counters = {
                    t: c - s for t, c in counters.items() if c > s
                }
        if counters:
            yield pd.DataFrame(
                {"term": list(counters), "n_est": list(counters.values())}
            )

    partials = toks.mapInPandas(mg, "term string, n_est long")
    return partials.groupBy("term").agg(F.sum("n_est").alias("n_est"))

BOUND_HLL_REL = 0.10  # 5x the 2% rsd — deterministic per dataset
BOUND_RANK_SLACK = 1  # extra ranks beyond the 1/accuracy guarantee


def sketch_error_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable surface for the sketch family: one long-format
    row per (metric, key) carrying the EXACT value (hashable — both
    engines compute it identically) and a ``within_bound`` boolean
    asserting the sketch's error contract held:

    - ``distinct_users``: HLL++ (rsd 2%) within ``BOUND_HLL_REL`` of
      the exact distinct count per event type.  HLL++ is deterministic
      given the data (no RNG), so the boolean is stable.
    - ``p50_price`` / ``p99_price``: ``percentile_approx`` (accuracy
      10000) must land between the order-statistic values at ranks
      ``target ± (ceil(n/accuracy) + BOUND_RANK_SLACK)`` — the sketch's
      rank-error guarantee evaluated against exact order statistics.
      The exact value is the DISCRETE order statistic at rank
      ``floor((n-1)*q) + 1`` (pure rank selection, no interpolation
      arithmetic to diverge between engines).
    - ``heavy_hitter``: every term with exact frequency > N/k must
      survive the merged Misra-Gries sketch with an estimate in
      ``[exact - N/k, exact]``.  The bound is partition-independent
      (each partition undercounts by at most N_p/k and the partials
      sum), so the boolean holds under ANY data layout.

    The DuckDB oracle computes the same exact values and emits literal
    TRUE for every bound — a sketch that breaks its contract turns up
    as a value-hash mismatch on exactly the violated row.  This is the
    strongest differential check a non-deterministic-by-nature sketch
    admits, and it makes the sketch family a first-class driver row
    instead of pytest-only coverage."""
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")

    # --- HLL++ distinct users per event type ---
    hll = (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("long").alias("exact_value"),
            F.approx_count_distinct("user_id", rsd=HLL_RSD)
            .cast("long")
            .alias("est"),
        )
        .select(
            F.lit("distinct_users").alias("metric"),
            F.col("event_type").alias("key"),
            "exact_value",
            (
                F.abs(F.col("est") - F.col("exact_value"))
                <= F.col("exact_value") * F.lit(BOUND_HLL_REL)
            ).alias("within_bound"),
        )
    )

    # --- percentile_approx vs exact order statistics per priority ---
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wn = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    approx = o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, PCT_ACCURACY).alias("a50"),
        F.percentile_approx("o_totalprice", 0.99, PCT_ACCURACY).alias("a99"),
    )
    # ONE aggregate over the ranked relation carrying all six rank
    # selections, joined to the approx row once (r17, guide §1.2 step
    # 1 / §2.4): the per-metric formulation aggregated the whole
    # double-window subtree TWICE (two full order sorts — the
    # duplicated subtree was plan-visible) and joined approx twice.
    # Row values are bit-identical: same rank/margin expressions, same
    # max-when selections, merely side by side in one pass.
    agg_cols = []
    for tag, q in (("50", 0.5), ("99", 0.99)):
        target = F.floor((F.col("n") - 1) * F.lit(q)) + 1
        margin = F.ceil(F.col("n") / F.lit(PCT_ACCURACY)) + F.lit(
            BOUND_RANK_SLACK
        )
        lo_rank = F.greatest(target - margin, F.lit(1))
        hi_rank = F.least(target + margin, F.col("n"))
        agg_cols += [
            F.max(
                F.when(F.col("rn") == target, F.col("o_totalprice"))
            ).alias(f"exact_v{tag}"),
            F.max(
                F.when(F.col("rn") == lo_rank, F.col("o_totalprice"))
            ).alias(f"lo_v{tag}"),
            F.max(
                F.when(F.col("rn") == hi_rank, F.col("o_totalprice"))
            ).alias(f"hi_v{tag}"),
        ]
    per_prio = ranked.groupBy("o_orderpriority").agg(*agg_cols).join(
        approx, "o_orderpriority"
    )
    # stack, not two selects unioned: selecting twice from the uncached
    # per_prio would put the aggregate+join subtree in the plan twice
    # and lean on exchange reuse to dedupe it
    wide = per_prio.select(
        F.col("o_orderpriority").alias("key"),
        *[
            c
            for tag in ("50", "99")
            for c in (
                F.floor(F.col(f"exact_v{tag}") * 1000000.0 + F.lit(0.5))
                .cast("long")
                .alias(f"ex{tag}"),
                (
                    (F.col(f"a{tag}") >= F.col(f"lo_v{tag}"))
                    & (F.col(f"a{tag}") <= F.col(f"hi_v{tag}"))
                ).alias(f"wb{tag}"),
            )
        ],
    )
    qrows = [
        wide.select(
            F.expr(
                "stack(2, 'p50_price', ex50, wb50, 'p99_price', ex99, wb99)"
                " AS (metric, exact_value, within_bound)"
            ),
            "key",
        ).select("metric", "key", "exact_value", "within_bound")
    ]

    # --- Misra-Gries heavy-hitter survival ---
    # vocab-sized relation referenced twice (corpus total + the
    # survival join): cache so the token-explode aggregate runs once,
    # not once per reference (r17: cache, not localCheckpoint — the
    # eager checkpoint was an extra up-front job; the cache
    # materializes inside the first consumer's job instead)
    exact_terms = frequent_terms_exact(spark, sf_dir).cache()
    mg = frequent_terms_mg(spark, sf_dir)
    total = exact_terms.agg(F.sum("n").alias("big_n"))
    hh = (
        exact_terms.crossJoin(F.broadcast(total))
        .filter(F.col("n") > F.col("big_n") / F.lit(MG_COUNTERS))
        .join(mg, "term", "left")
        .select(
            F.lit("heavy_hitter").alias("metric"),
            F.col("term").alias("key"),
            F.col("n").cast("long").alias("exact_value"),
            (
                F.col("n_est").isNotNull()
                & (F.col("n_est") <= F.col("n"))
                & (
                    F.col("n_est")
                    >= F.col("n") - F.col("big_n") / F.lit(MG_COUNTERS)
                )
            ).alias("within_bound"),
        )
    )

    out = hll
    for df in qrows:
        out = out.unionByName(df)
    return out.unionByName(hh)
