"""Job-count regression guard (VERDICT r13 item 6).

The r12/r13 per-query job censuses were the forensics that localized
the two structural outliers this engine has had (embedding_pca_top2's
sequential loop, 104 -> 79 -> 39 jobs across two adjudicated rewrites;
neardup_reach_rcte's recursive CTE) — warm Spark JOB counts are
structural facts of a plan (actions, materializations, checkpoint
cadence), far more stable on this noisy VM than wall time. This test
pins the census top-5 so a plan regression (a lost broadcast forcing a
materialization, an un-checkpointed iterate re-executing 2^k subplans,
an extra pass) surfaces as a test failure instead of a bench surprise.

Ceilings are the latest warm measurements + 3 slack (session-config
jitter such as an AQE re-plan can move a count by one or two; the
regression classes this guard exists for jump by tens — the r12
checkpoint trap measured 139 vs 104 jobs on the same op).

Jobs are counted by :func:`geektime_bigdata_spark.profile.profile`, a
job-id window, so jobs submitted from any thread count.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from geektime_bigdata_spark.profile import profile
from geektime_bigdata_spark.session import release_caches

# (query, measured warm jobs @ sf0.001, ceiling = measured + 3)
CEILINGS = [
    # r18: driver-side DP gate on the size-gated branch + step-by-2
    # recursion (seeded depths 1+2, distinct 2-hop extension) —
    # 45 -> 24 warm jobs; re-measured 23
    ("neardup_reach_rcte", 23, 26),
    # reads the graph family's one cached edge relation (_dup_edges):
    # 27 -> 11 warm jobs, the same count whichever graph op ran first
    ("neardup_random_walks", 11, 14),
    ("walk_skipgram_pairs", 12, 15),
    # r16: driver-side eigen-solve over the 4096-row Gram (bit-equal
    # to the distributed twin) — 39 -> 2 warm jobs
    ("embedding_pca_top2", 2, 5),
    # r18: collected top-k windows + literal replace chains — 20 -> 12
    ("bpe_train_merges_batched", 12, 15),
    ("bpe_train_merges", 12, 15),
]


def _warm_job_count(spark, name, sf_dir):
    q = entry.queries()[name]

    def run():
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # warm
    return profile(spark, run)["jobs"]


@pytest.mark.parametrize("name,measured,ceiling", CEILINGS)
def test_job_count_stays_under_ceiling(spark, sf_dir, name, measured, ceiling):
    jobs = _warm_job_count(spark, name, sf_dir)
    assert jobs <= ceiling, (
        f"{name} ran {jobs} warm jobs (measured {measured}, ceiling "
        f"{ceiling}) — a structural plan regression (lost checkpoint, "
        "extra materialization, lost broadcast); see the census notes "
        "in SURVEY §7.15-§7.17 before raising the ceiling"
    )


def test_random_walks_cost_is_independent_of_query_order(spark, sf_dir):
    """The graph ops share one cached edge relation, so random_walks
    runs the same warm jobs in a fresh cache as after dedup_clusters
    has filled that relation."""
    release_caches(spark)
    alone = _warm_job_count(spark, "neardup_random_walks", sf_dir)
    release_caches(spark)
    _warm_job_count(spark, "dedup_clusters", sf_dir)
    after = _warm_job_count(spark, "neardup_random_walks", sf_dir)
    assert alone == after, (alone, after)


def test_kcore_distributed_peel_counts_each_frame_once(
    spark, sf_dir, monkeypatch
):
    """With the size gate at 0 the k-core peel runs distributed. Each
    round counts only its new frame and carries that count into the
    next round's convergence check: 20 warm jobs (22 when every round
    also re-counted the previous frame)."""
    from geektime_bigdata_spark.operators import dedup

    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
    release_caches(spark)
    jobs = _warm_job_count(spark, "neardup_kcore", sf_dir)
    assert jobs <= 21, jobs
