"""The in-process query profile (``geektime_bigdata_spark.profile``):
pinned structural counts for ``word_counts`` cold and warm, the
streaming-thread job a job-group count misses, and evicted stages."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError

import __spark_entry__ as entry
from geektime_bigdata_spark.operators.text import token_tf
from geektime_bigdata_spark.profile import _stage_rows, profile
from geektime_bigdata_spark.registry import table
from geektime_bigdata_spark.session import release_caches

# (jobs, stages, skipped stages) at sf0.001. Cold, right after
# release_caches: schema read, the token_tf pass (AQE shuffle job +
# localCheckpoint job), then the two-job word aggregate that is all
# the warm run does.
WORD_COUNTS_COLD = (5, 5, 2)
WORD_COUNTS_WARM = (2, 2, 1)


def _noop_run(spark, name, sf_dir):
    q = entry.queries()[name]
    return lambda: q(spark, sf_dir).write.format("noop").mode("overwrite").save()


def _output_rows(record, node_prefix):
    return [
        int(node["metrics"]["number of output rows"].replace(",", ""))
        for ex in record["executions"] for node in ex["nodes"]
        if node["name"].startswith(node_prefix)
    ]


def test_word_counts_profile_is_pinned(spark, sf_dir):
    run = _noop_run(spark, "word_counts", sf_dir)
    release_caches(spark)
    cold, warm = profile(spark, run), profile(spark, run)
    for record, pinned in ((cold, WORD_COUNTS_COLD), (warm, WORD_COUNTS_WARM)):
        assert (record["jobs"], record["stages"], record["skipped_stages"]) == pinned
        assert record["evicted_stages"] == record["evicted_jobs"] == 0
        assert record["tasks"] == sum(r["tasks"] for r in record["stage_rows"])
        assert record["executor_cpu_s"] > 0 and record["shuffle_write_bytes"] > 0
    # the cold fill scans the documents table; warm reads only the memo
    assert _output_rows(cold, "Scan parquet") == [
        table(spark, sf_dir, "documents").count()
    ]
    assert _output_rows(warm, "Scan parquet") == []
    assert _output_rows(warm, "Scan ExistingRDD") == [token_tf(spark, sf_dir).count()]


def test_profile_counts_streaming_thread_jobs(spark, sf_dir):
    """StreamExecution runs its micro-batch on its own thread under its
    own job group (the query's run id), so a job-group count on the
    caller sees only the noop write: the events schema comes from the
    registry's session memo, which the warm run filled."""
    run = _noop_run(spark, "streaming_hourly_rollup", sf_dir)
    run()  # warm
    record = profile(spark, run)
    store = spark.sparkContext._jsc.sc().statusStore()
    groups = [store.job(j).jobGroup() for j in record["job_ids"]]
    assert record["jobs"] == 2 and record["evicted_stages"] == 0
    assert sum(g.isDefined() for g in groups) == 1


def test_evicted_stage_is_counted_not_raised(spark):
    real = spark.sparkContext._jsc.sc().statusStore()
    ran = profile(spark, lambda: spark.range(10).collect())["stage_rows"][0]["stage"]

    class EvictingStore:
        """Knows only ``ran``; any other lookup raises the store's own
        NoSuchElementException, as for a stage past retainedStages."""

        def lastStageAttempt(self, stage_id):
            return real.lastStageAttempt(ran if stage_id == ran else -1)

    rows, skipped, evicted = _stage_rows(EvictingStore(), {ran, -2, -3})
    assert ([r["stage"] for r in rows], skipped, evicted) == ([ran], 0, 2)

    class BrokenStore:
        def lastStageAttempt(self, stage_id):
            return spark._jvm.java.lang.Class.forName("no.such.Stage")

    with pytest.raises(Py4JJavaError):  # any other JVM error propagates
        _stage_rows(BrokenStore(), {ran})
