"""SparkSession factory with scale-oriented defaults.

The reference leaves every knob at its default (200 shuffle partitions show
up in its physical plans — homework-5/README.md:719,723,730). We instead
size for the environment and turn on the features a 100 TB deployment would
run with: AQE (runtime coalescing, skew-join splitting, dynamic join
selection), Arrow for any pandas interchange, and a shuffle-partition count
matched to local core count (overridable; on a real cluster set it to
~2-3x total executor cores or rely on AQE coalescing from a high initial
value).

Per-Column call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
PySpark wraps every Column and DataFrame method so that each call looks
up the active session, reflects the JVM's ``PySparkCurrentOrigin``,
reads ``spark.sql.stackTracesInDataFrameContext``, walks the Python
stack and sends the origin's ``set`` and ``clear`` over py4j: one
``exact_sum`` cost 179 gateway commands on the driver, building
``q1_pricing_summary`` 1,938. Off, they cost 59 and 604. Runtime
errors keep their error class and message; what they lose is the Python
``file:line`` fragment of the "DataFrame query context". Pass the conf
as ``true`` through ``extra_conf`` to get it back while debugging;
PySpark reads it once per process, at the first Column call made with
an active session.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "geektime-bigdata-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``).
    All settings below are cluster-safe: on a real deployment only
    ``master`` changes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        cpu_count = os.cpu_count() or 8
        shuffle_partitions = int(cpus) if cpus.isdigit() else cpu_count

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- adaptive execution: re-plan with runtime statistics ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (and coalesce) the output partitioning of
        # CACHED plans too (upstream default false only to keep cached
        # data's partitioning reusable by downstream exchanges). The
        # operator layer caches shared intermediates whose child plans
        # end in an aggregate exchange; without this flag those caches
        # pin the full spark.sql.shuffle.partitions layout — hundreds of
        # KB per partition here, and at 100 TB whatever the static
        # partition count gives — and every cache consumer pays the
        # per-task overhead. With it, cached partitioning follows the
        # same advisory size as everything else (scale-adaptive, not a
        # local tuning: measured bm25_top_terms warm 14.2 -> 2.5 CPU-s
        # at sf0.1 with identical results; dedup/BPE family neutral).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # --- shuffle sizing: match parallelism, let AQE coalesce down ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow: vectorized JVM<->Python interchange for pandas UDFs ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- broadcast threshold: size-based join selection picks BHJ for
        #     any side under 64MB (plus AQE runtime SMJ->BHJ conversion);
        #     operators only HINT fixed-cardinality sides (region/nation,
        #     scalar aggregates) — scaling dims stay size-selected so they
        #     fall back to shuffle joins at 100 TB instead of OOMing ---
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # --- scan sizing: default 128MB splits are right for 100 TB parquet
        #     but local test files are tiny; keep default, it is cluster-safe
        .config("spark.sql.session.timeZone", "UTC")
        # --- testdata parquet carries TIMESTAMP(NANOS); Spark's vectorized
        #     reader has no nanos type, so read as long and normalize in the
        #     registry (registry._normalize_timestamps) ---
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # --- no per-Column call-site capture (module docstring) ---
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_MEMOS: dict = {}  # (build, applicationId, sf_dir) -> value
_FILL_LOCKS: dict = {}  # same key -> the lock its one fill holds
_FILL_LOCKS_GUARD = threading.Lock()


def session_memo(spark: SparkSession, sf_dir: str, build):
    """``build(spark, sf_dir)``, computed once per (build, applicationId,
    sf_dir) and cleared by :func:`release_caches`. ``sf_dir`` may be any
    input path: a testdata directory, or one table's parquet path (the
    registry's schema memo). For relations whose
    plans embed a fresh pickled Python closure per call (mapInPandas /
    mapInArrow stages), CacheManager's canonical-plan dedup can never
    match across calls — an explicit per-session memo of the
    checkpointed DataFrame is the seam that makes one materialization
    serve every consumer in the session.

    ``build`` must be a module-level function: its identity names the
    memo. Each key fills under its own lock, so concurrent first callers
    wait for one fill instead of each running ``build``; different keys
    fill in parallel."""
    key = (build, spark.sparkContext.applicationId, sf_dir)
    with _FILL_LOCKS_GUARD:
        lock = _FILL_LOCKS.setdefault(key, threading.Lock())
    with lock:
        if key not in _MEMOS:
            _MEMOS[key] = build(spark, sf_dir)
        return _MEMOS[key]


def release_caches(spark: SparkSession) -> None:
    """Drop every relation the operator layer has ``.cache()``d.

    The dedup/similarity/text operators intentionally cache shared
    intermediates (doc shingles, minhash signatures, IVF assignments,
    BM25 term frequencies) because Spark's CacheManager dedupes by
    logical plan — repeated queries in one session reuse them for free.
    The flip side (ADVICE r2): a long-lived session accumulates cached
    relations without bound. MEMORY_AND_DISK spills, so this is memory
    pressure rather than correctness, but long-running hosts (bench, the
    CLI, a driver sweeping 100+ queries) should call this between suites.
    ``clearCache`` unpersists lazily; subsequent queries simply re-cache
    what they need.

    Session memos (:func:`session_memo`, ADVICE r5) hold
    ``localCheckpoint``'ed DataFrames, whose blocks CacheManager does
    NOT track. We best-effort ``unpersist()`` each value, then drop the
    driver references; the ContextCleaner reclaims the checkpoint
    blocks once those references are garbage-collected. State is NOT
    small: the token-tf memo (one row per distinct
    (doc, token)) and the IVF-assignment memo (one row per embedding)
    hold corpus-size checkpoints, next to small ones such as the Gram
    memo's d² longs. Reclamation is lazy — their blocks stay resident
    until the driver's next GC lets the ContextCleaner drop them, so
    right after this call executor memory still holds them. The
    contract here is accurate bookkeeping, not synchronous block
    eviction."""
    spark.catalog.clearCache()
    with _FILL_LOCKS_GUARD:
        values = list(_MEMOS.values())
        _MEMOS.clear()
        _FILL_LOCKS.clear()
    for v in values:
        unpersist = getattr(v, "unpersist", None)
        if callable(unpersist):
            try:
                unpersist()
            except Exception:
                pass  # already-released session; reference drop suffices
