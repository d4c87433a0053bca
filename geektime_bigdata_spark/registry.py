"""Table registry over the driver's parquet testdata.

Loads the ten synthetic tables (TESTDATA.md) as DataFrames and registers
them as temp views so both the DataFrame API and ``spark.sql`` address the
same catalog — mirroring the reference's Hive-catalog resolution path
(homework-5/README.md:126-137, ``UnresolvedRelation`` -> table relation)
without requiring a Hive metastore.

At cluster scale these would be external catalog tables (partitioned,
possibly bucketed on join keys); the parquet scan path — with column
pruning and predicate pushdown — is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from geektime_bigdata_spark.session import session_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Testdata timestamp columns have shipped in two physical forms across
# driver rounds: parquet TIMESTAMP(NANOS) (round 1 — with
# ``spark.sql.legacy.parquet.nanosAsLong`` they arrive as LongType
# nanoseconds, truncated here to microseconds exactly like DuckDB), and
# plain TIMESTAMP(MICROS) without a timezone (round 2+ — Spark infers
# TIMESTAMP_NTZ). Either way we normalize to TimestampType (LTZ): the
# session timezone is UTC, so the NTZ->LTZ cast is identity on the
# instant, watermarks/stream-stream joins (which require LTZ event time)
# work, and the engine sees the same type that produced every round-1
# green driver row.
_NANOS_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def _normalize_timestamps(name: str, df: DataFrame, schema: StructType) -> DataFrame:
    """``df`` (read with ``schema``) with its timestamp columns as LTZ.
    The types come from ``schema``, not ``df.schema``, which would cost
    the driver another analysis round trip."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for col in _NANOS_TS_COLS.get(name, ()):
        if col not in schema.fieldNames():
            continue
        dtype = schema[col].dataType
        if isinstance(dtype, LongType):
            # integer division: double math would lose sub-microsecond bits
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif isinstance(dtype, TimestampNTZType):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, register_views: bool = True
) -> dict[str, DataFrame]:
    """Read every testdata table under ``sf_dir`` and (optionally) register
    each as a temp view named after the table."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    return spark.read.parquet(path).schema


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of the parquet at ``path``, inferred once per session.

    ``spark.read.parquet(path)`` infers the schema on every call, and
    that inference (``mergeSchemasInParallel``) is one Spark job even
    for a single file. This infers it once, through
    :func:`...session.session_memo` keyed by the path, and
    :func:`...session.release_caches` forgets it. The contract, the same
    one the ``token_tf`` memo relies on: the files under ``path`` keep
    their schema between ``release_caches`` calls."""
    return session_memo(spark, path, _parquet_schema)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a single table without touching the view catalog.

    The read takes its schema from :func:`parquet_schema`, so opening a
    table runs no Spark job. Only the schema is memoized: each call
    returns a fresh DataFrame with fresh attribute ids, which a
    self-join of two ``table`` calls needs."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name in _NANOS_TS_COLS:
        # runtime SQL conf; set defensively for driver-provided sessions
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = parquet_schema(spark, path)
    return _normalize_timestamps(name, spark.read.schema(schema).parquet(path), schema)


# Bytes of input per task for each cost class :func:`spread` serves.
#
# Per-row explode/hash work (shingle, minhash, token pipelines): the
# testdata tables are single parquet files, so the scan arrives as ONE
# partition and any expensive projection above it runs on one core; a
# round-robin respread of the base rows costs one tiny shuffle and
# parallelizes everything downstream (measured 2.9x on the minhash
# shingle pipeline at sf0.1). 16 KiB is the largest power of two that
# keeps the full-width spread these sites were measured at for sf0.1
# documents (594,568 B) and embeddings (798,695 B) up to 32 cores —
# the dfcapped candidate self-join reads the cached shingle relation's
# layout, and a 4-way layout doubled its wall at 32 cores.
ROW_WORK_BYTES = 16 << 10
# Arrow/checkpoint pass loops (BPE corpus, duplicate_span_stats head):
# every pass pays a per-task Python-worker/scheduling floor times the
# width — the r17 8-core bench beat 32 cores on bpe_encode_corpus, and
# a width A/B on the encode loop read 29 CPU-s at width 32 vs ~5 at
# width 4 with the best wall. 128 KiB per task keeps tasks comfortably
# larger than that floor.
ARROW_PASS_BYTES = 128 << 10
# Streaming state-store partitions (streaming.windows): streaming stages
# are exempt from AQE coalescing, and a same-session A/B on
# streaming_hourly_rollup read 16-25 CPU-s at 32 state partitions vs
# 2.7-3.6 at this width, with identical results.
STATE_PARTITION_BYTES = 512 << 10


def spread_width(df: DataFrame, bytes_per_task: int) -> int:
    """Task count for ``df``: its Catalyst size estimate (the
    optimized plan's ``sizeInBytes`` — for a parquet scan, the bytes on
    disk) over ``bytes_per_task``, clamped to [1, defaultParallelism].
    Small inputs get a few fat tasks instead of many near-empty ones,
    and the width grows with the data until the core-count cap (the
    scale case pins the cap). The estimate comes from the plan, so it
    holds for any filesystem the scan can read."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    par = df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(par, size // bytes_per_task))


def spread(df: DataFrame, bytes_per_task: int) -> DataFrame:
    """Round-robin ``df`` across :func:`spread_width` tasks."""
    return df.repartition(spread_width(df, bytes_per_task))
