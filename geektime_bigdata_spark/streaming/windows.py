"""Streaming window aggregation + stateful sessionization over `events`.

Batch/stream parity by construction: each streaming job has a batch twin in
:mod:`geektime_bigdata_spark.operators.windows`, and the tests assert the
``availableNow`` (process-everything-then-stop) run produces exactly the
batch answer — the standard way to validate streaming logic without a live
source.

Scale notes: the tumbling-window aggregate is partial+final per window key
with watermark-driven state eviction — at 100 TB/day the state held is one
row per (window, event_type), not per event. The sessionizer keeps one
small state blob per user_id; ``applyInPandasWithState`` processes each
key's micro-batch slice as a pandas frame (Arrow-batched, not per-row).
"""

from __future__ import annotations

import math
import os
import tempfile
import threading
import uuid
from typing import Iterable

import pandas as pd

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from geektime_bigdata_spark.registry import (
    STATE_PARTITION_BYTES,
    _normalize_timestamps,
    parquet_schema,
    spread_width,
    table,
)

SESSION_GAP_SEC = 30 * 60
# how long a runner waits for its availableNow drain before it stops the
# query and raises (:func:`_await_or_raise`)
STREAM_TIMEOUT_SEC = 180

# One streaming start at a time per process: the set/start/restore scope
# of :func:`_start` must not interleave with another thread's, or one
# scope restores the value the other set.
_START_LOCK = threading.Lock()


def _events_source(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """File-source stream over the events parquet, with the same ts
    normalization as the batch registry, and its state-partition width.

    File streams need an explicit schema; it comes from the registry's
    session schema memo (:func:`...registry.parquet_schema`), and the
    width is :func:`...registry.spread_width` of a batch scan read with
    that schema at ``STATE_PARTITION_BYTES`` — so only the session's
    first read of ``events`` pays a schema-inference job."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = parquet_schema(spark, path)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    width = spread_width(spark.read.schema(schema).parquet(path), STATE_PARTITION_BYTES)
    return _normalize_timestamps("events", stream, schema), width


def _start(writer, spark: SparkSession, width: int, conf: dict | None = None):
    """``writer.start()`` with ``spark.sql.shuffle.partitions`` = ``width``
    (plus any extra ``conf``), restoring the session conf as soon as
    ``.start()`` returns.

    Streaming stages are exempt from AQE coalescing, so every stateful
    operator would otherwise plan the session's partition count (= local
    core count) of state-store partitions regardless of data. Stateful
    aggregation here is exact-integer, so the count cannot perturb any
    hashed value. Restoring right after ``.start()`` is sound: the
    query's StreamExecution clones the session, conf included, inside
    ``start()``, and batch 0 pins the count in the checkpoint's offset
    metadata. The lock does not cover another thread's batch query
    planned during a start: it sees ``width``, which the determinism
    contract makes result-neutral."""
    scoped = {"spark.sql.shuffle.partitions": str(width), **(conf or {})}
    with _START_LOCK:
        prev = {k: spark.conf.get(k, None) for k in scoped}
        for k, v in scoped.items():
            spark.conf.set(k, v)
        try:
            return writer.start()
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def _run_to_memory(
    df: DataFrame,
    width: int,
    mode: str,
    *,
    single_batch: bool = False,
    conf: dict | None = None,
) -> DataFrame:
    """Drain ``df`` with ``availableNow`` into a fresh memory sink (temp
    checkpoint, :func:`_start` scope), wait for it, and return the sink's
    table. ``single_batch`` adds :func:`_assert_single_batch`."""
    name = f"gbs_stream_{uuid.uuid4().hex[:12]}"
    with tempfile.TemporaryDirectory() as ckpt:
        writer = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        q = _start(writer, df.sparkSession, width, conf)
        _await_or_raise(q, STREAM_TIMEOUT_SEC)
        if single_batch:
            _assert_single_batch(q)
    return df.sparkSession.table(name)


def _await_or_raise(q, timeout_sec: int) -> None:
    """Block until the streaming query terminates; on timeout stop it and
    raise instead of letting the caller read a silently-partial sink (and
    instead of deleting the checkpoint under a still-running query)."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        q.awaitTermination(30)
        raise TimeoutError(
            f"streaming query {q.name!r} did not finish within "
            f"{timeout_sec}s; sink contents would be partial"
        )


def _assert_single_batch(q) -> None:
    """Guard for runners whose driver-contract surface assumes the whole
    file source arrived in ONE data micro-batch (ADVICE r2): with several
    batches, ``dropDuplicatesWithinWatermark`` could drop a first-arrival
    whose event time trails an already-advanced watermark, and outer-join
    eviction timing would depend on the batch split. availableNow over a
    single parquet file satisfies this today; if the source ever splits
    (more files, maxFilesPerTrigger), fail loudly instead of silently
    diverging from the batch oracle."""
    data_batches = sum(
        1 for p in q.recentProgress if (p["numInputRows"] or 0) > 0
    )
    if data_batches != 1:
        raise AssertionError(
            f"streaming run processed {data_batches} data micro-batches; "
            "the batch-oracle surface is only sound for exactly 1"
        )


def _exact_value_sum(rounded: int = 6):
    """Order-independent micro-unit sum of ``value`` for streaming
    aggregates — same contract-edge rule as
    :func:`...functions.exact_sum` (integer addition is associative, so
    micro-batch accumulation order and batch boundaries cannot perturb
    the hashed result). The overflow-guard form of exact_sum is not used
    here because count/max guards are extra stateful aggregates in a
    streaming plan; events value <= ~1e3 keeps the envelope safe past
    1e12 rows per window. Rounding is the floor-based grid form
    (identical IEEE ops on both engines) to mirror the batch twins'
    ``grid_round``."""
    k = F.lit(float(10**rounded))
    x = (
        F.sum(F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long"))
        / F.lit(1e6)
    ).cast("double")
    return (F.floor(x * k + F.lit(0.5)) / k).cast("double")


def run_streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window x event_type counts/sums with a 1-hour
    watermark, executed with ``availableNow`` into a memory sink.

    Batch twin: :func:`...operators.windows.hourly_event_rollup` (the
    window start == date_trunc('hour', ts) for tumbling windows)."""
    stream, width = _events_source(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _exact_value_sum().alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _run_to_memory(agg, width, "complete")


def run_streaming_sliding_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hopping-window streaming aggregate: 2-hour windows advancing
    hourly, watermarked. Batch twin:
    :func:`...operators.windows.sliding_window_counts`. Same Expand
    (2 rows per event) + windowed state; watermark bounds state to the
    open windows only."""
    stream, width = _events_source(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _exact_value_sum().alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n", "total_value")
    )
    return _run_to_memory(agg, width, "complete")


def run_streaming_enriched_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static join: the events stream enriched against the static
    ``customer`` dimension (user_id -> mktsegment), then a per-segment
    rollup. The static side re-resolves per micro-batch — the canonical
    dimension-enrichment topology; no state beyond the aggregate
    itself. The dim joins UNHINTED (r16 hint discipline): customer is
    one row per customer — SF-proportional, not bounded by
    construction — so Spark's size logic picks broadcast per
    micro-batch while the dim is small and a shuffled stream-static
    join once it is not; a forced hint would pin the OOM path at
    scale."""
    stream, width = _events_source(spark, sf_dir)
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        stream.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _exact_value_sum().alias("total_value"),
        )
    )
    return _run_to_memory(agg, width, "complete")


def run_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join: purchases joined to the same user's clicks in
    the preceding hour — both sides are watermarked streams, so Spark
    buffers only the last ~2h of clicks per key in state (the time-range
    condition bounds state eviction; an unwatermarked stream join would
    buffer forever). Batch twin: the pair set of
    :func:`...operators.joins.attribution_range_join` (pre-aggregation).
    """
    stream, width = _events_source(spark, sf_dir)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select("purchase_id", "user_id", "c_ts")
    return _run_to_memory(joined, width, "append")


def run_streaming_attribution_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — purchases with their
    preceding-hour clicks, null-padded when no click exists. The outer
    variant is the advanced shape: Spark can emit the null-padded row
    only once the watermark proves no matching click can still arrive,
    which is exactly the state-eviction bound of the inner join reused
    as a completeness proof.

    availableNow caveat: the run terminates when input is exhausted, so
    the final watermark (max event time - 2h) may still sit before the
    join bound of the last purchases — their null rows are legitimately
    withheld. The pytest asserts SOUNDNESS (matched rows == batch inner
    join; every null row is a true batch anti-join member); the driver
    surface (see ``__spark_entry__``) additionally restricts null rows
    to purchases ≤ max(ts) - 3h — 1h inside the eviction bound, so the
    emitted set is fully deterministic and oracle-predictable."""
    stream, width = _events_source(spark, sf_dir)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "leftOuter",
    ).select("purchase_id", "user_id", "p_ts", "c_ts")
    return _run_to_memory(
        joined, width, "append", single_batch=True
    )


def run_streaming_attribution_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join — the last join type of
    the §2.7 matrix (inner, left-outer, full-outer): purchases x
    preceding-hour clicks, with BOTH unmatched sides null-padded once
    the watermark proves no counterpart can arrive. Left nulls are
    purchases that saw no click in their preceding hour; right nulls are
    clicks no purchase followed within an hour.

    Same eviction caveat as the LEFT OUTER runner: under availableNow
    the final watermark (min over both per-side watermark operators)
    may withhold trailing null rows on either side — the driver surface
    (``__spark_entry__``) restricts null rows of BOTH sides to 1h
    inside the bound so the emitted set is oracle-predictable."""
    stream, width = _events_source(spark, sf_dir)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "fullOuter",
    ).select("purchase_id", "p_user", "p_ts", "click_id", "c_user", "c_ts")
    return _run_to_memory(
        joined, width, "append", single_batch=True
    )


def run_streaming_session_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE ``session_window`` aggregation under Structured Streaming —
    the engine-managed gap-merge path (state store sessions merged by the
    SessionWindowStateStore), complementing the custom
    ``applyInPandasWithState`` sessionizer which owns its state format.
    30-minute gap, same output surface as the batch twin
    :func:`...operators.windows.session_window_rollup` (shared oracle).

    ``complete`` output mode: append would emit a session only once the
    watermark passes its end, deterministically WITHHOLDING the last
    hour's sessions under availableNow — complete re-emits the full
    session table, which for a drained source equals the batch answer
    exactly."""
    stream, width = _events_source(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), "30 minutes").alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _exact_value_sum().alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            (F.col("sw.end") - F.expr("INTERVAL 30 MINUTES")).alias(
                "last_event_ts"
            ),
            "n_events",
            "session_value",
        )
    )
    return _run_to_memory(agg, width, "complete")


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first event per (user_id, event_type) key
    passes, later duplicates drop —
    ``dropDuplicatesWithinWatermark`` keeps per-key state only within the
    watermark horizon, so state is bounded even on an infinite stream
    (plain dropDuplicates on a stream grows state forever). The
    training-data analogue is streaming ingest dedup by content
    fingerprint.

    The batch ``SELECT DISTINCT`` oracle equivalence assumes the whole
    file arrived as ONE data micro-batch (guarded by
    :func:`_assert_single_batch`): across batches, a key first arriving
    with an event time older than the advanced watermark would be
    dropped and the key set would diverge."""
    stream, width = _events_source(spark, sf_dir)
    stream = stream.select("user_id", "event_type", "ts")
    deduped = stream.withWatermark("ts", "24 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    return _run_to_memory(
        deduped, width, "append", single_batch=True
    )


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
)


class _UserTotalsProcessor(StatefulProcessor):
    """StatefulProcessor for :func:`run_streaming_user_totals_tws`:
    typed per-key ValueState holding the running (row count, LONG
    micro-unit value sum) pair."""

    def init(self, handle) -> None:
        self._totals = handle.getValueState("totals", "n LONG, v LONG")

    def handleInputRows(self, key, rows, timerValues):
        n, v = 0, 0
        if self._totals.exists():
            n, v = self._totals.get()
        for pdf in rows:
            n += len(pdf)
            v += int(sum(math.floor(x * 1e6 + 0.5) for x in pdf["value"]))
        self._totals.update((n, v))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_micros": [v],
            }
        )

    def close(self) -> None:
        pass


def run_streaming_user_totals_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arbitrary stateful processing via Spark 4's ``transformWithState``
    API — the successor to ``applyInPandasWithState``: a
    ``StatefulProcessor`` with TYPED ``ValueState`` on the RocksDB state
    store (schema'd state the engine can evolve/inspect, per-key timers
    available, Arrow-batched input). The operator keeps per-user running
    (count, LONG micro-unit value sum) and emits the running totals each
    batch; micro-unit integer accumulation makes the result independent
    of micro-batch boundaries, so after a drained ``availableNow`` run
    the NEWEST emission per user (max n_events — strictly growing) is
    exactly the batch ``groupBy(user_id)`` aggregate. §2.8 coverage:
    this is the fourth stateful-API surface next to
    applyInPandasWithState, foreachBatch, and dropDuplicates state.

    ENVIRONMENT GATE (why this runner is not in the driver registry):
    transformWithState's driver-side Python runner requires a working
    ``google.protobuf`` (state-server protocol), which this container
    ships broken (``cannot import name 'descriptor'``) and installs are
    disallowed. The pytest skips with that exact reason when protobuf
    is unusable; on a normal cluster image the operator runs as-is."""
    stream, width = _events_source(spark, sf_dir)
    out = (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_UserTotalsProcessor(),
            outputStructType=(
                "user_id long, n_events long, total_value_micros long"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    }
    t = _run_to_memory(out, width, "update", conf=rocksdb)
    return (
        t.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value_micros")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.total_value_micros").alias("total_value_micros"),
        )
    )


def run_streaming_upsert_sink(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """``foreachBatch`` upsert sink: each micro-batch merges its rows into
    a keyed parquet state (latest write per (user_id, event_type) wins) —
    the standard stream->lakehouse upsert topology when the table format
    has no native MERGE. The merge itself is the batch compaction pattern
    (union + newest-per-key window), so replaying a batch is idempotent.
    At scale the state table is partitioned/bucketed by key so each batch
    rewrites only touched partitions. Returns the final state DataFrame."""
    from pyspark.sql import Window

    stream, width = _events_source(spark, sf_dir)
    stream = stream.select("user_id", "event_type", "ts", "value", "event_id")
    state_path = os.path.join(out_dir, "state")

    def merge_batch(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        try:
            existing = sess.read.parquet(state_path)
        except AnalysisException:
            # only the path-missing/first-batch case; genuine read errors
            # (corruption, IO) must propagate, not silently drop state
            existing = None
        merged = (
            existing.unionByName(batch_df) if existing is not None else batch_df
        )
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # write-then-swap would be atomic on a real table format; plain
        # parquet needs the temp-dir dance because we read our own output
        tmp = state_path + f".tmp{batch_id}"
        latest.write.mode("overwrite").parquet(tmp)
        final = sess.read.parquet(tmp)
        final.write.mode("overwrite").parquet(state_path)

    ckpt = os.path.join(out_dir, "ckpt")
    writer = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    _await_or_raise(_start(writer, spark, width), STREAM_TIMEOUT_SEC)
    return spark.read.parquet(state_path)


def _micro_units(v: float) -> int:
    """Double -> 1e-6-unit integer, bit-identical to the engines'
    ``floor(x * 1000000.0 + 0.5)`` quantization (exact_sum's fast path):
    Python floats ARE IEEE doubles, so ``v * 1e6 + 0.5`` runs the exact
    same two operations the JVM/DuckDB evaluate."""
    return math.floor(v * 1e6 + 0.5)


def _sessionize_group(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Stateful per-user sessionizer — the streaming twin of the batch
    lag-chain :func:`...operators.windows.sessionize`, emitting the SAME
    per-session schema (user_id, session_id, n_events,
    session_value_micros, duration_us — ALL-INTEGER contract surface,
    see the batch twin's docstring) so both share one DuckDB oracle.

    State per user: (last_ts_us, session_id, start_ts_us, n_events,
    value_micro) for the open session. A gap > SESSION_GAP_SEC closes it
    (emitted once, final); the open session is re-emitted each batch with
    running totals — strictly-growing n_events lets the reader keep the
    newest emission per (user, session). session_value accumulates in
    exact micro-units, so batch boundaries cannot perturb the sum."""
    (user_id,) = key
    if state.exists:
        last_ts_us, session_id, start_ts_us, n_events, value_u = state.get
    else:
        last_ts_us, session_id, start_ts_us, n_events, value_u = -1, 0, -1, 0, 0
    # gather the key's full batch slice before sorting — a key's rows may
    # arrive as several pandas chunks within one micro-batch; order by
    # (ts, event_id) exactly like the batch lag window
    rows = [
        (int(pd.Timestamp(ts).value // 1000), int(eid), float(v))
        for pdf in pdfs
        for ts, eid, v in zip(pdf["ts"], pdf["event_id"], pdf["value"])
    ]
    out: dict[str, list] = {
        "user_id": [],
        "session_id": [],
        "n_events": [],
        "session_value_micros": [],
        "duration_us": [],
    }

    def _emit() -> None:
        out["user_id"].append(user_id)
        out["session_id"].append(session_id)
        out["n_events"].append(n_events)
        out["session_value_micros"].append(value_u)
        out["duration_us"].append(last_ts_us - start_ts_us)

    for ts_us, _eid, v in sorted(rows):
        if last_ts_us < 0 or ts_us - last_ts_us > SESSION_GAP_SEC * 1_000_000:
            if session_id > 0:
                _emit()  # close the previous session — final row
            session_id += 1
            start_ts_us, n_events, value_u = ts_us, 0, 0
        n_events += 1
        value_u += _micro_units(v)
        last_ts_us = ts_us
    if session_id > 0:
        _emit()  # open session: running snapshot, superseded next batch
    state.update((last_ts_us, session_id, start_ts_us, n_events, value_u))
    yield pd.DataFrame(out)


def run_streaming_sessionization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    sessionization with a 30-minute gap — the streaming twin of the batch
    :func:`...operators.windows.sessionize` (same gap rule, same output
    schema, same DuckDB oracle).

    State is one open-session blob per user. Each batch emits closed
    sessions (final) plus a running snapshot of the open one; since
    n_events strictly grows within a session, the newest emission per
    (user_id, session_id) — picked by a struct-max — is the final row.
    With availableNow the last batch's snapshot IS the completed session."""
    stream, width = _events_source(spark, sf_dir)
    stream = stream.select("user_id", "ts", "event_id", "value")
    out = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=(
            "user_id long, session_id long, n_events long, "
            "session_value_micros long, duration_us long"
        ),
        stateStructType=(
            "last_ts_us long, session_id long, start_ts_us long, "
            "n_events long, value_u long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    t = _run_to_memory(out, width, "update")
    # newest emission per session wins (n_events strictly grows; the
    # struct-max carries the matching value/duration along)
    return (
        t.groupBy("user_id", "session_id")
        .agg(
            F.max(
                F.struct("n_events", "session_value_micros", "duration_us")
            ).alias("s")
        )
        .select(
            "user_id",
            "session_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.session_value_micros").alias("session_value_micros"),
            F.col("s.duration_us").alias("duration_us"),
        )
    )


def inspect_streaming_state(spark: SparkSession, checkpoint: str):
    """Read a streaming query's STATE STORE back as DataFrames via the
    Spark-4 state data source — the observability surface an operator
    uses to debug watermark/eviction behavior on a production checkpoint
    without replaying the stream: ``state-metadata`` lists each stateful
    operator (id, store name, partition count, batch range) and
    ``statestore`` yields the raw (key, value, partition_id) rows of the
    default store. Note the value struct carries the AGGREGATION
    BUFFER's field names (``count``, ``sum`` — not the query's output
    aliases): state is physical, one row per grouping key per partition.
    Returns ``(metadata_df, state_df)``."""
    meta = spark.read.format("state-metadata").load(checkpoint)
    state = spark.read.format("statestore").load(checkpoint)
    return meta, state
