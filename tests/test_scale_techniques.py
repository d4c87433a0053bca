"""Scale-technique tests: bucketed joins must elide exchanges; salted
aggregation must equal the plain aggregation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from geektime_bigdata_spark.operators.scale import (
    COMPACT_FRAGMENT_FILES,
    COMPACT_TARGET_ROWS,
    bucketed_order_lineitem_join,
    compact_small_files,
    salted_top_words,
    write_bucketed,
    zorder_layout_skipping,
)
from geektime_bigdata_spark.operators.text import word_counts
from geektime_bigdata_spark.plans import explain_str


@pytest.fixture(scope="module")
def bucketed_db(spark, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("bucketed")
    # location comes from the session warehouse; we just need the tables
    write_bucketed(spark, "/root/testdata/sf0.001", db="gbs_bucketed_test")
    yield "gbs_bucketed_test"
    spark.sql("DROP TABLE IF EXISTS gbs_bucketed_test.orders")
    spark.sql("DROP TABLE IF EXISTS gbs_bucketed_test.lineitem")
    spark.sql("DROP DATABASE IF EXISTS gbs_bucketed_test")


def test_bucketed_join_elides_exchange(spark, bucketed_db):
    df = bucketed_order_lineitem_join(spark, db=bucketed_db)
    # force the SMJ path: at test scale the planner would broadcast the
    # tiny side, which proves nothing about bucket co-location (at 100 TB
    # neither fact side is broadcastable)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        join_plan = explain_str(
            spark.table(f"{bucketed_db}.orders").join(
                spark.table(f"{bucketed_db}.lineitem"),
                spark.table(f"{bucketed_db}.orders")["o_orderkey"]
                == spark.table(f"{bucketed_db}.lineitem")["l_orderkey"],
            ),
            "formatted",
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in join_plan, join_plan
    assert "Exchange" not in join_plan, join_plan
    # and the full agg query returns the right cardinality (one row per
    # order that has lineitems)
    n_orders_with_lines = (
        spark.table(f"{bucketed_db}.lineitem")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    assert df.count() == n_orders_with_lines


def test_bucketed_join_values_match_unbucketed(spark, bucketed_db, sf_dir):
    from geektime_bigdata_spark.registry import table
    from pyspark.sql import functions as F

    bucketed = {
        r["o_orderkey"]: (r["n_lines"], r["revenue"])
        for r in bucketed_order_lineitem_join(spark, db=bucketed_db).collect()
    }
    o, li = table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem")
    plain = {
        r["o_orderkey"]: (r["n_lines"], r["revenue"])
        for r in o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
        .collect()
    }
    assert bucketed == plain


def test_salted_equals_plain_word_count(spark, sf_dir):
    salted = {
        r["word"]: r["cnt"] for r in salted_top_words(spark, sf_dir).collect()
    }
    plain = {r["word"]: r["cnt"] for r in word_counts(spark, sf_dir).collect()}
    assert salted == plain


def test_compaction_counts_and_checksum(spark, sf_dir):
    """The compaction pass must (a) measure exactly the fragment count it
    wrote, (b) land on the ceil(n/target) file count, and (c) carry every
    row through unchanged — the checksum recomputed straight off the
    source parquet must match the one read back from the compacted
    files."""
    import math

    row = compact_small_files(spark, sf_dir).collect()[0]
    from geektime_bigdata_spark.registry import table

    e = table(spark, sf_dir, "events")
    n = e.count()
    direct = e.agg(
        F.sum(
            F.expr(
                "CAST(conv(substr(md5(concat_ws('|', "
                "CAST(event_id AS STRING), CAST(user_id AS STRING), "
                "event_type)), 1, 8), 16, 10) AS BIGINT)"
            )
        ).cast("long")
    ).collect()[0][0]
    assert row["files_before"] == COMPACT_FRAGMENT_FILES
    assert row["files_after"] == math.ceil(n / COMPACT_TARGET_ROWS)
    assert row["n_rows"] == n
    assert row["row_checksum"] == direct


def test_zorder_skips_more_than_lexicographic(spark, sf_dir):
    """The z-order layout must strictly beat the lexicographic layout on
    the fixed 2-D box: fewer files touched and fewer rows scanned, for
    the identical match set. The file counts are closed-form curve
    geometry — the box's 16 cells spread over 6 Morton buckets vs 8
    lexicographic buckets — so they pin exactly at every shipped scale
    (the oracle proves the full relation cross-engine; this pins the
    semantic claim the op exists to demonstrate)."""
    rows = {
        r["layout"]: r for r in zorder_layout_skipping(spark, sf_dir).collect()
    }
    z, lex = rows["zorder"], rows["lexicographic"]
    assert z["rows_matched"] == lex["rows_matched"] > 0
    assert z["files_scanned"] == 6
    assert lex["files_scanned"] == 8
    assert z["rows_scanned"] < lex["rows_scanned"]
    for r in (z, lex):
        assert r["rows_scanned"] >= r["rows_matched"]
        assert r["files_scanned"] <= r["n_files"] <= 32


def test_concat_ws_null_dialect_identical(spark):
    """The compaction oracle's NULL-safety claim (ADVICE r5), test-pinned:
    Spark and DuckDB ``concat_ws`` must produce byte-identical output —
    including under NULLs, where both engines drop the value AND its
    separator (unlike ``||``, which NULLs the whole row in DuckDB only).
    Runs the exact checksum-assembly form compact_small_files uses over
    an adversarial fixture (NULL in each position, all-NULL, empty
    string vs NULL, multi-digit ints) through both engines."""
    import duckdb

    rows = [
        (1, 10, "click"),
        (None, 20, "view"),
        (3, None, "purchase"),
        (4, 40, None),
        (None, None, None),
        (6, 60, ""),  # empty string is NOT null: keeps its separator
        (77777, 88888, "scroll"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string"
    )
    got = [
        r[0]
        for r in df.select(
            F.expr(
                "concat_ws('|', CAST(event_id AS STRING), "
                "CAST(user_id AS STRING), event_type)"
            )
        ).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT concat_ws('|', ?::BIGINT, ?::BIGINT, ?::VARCHAR)",
            list(r),
        ).fetchone()[0]
        for r in rows
    ]
    assert got == want, (got, want)
    # and the full md5-checksum form both engines hash in the oracle
    spark_sum = df.agg(
        F.sum(
            F.expr(
                "CAST(conv(substr(md5(concat_ws('|', "
                "CAST(event_id AS STRING), CAST(user_id AS STRING), "
                "event_type)), 1, 8), 16, 10) AS BIGINT)"
            )
        ).cast("long")
    ).collect()[0][0]
    con.execute(
        "CREATE TABLE t (event_id BIGINT, user_id BIGINT, "
        "event_type VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    duck_sum = con.execute(
        "SELECT CAST(sum(('0x' || substr(md5(concat_ws('|', event_id, "
        "user_id, event_type)), 1, 8))::BIGINT) AS BIGINT) FROM t"
    ).fetchone()[0]
    assert spark_sum == duck_sum, (spark_sum, duck_sum)


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling demonstrated on ACTUAL skew: 95% of a
    synthetic fact lands on one hot key, the dim side is uniform, and
    after execution the adaptive plan must show the hot partition was
    split (SortMergeJoin(skew=true) + a 'skewed' AQEShuffleRead).

    Two test-scale adjustments, both size-only (the rule itself is
    untouched): thresholds are lowered from the 256MB production default
    so ~5MB of skew qualifies, and the fact side is repartitioned to 16
    map tasks first — skew splits operate on per-mapper output chunks,
    so a single-mapper input (one small parquet file) is indivisible no
    matter how skewed it is. At 100 TB both conditions hold naturally
    (thousands of mappers, multi-GB hot partitions)."""
    from geektime_bigdata_spark.registry import table

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        e = table(spark, "/root/testdata/sf0.1", "events")
        fact = e.select(
            F.when(F.col("event_id") % 20 != 0, F.lit(1))
            .otherwise(F.col("event_id") % 50)
            .alias("k"),
            "value",
            "props",
        ).repartition(16)
        dim = spark.range(0, 50).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        joined = fact.join(dim, "k")
        n = len(joined.collect())  # run to completion so AQE finalizes
        assert n == fact.count()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final
        assert any(
            "skewed" in line and "AQEShuffleRead" in line
            for line in final.splitlines()
        ), final
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_partition_pruning(spark, sf_dir, tmp_path):
    """A dt-partitioned layout must prune directories at planning time:
    the day predicate lands in PartitionFilters and the scanned data is
    exactly that day's (count matches a full-scan filter)."""
    from geektime_bigdata_spark.operators.scale import (
        pruned_daily_rollup,
        write_date_partitioned,
    )
    from geektime_bigdata_spark.plans import explain_str
    from geektime_bigdata_spark.registry import table

    out = str(tmp_path / "events_by_day")
    write_date_partitioned(spark, sf_dir, out)
    day = "2024-01-05"
    df = pruned_daily_rollup(spark, out, day)
    text = explain_str(df, "formatted")
    pf_lines = [l for l in text.splitlines() if "PartitionFilters" in l]
    assert pf_lines and "dt" in pf_lines[0], text

    expect = (
        table(spark, sf_dir, "events")
        .filter(F.date_format("ts", "yyyy-MM-dd") == day)
        .count()
    )
    got = df.agg(F.sum("n")).collect()[0][0]
    assert got == expect and expect > 0, (got, expect)


def test_dynamic_partition_pruning_subquery(spark, sf_dir, tmp_path):
    """Joining a dt-partitioned fact against a FILTERED dim must inject a
    dynamicpruning subquery on the fact scan (DPP — partitions are
    skipped at runtime from the dim's build side, the mechanism that
    makes star-schema joins viable on a partitioned 100 TB fact), and
    the result must equal the semantically-identical static filter."""
    from geektime_bigdata_spark.operators.scale import write_date_partitioned
    from geektime_bigdata_spark.plans import explain_str

    out = str(tmp_path / "events_dpp")
    write_date_partitioned(spark, sf_dir, out)
    fact = spark.read.parquet(out)
    days = [r["dt"] for r in fact.select("dt").distinct().collect()]
    pick = sorted(days)[:2]
    dim = spark.createDataFrame(
        [(d, "keep" if d in pick else "drop") for d in days], "dt string, flag string"
    )
    joined = (
        fact.join(dim.filter(F.col("flag") == "keep"), "dt")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    text = explain_str(joined, "formatted")
    assert "dynamicpruning" in text.lower(), text

    expect = (
        fact.filter(F.col("dt").isin(pick))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = joined.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect)) and got


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """A selective filter on the dimension side of a shuffle join makes
    Spark inject a RUNTIME bloom filter: the filtered orders keys build a
    ``bloom_filter_agg`` (partial+merge — one sketch per task crosses the
    wire) and the lineitem side applies ``might_contain`` BEFORE its
    shuffle. At 100 TB this is the difference between shuffling the whole
    fact table and shuffling only rows that can possibly join — the
    runtime-filter analogue of static partition pruning. Thresholds are
    lowered because injection is size-gated (the real gates: creation
    side under ~100MB, application side over ~10GB)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        # the runtime filter must not change the answer
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        expected = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        assert sorted(map(tuple, j.collect())) == sorted(
            map(tuple, expected)
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _write_snm_corpus(path, heads):
    """Write a minimal documents.parquet whose texts are the given
    64-char heads (the only column material to the SNM pass)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(heads)), type=pa.int64()),
            "text": pa.array(heads, type=pa.string()),
            "lang": pa.array(["en"] * len(heads), type=pa.string()),
            "source": pa.array(["synth"] * len(heads), type=pa.string()),
            "n_chars": pa.array([len(h) for h in heads], type=pa.int64()),
        }
    )
    pq.write_table(tbl, path)


def _snm_heads(n, skew_frac, seed):
    """64-char heads; ``skew_frac`` of them share the SAME last-2 chars
    (= the 2-char reversed-head prefix that keys the SNM sort window),
    the rest spread over ~676 suffixes. A fixed seed keeps the corpus
    deterministic; a handful of adjacent near-twins guarantees a
    non-empty pair output in both corpora."""
    import random

    rng = random.Random(seed)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    heads = []
    n_skew = int(n * skew_frac)
    for i in range(n):
        body = "".join(rng.choice(alpha) for _ in range(62))
        if i < n_skew:
            suffix = "ZZ"
        else:
            suffix = alpha[i % 26].upper() + alpha[(i // 26) % 26].upper()
        heads.append(body + suffix)
    # near-twins: pairs whose heads differ by one char, landing adjacent
    # in the reversed-head sort of whatever block they fall in
    for i in range(0, 40, 2):
        base = heads[i]
        heads[i + 1] = "Q" + base[1:]
    return heads


def test_snm_skew_bounded(spark, tmp_path):
    """VERDICT r4 watch item: ``edit_distance_pairs_snm`` partitions its
    sort window by a 2-char reversed-head prefix (dedup.py SNM_BLOCK_CHARS);
    an alphabet-skewed corpus concentrates one block in one task's sort.
    This fixture feeds a corpus where 55% of heads share that prefix and
    asserts (a) exact agreement with an independent DuckDB replica of the
    blocked-SNM semantics (lead() window, W successors, levenshtein), and
    (b) wall time within a generous multiple of the uniform corpus — the
    bound that detects a super-linear regression (the round-4 rn-range
    self-join bug did O(block^2) work: a 2200-doc block would run ~4.8M
    64-char DPs here vs the linear pass's 32k, minutes vs seconds) while
    staying far above boot-to-boot timing noise."""
    import time

    import duckdb

    from geektime_bigdata_spark.operators.dedup import (
        ED_MAX_DIST,
        SNM_WINDOW,
        edit_distance_pairs_snm,
    )

    n = 4000
    dirs = {}
    for label, frac in (("uniform", 0.0), ("skewed", 0.55)):
        d = tmp_path / label
        d.mkdir()
        _write_snm_corpus(
            str(d / "documents.parquet"), _snm_heads(n, frac, seed=7)
        )
        dirs[label] = str(d)

    def run(sf):
        t0 = time.monotonic()
        rows = sorted(
            map(tuple, edit_distance_pairs_snm(spark, sf).collect())
        )
        return rows, time.monotonic() - t0

    # warm the JIT/codegen paths once so the timed pair is steady-state
    run(dirs["uniform"])
    uniform_rows, uniform_t = run(dirs["uniform"])
    skew_rows, skew_t = run(dirs["skewed"])
    assert uniform_rows and skew_rows

    leads = ", ".join(
        f"lead(doc_id, {i}) over w AS d{i}, lead(head, {i}) over w AS h{i}"
        for i in range(1, SNM_WINDOW + 1)
    )
    pairs = " UNION ALL ".join(
        f"SELECT doc_id, head, d{i} AS d, h{i} AS h FROM win "
        f"WHERE d{i} IS NOT NULL"
        for i in range(1, SNM_WINDOW + 1)
    )
    sql = f"""
    WITH docs AS (
      SELECT doc_id,
             substr(text, 1, 64) AS head,
             reverse(substr(text, 1, 64)) AS skey,
             substr(reverse(substr(text, 1, 64)), 1, 2) AS blk
      FROM read_parquet(?)
    ), win AS (
      SELECT doc_id, head, {leads}
      FROM docs
      WINDOW w AS (PARTITION BY blk ORDER BY skey, doc_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ), cand AS ({pairs})
    SELECT least(doc_id, d) AS doc_a, greatest(doc_id, d) AS doc_b,
           CAST(levenshtein(head, h) AS BIGINT) AS edit_dist
    FROM cand WHERE levenshtein(head, h) <= {ED_MAX_DIST}
    """
    con = duckdb.connect()
    for label, rows in (("uniform", uniform_rows), ("skewed", skew_rows)):
        expect = sorted(
            map(
                tuple,
                con.execute(
                    sql, [f"{dirs[label]}/documents.parquet"]
                ).fetchall(),
            )
        )
        assert rows == expect, f"{label}: SNM pairs diverge from replica"
    con.close()

    assert skew_t <= 10.0 * uniform_t + 5.0, (
        f"skewed SNM wall time {skew_t:.2f}s vs uniform {uniform_t:.2f}s — "
        "super-linear behavior under block skew"
    )


def test_state_partitions_read_plan_size_for_uri_paths(
    spark, sf_medium, monkeypatch
):
    """The streaming state-partition count comes from the plan's size
    estimate, so a ``file://`` URI sizes exactly like the plain path —
    no filesystem probe that could fall back to full width. The count
    is scoped to ``.start()``: while the query runs, the session's own
    ``spark.sql.shuffle.partitions`` is already back."""
    from geektime_bigdata_spark.streaming import windows

    session_parts = spark.conf.get("spark.sql.shuffle.partitions")
    started = []
    await_or_raise = windows._await_or_raise

    def spy(q, timeout_sec):
        started.append(
            (q, q.isActive, spark.conf.get("spark.sql.shuffle.partitions"))
        )
        await_or_raise(q, timeout_sec)

    monkeypatch.setattr(windows, "_await_or_raise", spy)
    for path in (sf_medium, "file://" + sf_medium):
        windows.run_streaming_hourly_rollup(spark, path)
    assert len(started) == 2
    for q, active, parts_while_active in started:
        state_parts = {
            op["numShufflePartitions"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        }
        assert state_parts == {1}, state_parts
        assert active
        assert parts_while_active == session_parts


def test_spread_width_follows_input_bytes(spark, sf_medium):
    """``spread`` width = on-disk bytes / bytes_per_task, clamped to
    [1, defaultParallelism], for each of the three cost classes."""
    import os

    from geektime_bigdata_spark.registry import (
        ARROW_PASS_BYTES,
        ROW_WORK_BYTES,
        STATE_PARTITION_BYTES,
        spread,
        table,
    )

    size = os.path.getsize(os.path.join(sf_medium, "documents.parquet"))
    par = spark.sparkContext.defaultParallelism
    for q in (ROW_WORK_BYTES, ARROW_PASS_BYTES, STATE_PARTITION_BYTES):
        df = spread(table(spark, sf_medium, "documents"), q)
        assert df.rdd.getNumPartitions() == max(1, min(par, size // q)), q
