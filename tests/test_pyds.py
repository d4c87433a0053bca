"""Python DataSource V2 (sources/pyds.py): split planning, filter
pushdown, two-phase-commit sink — unit tests on the reader/writer
classes plus end-to-end Spark round trips. The oracle-parity test for
``pyds_tsv_roundtrip`` covers the driver surface; these pin the
mechanics that a hash-match can't localize (boundary lines, NULL
encoding, commit/abort file lifecycle)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In, IsNotNull
from pyspark.sql.types import LongType, StringType, StructField, StructType

from geektime_bigdata_spark.sources import pyds

# built structurally, not via fromDDL — DDL parsing needs a live session
# and this module must import before the spark fixture exists
SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value_micros", LongType()),
    ]
)

ROWS = [
    (1, "click", 100),
    (2, "view", 200),
    (3, "click", None),
    (4, "purchase", 50),
    (5, "view", 7),
]


def _write_tsv(path: str, rows) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(
                "\t".join("" if v is None else str(v) for v in r) + "\n"
            )


def _read_all(reader) -> list[tuple]:
    out = []
    for part in reader.partitions():
        for batch in reader.read(part):
            out.extend(
                tuple(batch.column(i)[j].as_py() for i in range(batch.num_columns))
                for j in range(batch.num_rows)
            )
    return sorted(out, key=str)


def test_split_alignment_never_drops_or_duplicates(tmp_path):
    """Every line is owned by exactly ONE split regardless of split
    size — including sizes that cut lines mid-byte."""
    f = tmp_path / "data.tsv"
    _write_tsv(str(f), ROWS)
    baseline = None
    for split in (1, 3, 7, 10, 1 << 20):
        r = pyds._GbsTsvReader(
            SCHEMA, {"path": str(f), "split_size": str(split)}
        )
        got = _read_all(r)
        if baseline is None:
            baseline = got
        assert got == baseline, f"split_size={split} changed the rowset"
    assert len(baseline) == len(ROWS)


def test_split_planning_scales_with_bytes(tmp_path):
    f = tmp_path / "data.tsv"
    _write_tsv(str(f), ROWS * 50)
    size = os.path.getsize(str(f))
    r = pyds._GbsTsvReader(SCHEMA, {"path": str(f), "split_size": "64"})
    parts = r.partitions()
    assert len(parts) == -(-size // 64)  # ceil-division coverage
    # contiguous, non-overlapping, exhaustive
    assert parts[0].start == 0 and parts[-1].end == size
    for a, b in zip(parts, parts[1:]):
        assert a.end == b.start


def test_push_filters_consumed_vs_returned(tmp_path):
    f = tmp_path / "data.tsv"
    _write_tsv(str(f), ROWS)
    r = pyds._GbsTsvReader(SCHEMA, {"path": str(f)})
    flt_eq = EqualTo(("event_type",), "click")
    flt_gt = GreaterThan(("value_micros",), 10)  # numeric: NOT consumed
    flt_nn = IsNotNull(("value_micros",))
    flt_num_eq = EqualTo(("user_id",), 3)  # numeric equality: NOT consumed
    rest = list(r.pushFilters([flt_eq, flt_gt, flt_nn, flt_num_eq]))
    assert rest == [flt_gt, flt_num_eq]
    got = _read_all(r)
    # consumed: event_type = 'click' AND value_micros IS NOT NULL
    assert got == [(1, "click", 100)]


def test_push_filter_in_list(tmp_path):
    f = tmp_path / "data.tsv"
    _write_tsv(str(f), ROWS)
    r = pyds._GbsTsvReader(SCHEMA, {"path": str(f)})
    assert list(r.pushFilters([In(("event_type",), ("view", "purchase"))])) == []
    assert [t[0] for t in _read_all(r)] == [2, 4, 5]


def test_null_roundtrip_and_types(spark, tmp_path):
    d = str(tmp_path / "rt")
    pyds.register(spark)
    df = spark.createDataFrame(ROWS, SCHEMA)
    df.write.format("gbs_tsv").mode("overwrite").save(d)
    assert os.path.exists(os.path.join(d, "_SUCCESS"))
    back = (
        spark.read.format("gbs_tsv").schema(SCHEMA).load(d)
    )
    assert sorted(map(tuple, back.collect()), key=str) == sorted(
        ROWS, key=str
    )
    assert [f.dataType.simpleString() for f in back.schema.fields] == [
        "bigint",
        "string",
        "bigint",
    ]


def test_spark_filter_pushdown_end_to_end(spark, tmp_path):
    """A catalyst EqualTo on a string column must survive the Python
    pushdown path and produce exactly the matching rows (numeric
    predicates are evaluated by Spark on top)."""
    d = str(tmp_path / "flt")
    pyds.register(spark)
    spark.createDataFrame(ROWS, SCHEMA).write.format("gbs_tsv").mode(
        "overwrite"
    ).save(d)
    back = (
        spark.read.format("gbs_tsv")
        .schema(SCHEMA)
        .load(d)
        .filter((F.col("event_type") == "click") & (F.col("value_micros") > 10))
    )
    assert [tuple(r) for r in back.collect()] == [(1, "click", 100)]


def test_overwrite_replaces_prior_parts(spark, tmp_path):
    d = str(tmp_path / "ow")
    pyds.register(spark)
    df1 = spark.createDataFrame(ROWS, SCHEMA)
    df1.write.format("gbs_tsv").mode("overwrite").save(d)
    df2 = spark.createDataFrame(ROWS[:2], SCHEMA).coalesce(1)
    df2.write.format("gbs_tsv").mode("overwrite").save(d)
    back = spark.read.format("gbs_tsv").schema(SCHEMA).load(d)
    assert sorted(map(tuple, back.collect()), key=str) == sorted(
        ROWS[:2], key=str
    )


def test_abort_removes_partials(tmp_path):
    w = pyds.GbsTsvWriter(SCHEMA, {"path": str(tmp_path)}, overwrite=True)
    p = tmp_path / "part-zzz.tsv"
    p.write_text("1\tx\t2\n")
    w.abort([pyds._TsvCommit(str(p), 1), None])
    assert not p.exists()


def test_empty_directory_is_empty_relation(spark, tmp_path):
    d = str(tmp_path / "empty")
    os.makedirs(d)
    pyds.register(spark)
    back = spark.read.format("gbs_tsv").schema(SCHEMA).load(d)
    assert back.count() == 0


@pytest.mark.parametrize("missing", ["path"])
def test_missing_path_raises(missing):
    with pytest.raises(Exception):
        pyds._GbsTsvReader(SCHEMA, {}).partitions()


def test_stream_reader_incremental_offsets(tmp_path):
    """Offsets are file sets; partitions(start, end) plans exactly the
    delta files, split into byte ranges."""
    d = tmp_path / "stream"
    d.mkdir()
    _write_tsv(str(d / "a.tsv"), ROWS[:2])
    r = pyds._GbsTsvStreamReader(SCHEMA, {"path": str(d)})
    assert r.initialOffset() == {"seen": []}
    off1 = r.latestOffset()
    assert off1 == {"seen": ["a.tsv"]}
    parts = r.partitions({"seen": []}, off1)
    got = []
    for p in parts:
        for b in r.read(p):
            got.extend(
                tuple(b.column(i)[j].as_py() for i in range(b.num_columns))
                for j in range(b.num_rows)
            )
    assert sorted(got, key=str) == sorted(ROWS[:2], key=str)
    # no new files -> empty (sentinel) plan between equal offsets
    parts2 = r.partitions(off1, off1)
    assert all(not p.path for p in parts2)
    # a new file is the only thing the next delta plans
    _write_tsv(str(d / "b.tsv"), ROWS[2:3])
    off2 = r.latestOffset()
    parts3 = r.partitions(off1, off2)
    assert [os.path.basename(p.path) for p in parts3] == ["b.tsv"]


def test_streaming_roundtrip_exactly_once(spark, tmp_path):
    """availableNow drain -> stream sink -> batch read equals the input;
    a second run from the same checkpoint appends ONLY new files."""
    src, out, ckpt = (str(tmp_path / n) for n in ("src", "out", "ckpt"))
    os.makedirs(src)
    pyds.register(spark)
    _write_tsv(os.path.join(src, "a.tsv"), ROWS[:2])
    ddl_schema = SCHEMA

    def drain():
        q = (
            spark.readStream.format("gbs_tsv")
            .schema(ddl_schema)
            .load(src)
            .writeStream.format("gbs_tsv")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    back = spark.read.format("gbs_tsv").schema(ddl_schema).load(out)
    assert sorted(map(tuple, back.collect()), key=str) == sorted(
        ROWS[:2], key=str
    )
    _write_tsv(os.path.join(src, "b.tsv"), ROWS[2:])
    drain()
    back2 = spark.read.format("gbs_tsv").schema(ddl_schema).load(out)
    assert sorted(map(tuple, back2.collect()), key=str) == sorted(
        ROWS, key=str
    )
    # per-batch success markers, one per committed micro-batch
    markers = sorted(f for f in os.listdir(out) if f.startswith("_SUCCESS."))
    assert len(markers) >= 2


def test_no_trailing_newline_last_line_owned(tmp_path):
    """A final line without a trailing newline must still be read
    exactly once at every split size — readline() returns it without
    the terminator and the split loop must not drop it."""
    f = tmp_path / "data.tsv"
    with open(f, "w", encoding="utf-8") as fh:
        fh.write("1\tclick\t100\n2\tview\t200")  # no final \n
    for split in (1, 4, 9, 1 << 20):
        r = pyds._GbsTsvReader(
            SCHEMA, {"path": str(f), "split_size": str(split)}
        )
        assert _read_all(r) == [(1, "click", 100), (2, "view", 200)], split

def test_push_filter_null_poison_returned_to_spark(tmp_path):
    """'' encodes NULL in this format and None stringifies to 'None':
    EqualTo/In carrying either value must be RETURNED to Spark (a
    consumed filter is never re-checked), or NULL rows would wrongly
    match col = '' and string-'None' rows would match In(..., None)."""
    f = tmp_path / "data.tsv"
    _write_tsv(
        str(f),
        [(1, "click", 100), (2, None, 200), (3, "None", 300)],
    )
    r = pyds._GbsTsvReader(SCHEMA, {"path": str(f)})
    flt_empty = EqualTo(("event_type",), "")
    flt_none_in = In(("event_type",), ("click", None))
    flt_empty_in = In(("event_type",), ("click", ""))
    rest = list(r.pushFilters([flt_empty, flt_none_in, flt_empty_in]))
    assert rest == [flt_empty, flt_none_in, flt_empty_in]
    # nothing consumed: the scan returns every row for Spark to filter
    assert [t[0] for t in _read_all(r)] == [1, 2, 3]
    # and a clean consumed filter still drops the NULL row (SQL: a
    # NULL never satisfies equality)
    r2 = pyds._GbsTsvReader(SCHEMA, {"path": str(f)})
    assert list(r2.pushFilters([In(("event_type",), ("click", "None"))])) == []
    assert [t[0] for t in _read_all(r2)] == [1, 3]


def test_stream_commit_removes_stale_replay_parts(tmp_path):
    """A crashed attempt may strand part files from partitions the
    replay doesn't have; commit() must sweep any batch-{id}-part-* not
    in its commit messages before publishing _SUCCESS (ADVICE r3)."""
    d = tmp_path / "sink"
    os.makedirs(d)
    # stale files from a crashed 4-partition attempt of batch 7
    for pid in range(4):
        (d / f"batch-{7:06d}-part-{pid:05d}.tsv").write_text("stale\n")
    # a different batch's file must survive the sweep
    (d / f"batch-{6:06d}-part-{0:05d}.tsv").write_text("keep\n")
    w = pyds.GbsTsvStreamWriter(SCHEMA, {"path": str(d)})
    # replay of batch 7 ran with TWO partitions and rewrote 0 and 1
    kept = [
        pyds._TsvCommit(str(d / f"batch-{7:06d}-part-{pid:05d}.tsv"), 1)
        for pid in range(2)
    ]
    for m in kept:
        open(m.part_file, "w").write("fresh\n")
    w.commit(kept, 7)
    names = sorted(os.listdir(d))
    assert names == [
        "_SUCCESS.7",
        "batch-000006-part-00000.tsv",
        "batch-000007-part-00000.tsv",
        "batch-000007-part-00001.tsv",
    ]


def test_tsv_roundtrip_off_main_thread_matches_oracle(spark, sf_dir):
    """``gbs_tsv`` resolves from a worker thread, whose JVM active
    session starts unset, and the round trip still matches its oracle."""
    import threading

    import __spark_entry__ as entrymod
    from tests.oracle import assert_matches_oracle, duckdb_connection

    out: dict = {}

    def run() -> None:
        try:
            out["df"] = pyds.tsv_roundtrip_stats(spark, sf_dir)
        except Exception as exc:  # re-raised on the test thread
            out["error"] = exc

    worker = threading.Thread(target=run)
    worker.start()
    worker.join(300)
    assert not worker.is_alive()
    assert "error" not in out, out["error"]
    con = duckdb_connection(sf_dir)
    try:
        sql = entrymod.oracle_sql()["pyds_tsv_roundtrip"]
        assert_matches_oracle(out["df"], con, sql, "pyds_tsv_roundtrip")
    finally:
        con.close()


def test_stream_roundtrip_timeout_raises_and_stops(spark, sf_dir, monkeypatch):
    """A drain that does not finish in time raises ``TimeoutError`` and
    stops the query instead of reading a partial sink."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    class StuckQuery:
        name = "stuck"
        stopped = False

        def awaitTermination(self, timeout=None):
            return False

        def stop(self):
            self.stopped = True

    q = StuckQuery()
    monkeypatch.setattr(DataStreamWriter, "start", lambda self, *a, **k: q)
    with pytest.raises(TimeoutError):
        pyds.stream_roundtrip_stats(spark, sf_dir)
    assert q.stopped


def test_concurrent_first_registration_never_collides(spark):
    """Eight threads registering ``gbs_tsv`` at once on a fresh session
    all succeed: without serialization one of them sees the other's
    half-finished registration and raises DATA_SOURCE_ALREADY_EXISTS."""
    import threading

    errors: list = []
    for _ in range(10):
        fresh = spark.newSession()
        barrier = threading.Barrier(8, timeout=60)

        def run() -> None:
            barrier.wait()
            try:
                pyds.register(fresh)
            except Exception as exc:  # collected and asserted below
                errors.append(exc)

        threads = [threading.Thread(target=run) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
    assert errors == []
