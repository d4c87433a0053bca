"""Custom Python Data Source (PySpark 4 ``pyspark.sql.datasource``).

Re-expresses the reference's positional tab-separated text IO
(homework-1 TextInputFormat at Main.java:30, ``key\\tv1\\tv2\\tv3``
sink at MyReduce.java:30) as a first-class DataSource V2 implementation
instead of the built-in csv reader in :mod:`textio` — completing the
§2.1 source surface with the one PySpark-4 API the repo did not yet
exercise.  What the built-in reader cannot show, this one does
explicitly:

- **Split planning** (``partitions``): each file is divided into
  byte-range splits of ``split_size`` bytes, newline-aligned at read
  time with the classic HDFS rule — a split owns every line that
  STARTS inside ``[start, end)``; a reader seeks to ``start``, skips
  the partial first line unless at offset 0, and reads one line past
  ``end`` to finish the record it owns.  Parallelism therefore scales
  with bytes, not file count — one 100 GB log fans out across the
  cluster exactly like Spark's own FileScan.
- **Filter pushdown** (``pushFilters``): EqualTo / In / IsNotNull on
  any column are consumed and applied inside the scan (on the raw
  string field, before type conversion), so filtered rows never cross
  the Python->JVM boundary; every other filter is returned for Spark
  to evaluate.
- **Vectorized transfer**: ``read`` yields pyarrow RecordBatches
  (~``BATCH_ROWS`` rows), not per-row tuples — the Arrow path the
  datasource API shares with pandas UDFs.
- **Transactional sink** (``GbsTsvWriter``): each task writes an
  exclusive part file and returns a commit message; ``commit`` sees
  all of them, ``abort`` removes partials — the two-phase commit
  contract Spark's own FileCommitProtocol implements.

Scale honesty: paths are opened with plain ``open()`` — on a real
cluster this source points at a shared filesystem mount (NFS/fuse);
an object-store deployment would swap in fsspec handles in
``_open_at`` without touching the planning or pushdown logic.
"""

from __future__ import annotations

import glob
import os
import threading
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING, Any, Iterable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    IsNotNull,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

BATCH_ROWS = 4096
DEFAULT_SPLIT = 32 * 1024 * 1024  # 32 MiB splits, like a small HDFS block

_NULL = ""  # empty field encodes NULL, mirroring the csv sink's default


@dataclass
class _Split(InputPartition):
    path: str
    start: int
    end: int  # exclusive byte bound; lines STARTING in [start,end) are ours


@dataclass
class _TsvCommit(WriterCommitMessage):
    part_file: str
    n_rows: int


def _list_files(path: str) -> list[str]:
    """Driver-side recursive listing, smallest-lexicographic order so the
    planning is deterministic. Directories of part files and single files
    both work (the same contract as Spark's file index)."""
    if os.path.isfile(path):
        return [path]
    out: list[str] = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):  # commit markers / hidden
                continue
            out.append(os.path.join(root, n))
    return sorted(out)


def _convert(field_type: str, raw: str) -> Any:
    if raw == _NULL:
        return None
    if field_type in ("bigint", "long", "int", "integer", "smallint"):
        return int(raw)
    if field_type in ("double", "float"):
        return float(raw)
    return raw


class _GbsTsvReader(DataSourceReader):
    """Byte-range-split TSV reader with Python-side filter pushdown."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("gbs_tsv requires a path")
        self._split_size = int(options.get("split_size", DEFAULT_SPLIT))
        self._names = [f.name for f in schema.fields]
        self._types = [f.dataType.simpleString() for f in schema.fields]
        # filters consumed by pushFilters, as (column_index, allowed_set |
        # None-for-isnotnull) — applied on raw string fields during scan
        self._pushed: list[tuple[int, frozenset[str] | None]] = []

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        # NOT a generator: the consumed/unconsumed split must be decided
        # eagerly, before Spark inspects the returned remainder
        rest: list[Filter] = []
        for flt in filters:
            idx: int | None = None
            attr = getattr(flt, "attribute", None)
            if attr and len(attr) == 1 and attr[0] in self._names:
                idx = self._names.index(attr[0])
            # EqualTo/In compare against the RAW string field, which is
            # only value-faithful for string columns ("1.50" vs "1.5"
            # would false-negative a double); numeric equality filters
            # are therefore left to Spark. IsNotNull is type-agnostic:
            # NULL is the empty field for every type.
            if idx is None or (
                self._types[idx] != "string"
                and not isinstance(flt, IsNotNull)
            ):
                rest.append(flt)
            elif isinstance(flt, EqualTo):
                # '' is this format's NULL encoding and None has no raw
                # representation: SQL says col = NULL / col = '' must
                # never match a NULL row, but the raw-string compare
                # can't tell '' apart from NULL — leave those to Spark
                # (a consumed filter is never re-checked).
                if flt.value is None or flt.value == "":
                    rest.append(flt)
                else:
                    self._pushed.append((idx, frozenset({str(flt.value)})))
            elif isinstance(flt, In):
                # None would stringify to 'None' and wrongly match rows
                # whose value is the literal string 'None'; '' would
                # match NULL-encoded rows. Either poisons the whole set.
                if any(v is None or v == "" for v in flt.value):
                    rest.append(flt)
                else:
                    self._pushed.append(
                        (idx, frozenset(str(v) for v in flt.value))
                    )
            elif isinstance(flt, IsNotNull):
                self._pushed.append((idx, None))
            else:
                rest.append(flt)  # unsupported shape: Spark evaluates it
        return rest

    def partitions(self) -> list[InputPartition]:
        splits: list[InputPartition] = []
        for f in _list_files(self._path):
            size = os.path.getsize(f)
            if size == 0:
                continue
            start = 0
            while start < size:
                end = min(start + self._split_size, size)
                splits.append(_Split(f, start, end))
                start = end
        # zero input files is a valid empty relation
        return splits or [_Split("", 0, 0)]

    def _keep(self, fields: list[str]) -> bool:
        for idx, allowed in self._pushed:
            raw = fields[idx] if idx < len(fields) else _NULL
            if allowed is None:
                if raw == _NULL:
                    return False
            elif raw not in allowed:
                return False
        return True

    def _owned_bytes(self, partition: _Split) -> bytes:
        """The split's owned byte range as one buffer: aligned at a
        clean line start, extended through the end of the last line
        that STARTS before ``end`` — identical ownership to the
        line-loop (Hadoop LineRecordReader) semantics."""
        with open(partition.path, "rb") as fh:
            # Hadoop LineRecordReader alignment: seek to start-1 and
            # consume one line. If byte start-1 is '\n' that consumes
            # exactly the newline and we sit on a clean line start; if
            # it's mid-line, the broken tail (owned by the previous
            # split) is skipped. Seeking to `start` and skipping
            # unconditionally would LOSE a line whenever a split
            # boundary lands exactly on a line start.
            if partition.start > 0:
                fh.seek(partition.start - 1)
                fh.readline()
            else:
                fh.seek(0)
            start = fh.tell()
            if start >= partition.end:
                return b""  # split fell entirely inside one line
            buf = fh.read(partition.end - start)
            # the last line starting before `end` is owned in full; if
            # the buffer was cut mid-line, append the remainder (a
            # buffer already ending in a newline owns nothing more)
            if buf and not buf.endswith(b"\n"):
                buf += fh.readline()
        return buf

    def read(self, partition: _Split) -> Iterator["pa.RecordBatch"]:
        """Vectorized split scan (r17, guide §4.2): the owned byte range
        parses through ``pyarrow.csv`` (tab delimiter, quoting OFF so a
        field is exactly the between-tabs bytes like the line loop, ''
        as NULL for every type) and pushed filters apply columnar via
        ``pyarrow.compute`` — measured ~10x less Python CPU per split
        than the row loop. Any parse irregularity (ragged rows, bad
        numerics) falls back to :meth:`_read_rows`, the original
        row-at-a-time loop with identical semantics."""
        import pyarrow as pa
        from pyarrow import csv as pacsv

        if not partition.path:
            return
        buf = self._owned_bytes(partition)
        if not buf:
            return
        try:
            table = pacsv.read_csv(
                pa.BufferReader(buf),
                read_options=pacsv.ReadOptions(column_names=self._names),
                parse_options=pacsv.ParseOptions(
                    delimiter="\t",
                    quote_char=False,
                    escape_char=False,
                    # an all-NULL single-column row writes as an empty
                    # line; the row loop yields it as a NULL row, so the
                    # vectorized path must not skip it (multi-column
                    # schemas hit ArrowInvalid instead -> row fallback,
                    # which pads exactly like before)
                    ignore_empty_lines=False,
                ),
                convert_options=pacsv.ConvertOptions(
                    column_types={
                        n: _arrow_type(t)
                        for n, t in zip(self._names, self._types)
                    },
                    null_values=[""],
                    strings_can_be_null=True,
                ),
            )
        except pa.ArrowInvalid:
            yield from self._read_rows(partition)
            return
        if self._pushed:
            import pyarrow.compute as pc

            mask = None
            for idx, allowed in self._pushed:
                col = table.column(idx)
                if allowed is None:
                    m = pc.is_valid(col)
                else:
                    m = pc.fill_null(
                        pc.is_in(
                            col,
                            value_set=pa.array(
                                sorted(allowed), type=pa.string()
                            ),
                        ),
                        False,
                    )
                mask = m if mask is None else pc.and_(mask, m)
            table = table.filter(mask)
        for batch in table.to_batches():
            if batch.num_rows:
                yield batch

    def _read_rows(self, partition: _Split) -> Iterator["pa.RecordBatch"]:
        """Row-at-a-time fallback scan — the original loop, kept for
        inputs pyarrow.csv rejects (ragged rows, unparsable numerics):
        short rows pad with NULL, extra fields are ignored."""
        import pyarrow as pa

        cols: list[list[Any]] = [[] for _ in self._names]
        arrow_schema = pa.schema(
            [
                (n, _arrow_type(t))
                for n, t in zip(self._names, self._types)
            ]
        )

        def flush() -> "pa.RecordBatch":
            batch = pa.RecordBatch.from_arrays(
                [
                    pa.array(c, type=arrow_schema.field(i).type)
                    for i, c in enumerate(cols)
                ],
                schema=arrow_schema,
            )
            for c in cols:
                c.clear()
            return batch

        with open(partition.path, "rb") as fh:
            # split alignment: see _owned_bytes
            if partition.start > 0:
                fh.seek(partition.start - 1)
                fh.readline()
            else:
                fh.seek(0)
            while fh.tell() < partition.end:
                line = fh.readline()
                if not line:
                    break
                fields = line.decode("utf-8").rstrip("\r\n").split("\t")
                if not self._keep(fields):
                    continue
                for i, t in enumerate(self._types):
                    raw = fields[i] if i < len(fields) else _NULL
                    cols[i].append(_convert(t, raw))
                if len(cols[0]) >= BATCH_ROWS:
                    yield flush()
        if cols and cols[0]:
            yield flush()


def _arrow_type(simple: str) -> Any:
    """Spark simpleString -> pyarrow type. A pure function (NOT a
    module-level cache): the reader is re-pickled into worker processes
    where module globals start empty."""
    import pyarrow as pa

    return {
        "bigint": pa.int64(),
        "int": pa.int32(),
        "smallint": pa.int16(),
        "double": pa.float64(),
        "float": pa.float32(),
        "string": pa.string(),
    }[simple]


def _batch_lines(batch: "pa.RecordBatch", types: list[str]) -> list[str]:
    """Format one Arrow record batch as TSV lines (r17, guide §4.2).

    Integer/string columns format columnar (``pc.cast`` to string +
    NULL -> '' fill — byte-identical to ``str(int)``/the raw string);
    any other column type falls back to per-row ``str()`` over
    ``to_pylist()`` values, which are the same Python objects the old
    Row iterator carried, so formatting is unchanged for every type."""
    import pyarrow as pa
    import pyarrow.compute as pc

    vectorizable = {"bigint", "int", "smallint", "string"}
    if all(t in vectorizable for t in types):
        cols = []
        for i in range(batch.num_columns):
            c = batch.column(i)
            if not pa.types.is_string(c.type):
                c = pc.cast(c, pa.string())
            cols.append(pc.fill_null(c, _NULL))
        if len(cols) == 1:
            return cols[0].to_pylist()
        return pc.binary_join_element_wise(*cols, "\t").to_pylist()
    pylists = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
    return [
        "\t".join(_NULL if v is None else str(v) for v in row)
        for row in zip(*pylists)
    ]


class GbsTsvWriter(DataSourceArrowWriter):
    """Two-phase-commit TSV sink: one exclusive part file per task.
    Arrow-based since r17: tasks receive record batches and format
    integer/string columns columnar (see :func:`_batch_lines`) instead
    of looping Python ``Row`` objects."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("gbs_tsv requires a path")
        self._types = [f.dataType.simpleString() for f in schema.fields]
        self._overwrite = overwrite
        self._run_id = uuid.uuid4().hex[:12]

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> _TsvCommit:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self._path, exist_ok=True)
        part = os.path.join(
            self._path, f"part-{pid:05d}-{self._run_id}.tsv"
        )
        n = 0
        with open(part, "w", encoding="utf-8") as fh:
            for batch in iterator:
                lines = _batch_lines(batch, self._types)
                if lines:
                    fh.write("\n".join(lines))
                    fh.write("\n")
                    n += len(lines)
        return _TsvCommit(part, n)

    def commit(self, messages: list[_TsvCommit]) -> None:
        keep = {m.part_file for m in messages if m is not None}
        if self._overwrite:
            for f in _list_files(self._path):
                if f not in keep:
                    os.remove(f)
        marker = os.path.join(self._path, "_SUCCESS")
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write(f"{sum(m.n_rows for m in messages if m)}\n")

    def abort(self, messages: list[_TsvCommit]) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.part_file):
                os.remove(m.part_file)


class _GbsTsvStreamReader(DataSourceStreamReader):
    """Micro-batch stream reader over an append-only TSV directory —
    the FileStreamSource discipline re-expressed through the Python
    datasource API: an offset is the SET of files already admitted
    (files are immutable once visible; appends arrive as new part
    files, exactly what :class:`GbsTsvWriter` and Spark's own sinks
    produce). ``partitions(start, end)`` plans the delta file set into
    the same byte-range splits as the batch reader, so per-batch
    parallelism scales with new bytes, not new-file count.

    Offsets are JSON dicts (``{"seen": [names...]}``) — replayable: a
    restarted query re-plans exactly the files between the checkpointed
    start and end offsets, Structured Streaming's exactly-once source
    contract."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self._inner = _GbsTsvReader(schema, options)
        self._path = self._inner._path

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        return {"seen": [os.path.relpath(f, self._path) for f in _list_files(self._path)]}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        new = sorted(set(end.get("seen", ())) - set(start.get("seen", ())))
        splits: list[InputPartition] = []
        for rel in new:
            f = os.path.join(self._path, rel)
            if not os.path.isfile(f):
                continue  # checkpointed file vanished: skip, don't fail
            size = os.path.getsize(f)
            pos = 0
            while pos < size:
                endb = min(pos + self._inner._split_size, size)
                splits.append(_Split(f, pos, endb))
                pos = endb
        return splits or [_Split("", 0, 0)]

    def read(self, partition: _Split) -> Iterator["pa.RecordBatch"]:
        return self._inner.read(partition)

    def commit(self, end: dict) -> None:
        pass  # files are immutable; nothing to release


class GbsTsvStreamWriter(DataSourceStreamArrowWriter):
    """Streaming TSV sink: per-(batch, task) exclusive part files with
    the same two-phase commit as the batch writer — ``commit(batch_id)``
    publishes a per-batch ``_SUCCESS.<id>`` marker; ``abort`` removes
    that batch's partials. Exactly-once at the file level comes from the
    deterministic (batch_id, partition_id) part naming: a replayed batch
    overwrites its own files instead of duplicating them. Arrow-based
    since r17 (same columnar formatting as the batch sink)."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self._path = options.get("path")
        if not self._path:
            raise ValueError("gbs_tsv requires a path")
        self._types = [f.dataType.simpleString() for f in schema.fields]

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> _TsvCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        batch_id = ctx.getLocalProperty("streaming.sql.batchId") or "0"
        os.makedirs(self._path, exist_ok=True)
        part = os.path.join(
            self._path, f"batch-{int(batch_id):06d}-part-{pid:05d}.tsv"
        )
        n = 0
        with open(part, "w", encoding="utf-8") as fh:
            for batch in iterator:
                lines = _batch_lines(batch, self._types)
                if lines:
                    fh.write("\n".join(lines))
                    fh.write("\n")
                    n += len(lines)
        return _TsvCommit(part, n)

    def commit(self, messages: list[_TsvCommit], batchId: int) -> None:
        # A crashed prior attempt of this batch (no abort() ran) may
        # have left part files from partitions this replay doesn't
        # have (fewer partitions on retry). Deterministic names make
        # the batch's file set enumerable: remove any batch-{id}-part-*
        # not in this attempt's commit messages BEFORE publishing the
        # marker, or readers would double-count the strays.
        committed = {
            os.path.basename(m.part_file) for m in messages if m is not None
        }
        prefix = os.path.join(self._path, f"batch-{batchId:06d}-part-*.tsv")
        for stray in glob.glob(prefix):
            if os.path.basename(stray) not in committed:
                os.remove(stray)
        marker = os.path.join(self._path, f"_SUCCESS.{batchId}")
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write(f"{sum(m.n_rows for m in messages if m)}\n")

    def abort(self, messages: list[_TsvCommit], batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.part_file):
                os.remove(m.part_file)


class GbsTsvDataSource(DataSource):
    """``spark.read.format("gbs_tsv")`` / ``df.write.format("gbs_tsv")``.

    User-supplied schema is required for reads (positional TSV carries
    none), exactly like the reference's positional ``words[i]`` access —
    except typed and planned."""

    @classmethod
    def name(cls) -> str:
        return "gbs_tsv"

    def schema(self) -> str:
        # reads must supply .schema(); this default only serves
        # schema-less smoke reads
        return "value string"

    def reader(self, schema: StructType) -> DataSourceReader:
        return _GbsTsvReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return GbsTsvWriter(schema, self.options, overwrite)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _GbsTsvStreamReader(schema, self.options)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return GbsTsvStreamWriter(schema, self.options)


def tsv_roundtrip_stats(spark, sf_dir: str):
    """Driver surface proving the datasource end-to-end: events project
    to an all-integer TSV (``floor(value*1e6+0.5)`` micro-units — the
    repo's hashed-contract rule), write through :class:`GbsTsvWriter`,
    read back through the split-planned pushdown reader with an ``IN``
    filter that the scan consumes Python-side, and aggregate. The oracle
    computes the same aggregate straight off the parquet — so a bug in
    split alignment (dropped/duplicated boundary lines), filter
    pushdown, NULL encoding, or type conversion flips the row counts or
    the integer sums.

    The result is materialized and re-created as a local DataFrame
    before the scratch directory is removed (same lifecycle rule as the
    streaming upsert sink's state dir — ADVICE r2)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from geektime_bigdata_spark.functions import lift_collected
    from geektime_bigdata_spark.registry import table

    register(spark)
    scratch = tempfile.mkdtemp(prefix="gbs_pyds_")
    try:
        e = table(spark, sf_dir, "events")
        proj = e.select(
            "user_id",
            "event_type",
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("value_micros"),
        # r17 (guide §4 — size the Python boundary): the events scan is
        # one partition locally, so the row-formatting Python writer ran
        # as ONE task. Fan-out is BOUNDED — the write is row-bound
        # Python work with real per-task worker overhead (measured at
        # sf0.1: 1 task 1.04 s wall / 1.5 CPU-s; 4-8 tasks 0.63 s /
        # ~2 CPU-s; 32 tasks 0.81 s / 9.3 CPU-s — over-fan-out burns CPU
        # for nothing). r18 tightened 8 -> 4: within the 4-8 plateau,
        # 4 halves the Python task count of every downstream leg (sink
        # tasks = source splits; readback tasks = sink files) — the
        # fan/split A/B read totals 3.3-3.7 s at fan 4 vs 3.4-4.4 at
        # fan 8, identical results. Row-to-file assignment changes, but
        # the read-back aggregate (and the parquet-side oracle) is
        # partition-agnostic.
        ).repartition(min(4, spark.sparkContext.defaultParallelism))
        proj.write.format("gbs_tsv").mode("overwrite").save(scratch)
        back = (
            spark.read.format("gbs_tsv")
            .schema("user_id long, event_type string, value_micros long")
            .option("split_size", str(256 * 1024))  # force multi-split
            .load(scratch)
            .filter(F.col("event_type").isin("click", "purchase"))
        )
        out = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_micros").alias("sum_value_micros"),
            F.countDistinct("user_id").alias("n_users"),
        )
        return lift_collected(spark, out)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def stream_roundtrip_stats(spark, sf_dir: str):
    """Driver surface for the STREAMING quadrants of the datasource:
    events project to integer-micro TSV, a ``readStream`` over the
    directory drains via ``availableNow`` through the per-batch
    committed stream sink, and the sink directory is batch-read back
    and aggregated. The oracle aggregates the same projection straight
    off the parquet — any dropped/duplicated batch, split, or row
    breaks the integer sums. Scratch dirs removed after
    materialization."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from geektime_bigdata_spark.functions import lift_collected
    from geektime_bigdata_spark.registry import table
    from geektime_bigdata_spark.streaming.windows import _await_or_raise

    register(spark)
    root = tempfile.mkdtemp(prefix="gbs_pyds_stream_")
    src, out, ckpt = (os.path.join(root, d) for d in ("src", "out", "ckpt"))
    ddl = "user_id long, event_type string, value_micros long"
    try:
        e = table(spark, sf_dir, "events")
        proj = e.select(
            "user_id",
            "event_type",
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("value_micros"),
        # bounded parallel source-write leg — same measured sizing as
        # tsv_roundtrip_stats (r17, tightened r18); the streaming reader
        # re-splits by byte range, so downstream batch parallelism is
        # unchanged. r18 floor decomposition (VERDICT item 3 probe,
        # progress-instrumented): warm drain = ~1.3 s Python
        # stream-runner startup/stop (per-query, cannot amortize) +
        # ~1.0 s addBatch (Python read+write tasks); walCommit +
        # commitOffsets ~0.12 s; split_size 256KB->4MB and fan 8->2
        # together move the total by <= 0.4 s — the micro-batch
        # machinery is the floor, as documented in r17.
        ).repartition(min(4, spark.sparkContext.defaultParallelism))
        proj.write.format("gbs_tsv").mode("overwrite").save(src)
        stream = (
            spark.readStream.format("gbs_tsv")
            .schema(ddl)
            .option("split_size", str(256 * 1024))
            .load(src)
        )
        q = (
            stream.writeStream.format("gbs_tsv")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q, 300)
        back = spark.read.format("gbs_tsv").schema(ddl).load(out)
        res = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_micros").alias("sum_value_micros"),
        )
        return lift_collected(spark, res)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_REGISTER_LOCK = threading.Lock()


def register(spark) -> None:
    """Idempotent registration of the datasource under ``gbs_tsv``.

    Python-datasource filter pushdown ships behind a flag (readers
    implementing ``pushFilters`` refuse to plan without it); it is a
    runtime-settable SQL conf, enabled here so registration is the one
    call a session needs.

    The JVM resolves ``format("gbs_tsv")`` through the calling thread's
    active session, which is thread-local and unset on a fresh thread,
    so registration makes ``spark`` active on the caller. Registering
    is check-then-put in the JVM: a first registration racing another
    thread's sees the name resolve mid-check and raises
    DATA_SOURCE_ALREADY_EXISTS, hence the lock."""
    spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    with _REGISTER_LOCK:
        spark.dataSource.register(GbsTsvDataSource)
