"""In-process query profile: the one way the engine attributes Spark
work to a query, read from Spark's own status stores (no UI, no port).

``profile(spark, run)`` calls ``run()`` and returns one JSON-ready
record of the Spark work submitted meanwhile:

- **jobs**: a job-id window (DAGScheduler's next job id before and
  after, read with the listener bus drained), so the jobs Structured
  Streaming submits from its own thread count; a job-group count misses
  them. The window is session-wide: other threads' jobs count too.
- **stages**: one row per stage those jobs ran (executor CPU and run
  time, tasks, shuffle bytes, spill) from the core status store, plus
  totals. Skipped stages (shuffle output reused) and stages the store
  already evicted (``spark.ui.retainedStages``) are counted, not summed.
- **plan nodes**: for every SQL execution started in the window, each
  plan-graph node with its metric values from the SQL status store.

``_tree_cpu_seconds()`` reads the process-tree CPU that ``bench.py``
and the ``profile`` CLI verb take per-query deltas of.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

_DRAIN_MS = 60_000
_SUMMED = ("tasks", "executor_cpu_s", "executor_run_s",
           "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _stage_rows(store, stage_ids) -> tuple[list[dict], int, int]:
    """(rows of the stages that ran, skipped count, evicted count)."""
    rows, skipped, evicted = [], 0, 0
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError as e:
            name = e.java_exception.getClass().getName()
            if name != "java.util.NoSuchElementException":
                raise
            evicted += 1
            continue
        if str(st.status()) == "SKIPPED":
            skipped += 1
            continue
        rows.append({
            "stage": sid, "name": st.name(), "tasks": st.numTasks(),
            "executor_cpu_s": st.executorCpuTime() / 1e9,
            "executor_run_s": st.executorRunTime() / 1e3,
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        })
    return rows, skipped, evicted


def _execution_at(sql_store, index: int):
    return sql_store.executionsList(index, 1).apply(0)


def _plan_nodes(sql_store, execution_id: int) -> list[dict]:
    values = sql_store.executionMetrics(execution_id)  # accumulator id -> text
    nodes = []
    for node in _seq(sql_store.planGraph(execution_id).allNodes()):
        metrics = {}
        for m in _seq(node.metrics()):
            v = values.get(m.accumulatorId())
            if v.isDefined():
                metrics[m.name()] = v.get()
        nodes.append({"id": node.id(), "name": node.name(), "metrics": metrics})
    return nodes


def _executions_after(sql_store, after_id: int) -> list[dict]:
    """Every SQL execution with an id above ``after_id``, oldest first.
    The store lists executions by id, so they are the tail of its list."""
    out, n = [], sql_store.executionsCount()
    while n:
        n -= 1
        ex = _execution_at(sql_store, n)
        if ex.executionId() <= after_id:
            break
        out.append({"id": ex.executionId(), "description": ex.description(),
                    "nodes": _plan_nodes(sql_store, ex.executionId())})
    return out[::-1]


def profile(spark: SparkSession, run) -> dict:
    """Call ``run()`` and return the profile record of the Spark work
    submitted meanwhile (see the module docstring)."""
    sc = spark.sparkContext._jsc.sc()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    sc.listenerBus().waitUntilEmpty(_DRAIN_MS)
    first_job = sc.dagScheduler().nextJobId()
    n = sql_store.executionsCount()
    last_execution = _execution_at(sql_store, n - 1).executionId() if n else -1
    run()
    sc.listenerBus().waitUntilEmpty(_DRAIN_MS)
    job_ids = list(range(first_job, sc.dagScheduler().nextJobId()))

    infos = [spark.sparkContext.statusTracker().getJobInfo(j) for j in job_ids]
    stage_ids = {s for info in infos if info is not None for s in info.stageIds}
    rows, skipped, evicted = _stage_rows(sc.statusStore(), stage_ids)
    return {
        "jobs": len(job_ids),
        "job_ids": job_ids,
        "evicted_jobs": infos.count(None),
        "stages": len(rows),
        "skipped_stages": skipped,
        "evicted_stages": evicted,
        **{k: sum(r[k] for r in rows) for k in _SUMMED},
        "stage_rows": rows,
        "executions": _executions_after(sql_store, last_execution),
    }


def _tree_cpu_seconds() -> float | None:
    """Total CPU seconds (utime+stime, plus reaped-child cutime/cstime)
    consumed by THIS process and every live descendant — the Python
    process, the local JVM it gatewayed, and the pyspark.daemon worker
    pool. Hypervisor steal freezes the guest's clocks from outside, so
    stolen time never lands in any process's utime/stime: per-query CPU
    deltas stay comparable across hosts whose WALL readings differ 1.5x.
    Caveats: jiffy (10 ms) resolution; background JVM threads (GC, UI)
    attribute to whichever query is running (wall has the same
    property); a short-lived worker that dies between snapshots
    surfaces only via its reaper's cutime (the default
    spark.python.worker.reuse keeps the pool stable); a descendant
    ORPHANED to init between snapshots leaves the tree with its time
    (its reaper is outside the tree), so a raw delta can come out
    negative — callers clamp those at 0. Returns None when /proc is
    unreadable — callers omit the cpu fields rather than recording
    zeros."""
    try:
        hz = os.sysconf("SC_CLK_TCK")
        entries = os.listdir("/proc")
    except (OSError, ValueError):
        return None
    procs: dict[int, tuple[int, int]] = {}
    for entry in entries:
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                data = fh.read()
            # comm (field 2) may contain spaces/parens; fields after
            # the LAST ')' are fixed: state ppid ... utime stime
            # cutime cstime at rest-indexes 1, 11, 12, 13, 14
            rest = data[data.rindex(")") + 2:].split()
            procs[int(entry)] = (
                int(rest[1]),
                int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
            )
        except (OSError, ValueError, IndexError):
            continue  # pid exited mid-scan
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(procs[p][1] for p in tree if p in procs) / hz
