"""Engine benchmark: one closed-loop client over two workloads.

    python3 perfbench/run.py --workload sql_small --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run takes its inputs from the
fixtures under ``perfbench/fixtures`` (``scaled_x8`` derives a seeded
replica under its own temp dir), starts the engine's session through
``session.get_spark`` on ``local[nproc]``, and runs untimed warm-up
passes; the first collects every query's rows. Then it times
``round(--seconds / pass_s)`` passes, at least two. A pass runs each
query of the workload once, in a seed-shuffled order, as
``queries()[name](spark, dir)`` followed by a ``noop`` write. After the
timed passes every collected result is compared with its DuckDB oracle
on the same inputs; an exception or a mismatch is a failure.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of traced passes,
interleaved with untraced ones so the tracing overhead is measured. The
line before it is the run-context record. The exit code is non-zero on
any failure. See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import types
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import layers  # noqa: E402
import procfs  # noqa: E402

T_PROCESS_START = procfs.process_start_time()

SCALE = 8


class Workload(NamedTuple):
    """One benchmark workload; README.md says why each was chosen."""

    queries: tuple[str, ...]
    # a fixture directory (datagen.FIXTURES), replicated SCALE-fold
    # under the run's temp dir when ``scaled``
    fixture: str
    scaled: bool
    release_each_pass: bool  # session.release_caches before every pass
    # untimed noop passes after the collecting warm-up pass: in the first
    # two or three passes of a fresh JVM the JIT compiles for several
    # times longer than in later ones, and the pass walls fall with it
    warmup_noop_passes: int
    # the wall time of one warm pass on a quiet 4-vCPU host; a run times
    # round(--seconds / pass_s) passes
    pass_s: float


WORKLOADS = {
    "sql_small": Workload(
        (
            "q1_pricing_summary", "q3_shipping_priority", "q9_product_profit",
            "flow_stats", "point_lookup", "window_topn_orders", "sessionize",
        ),
        "sf0.1",
        False,
        False,
        2,
        4.0,
    ),
    "scaled_x8": Workload(
        (
            "sessionize", "word_counts", "minhash_lsh_pairs", "cdc_apply",
            "csv_roundtrip_stats", "streaming_hourly_rollup",
            "png_roundtrip_features",
        ),
        "sf0.01",
        True,
        True,
        1,
        7.0,
    ),
}

END_TO_END = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "cpu_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.release_caches_s": "s",
    "registry.calls": "count",
    "registry.s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "cpu.jvm_s": "s",
    "cpu.jit_s": "s",
    "cpu.pyworker_s": "s",
    "cpu.driver_s": "s",
    "cpu.util": "ratio",
    "cache.storage_mb": "MB",
    "cache.persisted_rdds": "count",
    "sources.write_s": "s",
    "sources.read_s": "s",
    "io.wchar_mb": "MB",
    "io.rchar_mb": "MB",
    "streaming.s": "s",
    "mem.peak_rss_mb": "MB",
    "trace.pass_wall_s": "s",
    "trace.overhead_s": "s",
}

# scratch root under the checkout; each run works in <TMP_DIR>/<pid>
TMP_DIR = ".perfbench_tmp"


def _hermetic_env(tmp: str, cpus: int) -> None:
    """Point every scratch location of the driver, the JVM and the
    Python workers at ``tmp``, and make the engine importable by the
    workers wherever the checkout lives."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {jvm_opts}".strip()


def _inputs(workload: Workload, tmp: str, seed: int) -> tuple[str, dict[str, int]]:
    """The workload's input directory and its row counts per table."""
    import datagen

    base = datagen.fixture(workload.fixture)
    if not workload.scaled:
        return base, datagen.row_counts(base)
    scaled = os.path.join(tmp, "inputs", f"x{SCALE}")
    return scaled, datagen.write_scaled(base, scaled, SCALE, seed)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """The state of one benchmark run: its query order, failures and
    latency samples."""

    def __init__(self, args, queries, inputs: str) -> None:
        workload = WORKLOADS[args.workload]
        names, self.release_each_pass = workload.queries, workload.release_each_pass
        # the collecting warm-up pass runs in the declared order, so the
        # first-query cost of a fresh JVM lands on the same query for every
        # seed; every later pass runs in one seeded order, so a session
        # memo is filled by the same query in each pass
        self.names = list(names)
        self.order = list(names)
        random.Random(args.seed).shuffle(self.order)
        self.queries = queries
        self.inputs = inputs
        self.failures: list[str] = []
        self.attempted = 0
        self.release_s: list[float] = []

    def fail(self, name: str, exc: BaseException) -> None:
        self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:500])

    def release(self, spark) -> None:
        from geektime_bigdata_spark.session import release_caches

        t0 = time.perf_counter()
        release_caches(spark)
        self.release_s.append(time.perf_counter() - t0)

    def collect_pass(self, spark) -> dict:
        """The first untimed warm-up pass; it keeps every query's result."""
        if self.release_each_pass:
            self.release(spark)
        results = {}
        for name in self.names:
            self.attempted += 1
            try:
                df = self.queries[name](spark, self.inputs)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # a failing query is reported, not fatal
                self.fail(name, exc)
        return results

    def timed_pass(self, spark, tracer=None) -> dict:
        """One pass; returns its wall time, its process-tree CPU split
        and its I/O. ``tracer`` (a ``QueryTracer``) brackets each
        query's build and exec phases; its own work is outside the
        query latencies but inside the pass wall time."""
        pids0 = procfs.tree()
        cpu0, io0 = procfs.tree_cpu(pids0), procfs.tree_io(pids0)
        jit0 = _jit_s(spark)
        latencies = []
        steal0 = procfs.steal_jiffies()
        t0 = time.perf_counter()
        if self.release_each_pass:
            self.release(spark)
        for name in self.order:
            self.attempted += 1
            if tracer is not None:
                tracer.start(name)
            try:
                q0 = time.perf_counter()
                df = self.queries[name](spark, self.inputs)
                build_s = time.perf_counter() - q0
                if tracer is not None:
                    tracer.built()
                q1 = time.perf_counter()
                _noop(df)
                exec_s = time.perf_counter() - q1
            except Exception as exc:  # a failing query is reported, not fatal
                self.fail(name, exc)
                continue
            finally:
                if tracer is not None:
                    tracer.end()
            latencies.append(build_s + exec_s)
            if tracer is not None:
                tracer.record(name, build_s, exec_s)
        wall = time.perf_counter() - t0
        pids1 = procfs.tree()
        cpu1, io1 = procfs.tree_cpu(pids1), procfs.tree_io(pids1)
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
        cpu["jit"] = _jit_s(spark) - jit0
        cpu["jvm"] -= cpu["jit"]
        return {
            "wall": wall,
            "steal_jiffies": procfs.steal_jiffies() - steal0,
            "latencies": latencies,
            "cpu": cpu,
            # a worker that exits takes its I/O counters with it
            "io_mb": {k: max(0, io1[k] - io0[k]) / (1 << 20) for k in io1},
        }

    def check(self, results: dict) -> None:
        """Compare every collected result with its DuckDB oracle."""
        import __spark_entry__

        oracle = _load_tests_oracle()
        sql = __spark_entry__.oracle_sql()
        con = oracle.duckdb_connection(self.inputs)
        try:
            for name, (cols, rows) in results.items():
                self.attempted += 1
                frame = types.SimpleNamespace(columns=cols, collect=lambda r=rows: r)
                try:
                    oracle.assert_matches_oracle(frame, con, sql[name], name)
                except AssertionError as exc:
                    self.fail("oracle", exc)
        finally:
            con.close()


def _jit_s(spark) -> float:
    """Seconds the JVM has spent compiling to machine code, from its
    ``CompilationMXBean``."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mgmt.getCompilationMXBean().getTotalCompilationTime() / 1e3


def _work_cpu_s(stats: dict) -> float:
    """A pass's process-tree CPU net of JIT compilation. A fresh JVM keeps
    compiling for a dozen passes and more, and how much it compiles in a
    given pass differed between runs of the same code by more than the
    rest of the pass's CPU did."""
    return sum(stats["cpu"].values()) - stats["cpu"]["jit"]


def _load_tests_oracle():
    """The repo's oracle comparison (``tests/oracle.py``), loaded by path."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "perfbench_tests_oracle", os.path.join(ROOT, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _untraced(run: Run, spark, n: int) -> list[dict]:
    return [run.timed_pass(spark) for _ in range(n)]


class QueryTracer:
    """Puts each query's build and exec phases in their own job group
    and keeps the Spark records of each phase."""

    def __init__(self, spark, records) -> None:
        self.sc = spark.sparkContext
        self.records = records
        self.rows: dict[str, dict] = {}
        self._name = ""
        self._build: dict = {}

    def start(self, name: str) -> None:
        self.records.take()  # drop work run between queries
        self._name = name
        self.sc.setJobGroup(f"perfbench:{name}:build", name)

    def built(self) -> None:
        self._build = self.records.take()
        self.sc.setJobGroup(f"perfbench:{self._name}:exec", self._name)

    def end(self) -> None:
        self.sc.setJobGroup(None, None)  # type: ignore[arg-type]

    def record(self, name: str, build_s: float, exec_s: float) -> None:
        self.rows[name] = {
            "build_s": build_s,
            "exec_s": exec_s,
            "build": self._build,
            "exec": self.records.take(),
        }


def _traced(run: Run, spark, n: int) -> tuple[list[dict], list[float]]:
    """``n`` passes, at least three, alternately traced and untraced,
    starting with a traced one."""
    timer = layers.LayerTimer()
    records = layers.SparkRecords(spark)
    traced: list[dict] = []
    untraced: list[float] = []
    for i in range(max(3, n)):
        if i % 2:
            untraced.append(run.timed_pass(spark)["wall"])
            continue
        tracer = QueryTracer(spark, records)
        before = timer.snapshot()
        timer.install()
        try:
            stats = run.timed_pass(spark, tracer)
        finally:
            timer.uninstall()
        after = timer.snapshot()
        stats["layers"] = {
            layer: {"s": after[layer][0] - before[layer][0], "calls": after[layer][1] - before[layer][1]}
            for layer in after
        }
        stats["cache"] = records.cache_state()
        stats["rows"] = tracer.rows
        traced.append(stats)
    return traced, untraced


def _layer_metrics(traced: list[dict], untraced: list[float], run: Run, get_spark_s: float) -> dict:
    """Per-pass layer totals, as medians over the traced passes."""
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def med(fn):
        return statistics.median(fn(p) for p in traced)

    def per_query(fn):
        return med(lambda p: sum(fn(r) for r in p["rows"].values()))

    out = {
        "session.get_spark_s": get_spark_s,
        "session.release_caches_s": statistics.median(run.release_s),
        "registry.calls": med(lambda p: p["layers"]["registry"]["calls"]),
        "registry.s": med(lambda p: p["layers"]["registry"]["s"]),
        "operators.build_s": per_query(lambda r: r["build_s"]),
        "operators.build_jobs": per_query(lambda r: r["build"]["jobs"]),
        "spark.exec_s": per_query(lambda r: r["exec_s"]),
    }
    for field in layers.SparkRecords.FIELDS:
        out[f"spark.{field}"] = per_query(lambda r, f=field: r["build"][f] + r["exec"][f])
    for tier in ("jvm", "jit", "pyworker", "driver"):
        out[f"cpu.{tier}_s"] = med(lambda p, t=tier: p["cpu"][t])
    out["cpu.util"] = med(lambda p: sum(p["cpu"].values()) / (p["wall"] * cores))
    for key in ("storage_mb", "persisted_rdds"):
        out[f"cache.{key}"] = med(lambda p, k=key: p["cache"][k])
    out["sources.write_s"] = med(lambda p: p["layers"]["sources.write"]["s"])
    out["sources.read_s"] = med(lambda p: p["layers"]["sources.read"]["s"])
    out["streaming.s"] = med(lambda p: p["layers"]["streaming"]["s"])
    for key in ("wchar", "rchar"):
        out[f"io.{key}_mb"] = med(lambda p, k=key: p["io_mb"][k])
    out["trace.pass_wall_s"] = med(lambda p: p["wall"])
    out["trace.overhead_s"] = out["trace.pass_wall_s"] - statistics.median(untraced)
    return out


def _query_record(traced: list[dict]) -> dict:
    """Per-query medians over the traced passes, and whether each
    query's job, stage and task counts repeat exactly across them."""
    def counts(r):
        return [int(r["build"][k] + r["exec"][k]) for k in ("jobs", "stages", "tasks")]

    out = {}
    for name in traced[0]["rows"]:
        rows = [p["rows"][name] for p in traced if name in p["rows"]]
        out[name] = {
            "build_s": statistics.median(r["build_s"] for r in rows),
            "exec_s": statistics.median(r["exec_s"] for r in rows),
            "build_jobs": rows[0]["build"]["jobs"],
            "jobs_stages_tasks": counts(rows[0]),
            "counts_repeat": all(counts(r) == counts(rows[0]) for r in rows),
            "executor_cpu_s": statistics.median(
                r["build"]["executor_cpu_s"] + r["exec"]["executor_cpu_s"] for r in rows
            ),
        }
    return out


def _stop_tree(spark) -> None:
    """Stop the session and its JVM, and wait until every process the
    run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(procfs.tree()) > 1:
        if time.time() > deadline:
            for pid in procfs.tree():
                if pid != os.getpid():
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
            break
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "geektime_bigdata_spark"))
    ):
        print(f"perfbench: no engine under {ROOT}: run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import datagen
    import __spark_entry__
    from geektime_bigdata_spark.session import get_spark

    # a terminated run still stops its JVM and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workload = WORKLOADS[args.workload]
    # a fixed pass count, not a deadline: Spark's generated code keeps
    # getting faster for several passes, and a count that followed the
    # host's speed moved the medians along that curve
    n_passes = max(2, round(args.seconds / workload.pass_s))
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, TMP_DIR, str(os.getpid()))
    _hermetic_env(tmp, cpus)
    steal0 = procfs.steal_jiffies()
    spark = None
    try:
        os.makedirs(tmp)
        t0 = time.perf_counter()
        inputs, input_rows = _inputs(workload, tmp, args.seed)
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(args, __spark_entry__.queries(), inputs)
        t0 = time.perf_counter()
        results = run.collect_pass(spark)
        warmup_s = [time.perf_counter() - t0]
        warmup_s += [
            run.timed_pass(spark)["wall"] for _ in range(workload.warmup_noop_passes)
        ]
        setup_s = time.time() - T_PROCESS_START
        if args.trace:
            traced, untraced = _traced(run, spark, n_passes)
            passes = traced
            walls = [p["wall"] for p in traced] + untraced
        else:
            passes = _untraced(run, spark, n_passes)
            walls = [p["wall"] for p in passes]
        run.release(spark)
        peak_rss_mb = procfs.tree_peak_rss_mb(procfs.tree())
        if args.trace:
            metrics = _layer_metrics(traced, untraced, run, get_spark_s)
            metrics["mem.peak_rss_mb"] = peak_rss_mb
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_wall_s": statistics.median(p["wall"] for p in passes),
                "cpu_s": statistics.median(_work_cpu_s(p) for p in passes),
            }
            units = END_TO_END
        run.check(results)
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "inputs_digest": datagen.digest(inputs),
            "inputs_fixture": workload.fixture,
            "inputs_rows": input_rows,
            "inputs_s": inputs_s,
            "get_spark_s": get_spark_s,
            "warmup_passes_s": warmup_s,
            "pass_walls_s": walls,
            "pass_cpu_s": [_work_cpu_s(p) for p in passes],
            "pass_jit_s": [p["cpu"]["jit"] for p in passes],
            "pass_steal_jiffies": [p["steal_jiffies"] for p in passes],
            "latency_samples": sum(len(p["latencies"]) for p in passes),
            "latency_p50_s": statistics.median(
                [x for p in passes for x in p["latencies"]] or [0.0]
            ),
            "peak_rss_mb": peak_rss_mb,
            "oracle_checked": sorted(results),
            "fail_ratio": len(run.failures) / run.attempted,
            "failures": run.failures,
            "steal_jiffies": procfs.steal_jiffies() - steal0,
        }
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if spark is not None:
                _stop_tree(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(tmp))
    if args.trace:
        print(json.dumps({"trace": _query_record(traced)}))
    print(json.dumps({"run_context": context}))
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 1 if run.failures else 0


if __name__ == "__main__":
    sys.exit(main())
