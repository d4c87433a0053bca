"""Per-layer tracing for the benchmark's traced run.

Two sources, both read from outside the engine:

* ``LayerTimer`` wraps the public functions of the ``registry``,
  ``sources`` and ``streaming`` modules. Every module of the engine that
  bound one of them by name gets the wrapper, and only the outermost call
  of a layer is timed, so a layer function that calls another of the same
  layer counts once.
* ``SparkRecords`` reads Spark's own job and stage records from the
  status store (it works with ``spark.ui.enabled=false``). Jobs are
  numbered in submission order and the benchmark runs one query at a
  time, so the jobs of a phase are exactly those numbered after the
  previous phase; that also catches jobs that Structured Streaming runs
  on its own thread under its own job group.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time

# layer -> (package, function names; a name ending in "_" is a prefix)
LAYERS = {
    "registry": (
        "geektime_bigdata_spark.registry",
        ("table", "parallel_table", "adaptive_spread", "load_tables"),
    ),
    "sources.write": ("geektime_bigdata_spark.sources", ("write_",)),
    "sources.read": ("geektime_bigdata_spark.sources", ("read_",)),
    "streaming": ("geektime_bigdata_spark.streaming", ("run_streaming_",)),
}

_MB = 1 << 20


def _engine_modules(prefix: str = "geektime_bigdata_spark"):
    for modname, mod in list(sys.modules.items()):
        if mod is not None and (modname == prefix or modname.startswith(prefix + ".")):
            yield modname, mod


def _layer_functions(prefix: str, names: tuple[str, ...]):
    """Each function defined in a module under ``prefix`` whose name is,
    or starts with, one of ``names``."""
    for modname, mod in _engine_modules(prefix):
        for name, fn in vars(mod).items():
            if (
                inspect.isfunction(fn)
                and fn.__module__ == modname
                and any(name == n or (n.endswith("_") and name.startswith(n)) for n in names)
            ):
                yield fn


class LayerTimer:
    """Seconds spent in, and calls into, each layer while installed."""

    def __init__(self) -> None:
        self.seconds = dict.fromkeys(LAYERS, 0.0)
        self.calls = dict.fromkeys(LAYERS, 0)
        self._depth = dict.fromkeys(LAYERS, 0)
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[layer] -= 1
                if self._depth[layer] == 0:
                    self.seconds[layer] += time.perf_counter() - t0
                    self.calls[layer] += 1

        return timed

    def install(self) -> None:
        wrappers = {
            fn: self._wrap(layer, fn)
            for layer, (prefix, names) in LAYERS.items()
            for fn in _layer_functions(prefix, names)
        }
        binders = list(_engine_modules()) + [("__spark_entry__", sys.modules["__spark_entry__"])]
        for _, mod in binders:
            for name, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrappers:
                    self._patched.append((mod, name, val))
                    setattr(mod, name, wrappers[val])

    def uninstall(self) -> None:
        for mod, name, fn in self._patched:
            setattr(mod, name, fn)
        self._patched.clear()

    def snapshot(self) -> dict[str, tuple[float, int]]:
        return {layer: (self.seconds[layer], self.calls[layer]) for layer in LAYERS}


class SparkRecords:
    """Counts the jobs, stages and tasks, and sums the stage metrics,
    of the Spark work submitted since the previous ``take``."""

    FIELDS = (
        "jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
        "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self._sc.statusTracker()
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self.take()

    def take(self) -> dict[str, float]:
        self._bus.waitUntilEmpty(60_000)
        out = dict.fromkeys(self.FIELDS, 0.0)
        while True:
            info = self._tracker.getJobInfo(self._next_job)
            if info is None:
                break
            self._next_job += 1
            out["jobs"] += 1
            for sid in list(info.stageIds):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        return out

    def cache_state(self) -> dict[str, float]:
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return {
            "storage_mb": sum(i.memSize() + i.diskSize() for i in infos) / _MB,
            "persisted_rdds": float(self._sc._jsc.getPersistentRDDs().size()),
        }
