"""Spans, Spark work counters and process-tree CPU for the benchmark.

`Tracer` keeps spans (name, start, end, parent, trace id) in memory and
writes them as JSON at exit. `install` wraps the public functions of the
driver-side layer modules so every call into them becomes a span; the
wrappers are inert while tracing is off, so one process can time
untraced and traced samples side by side.

Wrapped functions can be captured by closures that Spark ships to Python
workers; the tracer therefore pickles as a fresh, disabled instance.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import threading
import time
import types

# module → layer name; only modules whose public functions run on the driver
LAYER_MODULES = {
    "f1_data_pipeline_spark.session": "session",
    "f1_data_pipeline_spark.sources.tables": "sources",
    "f1_data_pipeline_spark.streaming.structured": "streaming",
    "f1_data_pipeline_spark.operators.sinks": "sinks",
    "f1_data_pipeline_spark.operators.matview": "matview",
    "f1_data_pipeline_spark.plans.incremental": "plans",
    "f1_data_pipeline_spark.operators.catalog": "catalog",
}


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.trace_id: str | None = None
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._local = threading.local()
        self._lock = threading.Lock()

    def __reduce__(self):
        return (Tracer, ())

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, queries: dict) -> int:
        """Wrap public functions (and public methods of public classes) of
        LAYER_MODULES everywhere the package refers to them, and every
        registry callable in `queries`. Returns the number wrapped."""
        originals: dict[int, tuple[object, object]] = {}
        for mod_name, layer in LAYER_MODULES.items():
            mod = importlib.import_module(mod_name)
            for attr, val in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if isinstance(val, types.FunctionType) and val.__module__ == mod_name:
                    originals[id(val)] = (val, self.wrap(f"{layer}.{attr}", val))
                elif inspect.isclass(val) and val.__module__ == mod_name:
                    for m_name, m in list(vars(val).items()):
                        if not m_name.startswith("_") and isinstance(m, types.FunctionType):
                            setattr(val, m_name, self.wrap(f"{layer}.{attr}.{m_name}", m))
        import sys

        for name, mod in list(sys.modules.items()):
            if not name.startswith("f1_data_pipeline_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
        for key, fn in list(queries.items()):
            queries[key] = self.wrap(f"queries.{key}.build", fn)
        return len(originals) + len(queries)

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total seconds, self seconds (total minus
        the time covered by direct children)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            e = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            e["count"] += 1
            e["total_s"] += d
            e["self_s"] += d - child_time.get(s["id"], 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "summary": self.summary(), **extra}, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        self.start = time.perf_counter()
        self.on = self.t.enabled
        if self.on:
            st = self.t._stack()
            with self.t._lock:
                self.id = len(self.t.spans)
                self.t.spans.append({
                    "id": self.id, "name": self.name, "trace": self.t.trace_id,
                    "parent": st[-1] if st else None,
                    "start": self.start - self.t._t0, "end": None,
                })
            st.append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        self.seconds = self.end - self.start
        if self.on:
            self.t._stack().pop()
            self.t.spans[self.id]["end"] = self.end - self.t._t0
        return False


def spark_work(sc, group: str) -> dict[str, int]:
    """Stages, tasks and failed tasks Spark ran under job group
    `group`, read from the status tracker."""
    st = sc.statusTracker()
    stages = tasks = failed = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            ran = 0 if s is None else s.numCompletedTasks + s.numFailedTasks
            if ran == 0:  # skipped: its output was reused
                continue
            stages += 1
            tasks += ran
            failed += s.numFailedTasks
    return {"stages": stages, "tasks": tasks, "failed_tasks": failed}


_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid → (parent pid, CPU ticks incl. reaped children, start ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]),
                       int(fields[19]))
    return out


def _tree(table: dict[int, tuple[int, int, int]]) -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for pid, (pp, _, _) in table.items():
        children.setdefault(pp, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (utime+stime+cutime+cstime) of this process and all its
    live descendants: the driver, the JVM and the Python workers."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table) if p in table) / _CLK


def descendants() -> dict[int, int]:
    """Live descendants of this process: pid → start ticks, which tell a
    process apart from a later one that reuses its pid."""
    table = _proc_table()
    me = os.getpid()
    return {p: table[p][2] for p in _tree(table) if p != me and p in table}


def alive(pid: int, start: int) -> bool:
    """Whether `pid` is still the process that started at `start` (an
    unreaped zombie counts: it is still listed)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return int(raw[raw.rindex(")") + 2:].split()[19]) == start


def jvm_snapshot(spark) -> dict:
    """Cumulative GC and JIT compile time of the driver JVM (in local
    mode also the executor)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = list(mf.getGarbageCollectorMXBeans())
    return {
        "gc_s": sum(g.getCollectionTime() for g in gcs) / 1000,
        "gc_count": sum(g.getCollectionCount() for g in gcs),
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000,
    }


def host_snapshot() -> dict:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()[1:]
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    out = {
        "steal_s": int(cpu[7]) / _CLK,
        "user_s": int(cpu[0]) / _CLK,
        "loadavg": load,
        "time": time.time(),
    }
    # pressure stall totals (µs), where the kernel exposes them
    for res in ("cpu", "io", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as fh:
                out[f"{res}_some_s"] = int(fh.readline().rsplit("total=", 1)[1]) / 1e6
        except (OSError, IndexError, ValueError):
            pass
    return out
