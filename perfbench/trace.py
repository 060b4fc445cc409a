"""Tracing for the traced (`--trace 1`) run.

- `Tracer` keeps spans in memory (name, layer, start, end, parent, run id,
  query tag) and writes them as JSON lines when the run ends.
- `instrument` wraps, from outside the program, every public function of
  the package's layer modules in a span, so each call into a layer is
  timed at its boundary. Workers unpickle the wrapped functions by
  reference and so run the originals: spans are driver-side only.
- `read_event_log` folds Spark's own event log into task, shuffle, spill,
  GC and Python-worker (PythonSQLMetrics) counters.
- `ProgressListener` records every streaming progress event.
"""

from __future__ import annotations

import functools
import glob
import importlib
import itertools
import json
import os
import pkgutil
import sys
import threading
import time
import types

from pyspark.sql.streaming import StreamingQueryListener

# package modules that form the program's layers (ROADMAP aim 1); the
# session and suite layers are timed by the benchmark directly
LAYERS = (
    "sources", "operators", "dedup", "textstats", "similarity",
    "multimodal", "streaming", "sinks",
)
_ACTIVE: Tracer | None = None


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[tuple] = []
        self.query = ""
        self._ids = itertools.count(1)
        self._local = threading.local()

    def span(self, layer: str, name: str) -> _Span:
        return _Span(self, layer, name)

    def dump(self, path: str, header: dict) -> None:
        """One JSON line of `header`, then one line per span."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("id", "parent", "layer", "name", "query", "start", "end", "run_id")
        with open(path, "w") as fh:
            fh.write(json.dumps({"run_id": self.run_id, **header}) + "\n")
            for s in self.spans:
                fh.write(json.dumps(dict(zip(keys, s + (self.run_id,)))) + "\n")

    def inclusive_s(self, layer: str, query_prefix: str = "") -> float:
        """Time inside `layer`, counting nested spans of the same layer once."""
        by_id = {s[0]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s[2] != layer or not s[4].startswith(query_prefix):
                continue
            p = by_id.get(s[1])
            while p is not None and p[2] != layer:
                p = by_id.get(p[1])
            if p is None:
                total += s[6] - s[5]
        return total

    def self_s(self, query_prefix: str = "") -> dict[str, float]:
        """Per layer: span time minus the time its direct children cover."""
        spans = [s for s in self.spans if s[4].startswith(query_prefix)]
        child: dict[int, float] = {}
        for s in spans:
            child[s[1]] = child.get(s[1], 0.0) + (s[6] - s[5])
        out: dict[str, float] = {}
        for s in spans:
            own = (s[6] - s[5]) - child.get(s[0], 0.0)
            out[s[2]] = out.get(s[2], 0.0) + own
        return out


class _Span:
    __slots__ = ("tr", "layer", "name", "id", "parent", "start")

    def __init__(self, tr: Tracer, layer: str, name: str):
        self.tr, self.layer, self.name = tr, layer, name

    def __enter__(self) -> _Span:
        stack = getattr(self.tr._local, "stack", None)
        if stack is None:
            stack = self.tr._local.stack = []
        self.id = next(self.tr._ids)
        self.parent = stack[-1] if stack else 0
        stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        self.tr._local.stack.pop()
        self.tr.spans.append(
            (self.id, self.parent, self.layer, self.name, self.tr.query,
             self.start, end)
        )


def _traced(layer: str, fn):
    name = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tr = _ACTIVE
        if tr is None:
            return fn(*args, **kwargs)
        with tr.span(layer, name):
            return fn(*args, **kwargs)

    return wrapper


def instrument(tracer: Tracer) -> int:
    """Wrap the public functions of every layer module, and
    `UpsertSink.__call__`, in spans. Must run before the suite modules
    are imported, since they bind layer functions at import time.
    Returns the number of wrapped functions."""
    global _ACTIVE
    _ACTIVE = tracer
    pkg = importlib.import_module("sparkstreaming_spark")
    wrapped: dict[int, object] = {}
    for layer in LAYERS:
        lp = importlib.import_module(f"{pkg.__name__}.{layer}")
        mods = [lp] + [
            importlib.import_module(m.name)
            for m in pkgutil.walk_packages(lp.__path__, lp.__name__ + ".")
        ]
        for mod in mods:
            for attr, obj in list(vars(mod).items()):
                if (isinstance(obj, types.FunctionType)
                        and obj.__module__ == mod.__name__
                        and not attr.startswith("_")):
                    wrapped.setdefault(id(obj), _traced(layer, obj))
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith(pkg.__name__ + "."):
            continue
        for attr, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None and w.__wrapped__ is obj:
                setattr(mod, attr, w)
    from sparkstreaming_spark.sinks.upsert import UpsertSink

    UpsertSink.__call__ = _traced("sinks", UpsertSink.__call__)
    return len(wrapped)


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None and si.numTasks > 0:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def read_event_log(log_dir: str, groups: str | None = None,
                   window_ms: tuple[float, float] | None = None) -> dict:
    """Count jobs, stages and tasks and sum task metrics from the event log
    in `log_dir`, keeping jobs whose job group starts with `groups`, or
    jobs submitted and tasks launched inside `window_ms` (epoch ms)."""
    out = dict.fromkeys(
        ["spark.jobs", "spark.stages", "spark.tasks",
         "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
         "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
         "spark.spill_bytes", "sources.input_bytes", "sources.input_rows",
         *PY_METRICS.values()], 0.0)
    kept: set[int] = set()  # stage ids of kept jobs

    def inside(t_ms: float) -> bool:
        return window_ms is None or window_ms[0] <= t_ms <= window_ms[1]

    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if ((groups is None or g.startswith(groups))
                            and inside(ev.get("Submission Time", 0))):
                        kept.update(ev.get("Stage IDs", []))
                        out["spark.jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    out["spark.stages"] += (
                        ev["Stage Info"]["Stage ID"] in kept)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    if ev.get("Stage ID") in kept and inside(
                            info.get("Launch Time", 0)):
                        out["spark.tasks"] += 1
                        _add_task(out, ev.get("Task Metrics") or {}, info)
    return out


def _add_task(out: dict, m: dict, info: dict) -> None:
    out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    rd = m.get("Shuffle Read Metrics", {})
    out["spark.shuffle_read_bytes"] += (
        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0))
    out["spark.shuffle_write_bytes"] += m.get(
        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    out["spark.spill_bytes"] += (
        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
    inp = m.get("Input Metrics", {})
    out["sources.input_bytes"] += inp.get("Bytes Read", 0)
    out["sources.input_rows"] += inp.get("Records Read", 0)
    for acc in info.get("Accumulables", []):
        key = PY_METRICS.get(acc.get("Name"))
        if key is not None:
            v = float(acc.get("Update") or 0)
            out[key] += v / 1e3 if key.endswith("_s") else v  # ms timers


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress event as a parsed dict."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
