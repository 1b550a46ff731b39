"""Spans, layer instrumentation and event-log metrics for the benchmark.

Every run records one span per timed op and per op phase (build, plan,
exec, commit). The traced run (``--trace 1``) additionally wraps the public
functions of the ``catalog``, ``operators``, ``streaming`` and
``table_format`` layers at the names their callers use, so calls into those
layers become child spans. Nothing inside the engine package is edited; the
wrappers are installed from here and only in the traced run.

Executor, shuffle and Python/Arrow figures come from Spark's event log,
written uncompressed and non-rolling so the stdlib can read it. Each op
runs under its own job group, which maps jobs, stages and tasks back to it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import re
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "retail_datalakehouse_spark"

# layer name -> modules whose public functions are wrapped in the traced run
LAYER_MODULES = {
    "catalog": [f"{PKG}.catalog", f"{PKG}.sources.csv"],
    "streaming": [f"{PKG}.streaming.jobs"],
}

# SQL metrics the Python/Arrow operators publish (Spark's PythonSQLMetrics)
_PY_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_boot_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "number of output rows": "rows_from_python",
}
PY_NODE_RE = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython\w*|\w*InPandas\w*|\w*InArrow\w*|"
    r"\w*PythonUDTF\w*)\b"
)


class Tracer:
    """In-memory span recorder. Spans keep their parent, so a layer's self
    time is its duration minus the part its children cover."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._next_id = 0
        self._id_lock = threading.Lock()
        self.current_op: dict | None = None  # parent for spans on other threads

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def active_layer_depth(self, layer: str) -> int:
        return sum(1 for s in self._stack() if s["layer"] == layer)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        with self._id_lock:
            sid = self._next_id
            self._next_id += 1
        stack = self._stack()
        parent = stack[-1] if stack else self.current_op
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            # the pass of the op this span belongs to
            "pass_no": parent.get("pass_no") if parent else None,
            "start": time.perf_counter(),
            "wall_start": time.time(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self.spans.append(rec)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out


def _wrap(tracer: Tracer, fn, layer: str, name: str, nested: bool = False):
    """Span around ``fn``. Only the outermost call of a layer is recorded,
    unless ``nested`` (head resolution is counted inside verbs too)."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not nested and tracer.active_layer_depth(layer):
            return fn(*args, **kwargs)
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return wrapper


def _public_functions(mod):
    for attr, obj in vars(mod).items():
        if (
            not attr.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == mod.__name__
        ):
            yield attr, obj


def instrument(tracer: Tracer):
    """Install layer spans; returns a function that removes them again."""
    ops_pkg = importlib.import_module(f"{PKG}.operators")
    layers = dict(LAYER_MODULES)
    layers["operators"] = [
        f"{PKG}.operators.{m.name}" for m in pkgutil.iter_modules(ops_pkg.__path__)
    ]
    wrapped: dict[int, object] = {}
    for layer, modnames in layers.items():
        for modname in modnames:
            mod = importlib.import_module(modname)
            short = modname.rsplit(".", 1)[-1]
            for attr, fn in list(_public_functions(mod)):
                wrapped[id(fn)] = (fn, _wrap(tracer, fn, layer, f"{short}.{attr}"))
    undo: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    # rebind every importer's name for a wrapped function, so callers that
    # did ``from ..catalog import load_table as T`` reach the wrapper too
    for mname, mod in list(sys.modules.items()):
        if not mname.startswith(PKG) or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            fn, w = wrapped.get(id(obj), (None, None))
            if fn is obj:
                patch(mod, attr, w)
    cls = importlib.import_module(f"{PKG}.sources.table_format").VersionedTable
    for attr, fn in list(vars(cls).items()):
        if not attr.startswith("_") and inspect.isfunction(fn) and attr != "current_version":
            patch(cls, attr, _wrap(tracer, fn, "table_format", attr))
    patch(cls, "current_version", _wrap(
        tracer, cls.current_version, "table_format.head", "current_version", nested=True))
    patch(cls, "_try_commit", _wrap(
        tracer, cls._try_commit, "table_format.commit", "_try_commit", nested=True))

    def remove() -> None:
        for owner, attr, old in reversed(undo):
            setattr(owner, attr, old)

    return remove


# ------------------------------------------------------------------ event log


def read_event_log(path: str) -> dict:
    """Per job group: tasks of its jobs (with their submission time) and
    the Python-operator SQL metrics of its executions."""
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    py_accums: dict[int, str] = {}
    tasks: list[dict] = []
    py_updates: list[tuple[int, str, float]] = []

    def walk(info):
        yield info
        for child in info.get("children", []):
            yield from walk(child)

    def note_plan(info):
        for node in walk(info):
            if PY_NODE_RE.search(node.get("nodeName", "")):
                for m in node.get("metrics", []):
                    key = _PY_METRICS.get(m["name"])
                    if key:
                        py_accums[m["accumulatorId"]] = key

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                job_group[jid] = props.get("spark.jobGroup.id")
                job_submit[jid] = ev.get("Submission Time", 0) / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                note_plan(ev["sparkPlanInfo"])
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                grp = job_group.get(jid)
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "group": grp,
                        "job": jid,
                        "job_submit": job_submit.get(jid, 0.0),
                        "stage": ev["Stage ID"],
                        "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "spill_b": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    }
                )
                for acc in info.get("Accumulables", []):
                    key = py_accums.get(acc.get("ID"))
                    if key and grp:
                        py_updates.append((jid, key, float(acc.get("Update") or 0)))
    return {"tasks": tasks, "py_updates": py_updates, "job_group": job_group,
            "job_submit": job_submit}


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default
