"""Tracing for the benchmark's traced runs.

Everything is recorded from the benchmark's side of each call, nothing is
instrumented inside ``wingfoil_spark``:

- ``Tracer.install_py4j`` wraps py4j's ``send_command``: every driver →
  JVM round trip is counted and timed, attributed to the current
  operation and phase, and charged to the innermost open span.
- ``Tracer.wrap_package`` wraps the public functions and methods of every
  ``wingfoil_spark`` module (and, via ``wrap_functions``, the query
  functions of ``__spark_entry__``) in spans. Spans live in memory as
  (layer, name, start, end, parent, op) and are written at the end.
- ``catalyst_phases`` reads a DataFrame's ``QueryPlanningTracker``.
- ``parse_event_log`` reads the Spark event log offline and assigns each
  job to the (op, phase) window its submission falls in.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import inspect
import json
import pkgutil
import statistics
import sys
import threading
import time
from collections import defaultdict


#: py4j's "delete this proxy" command (memory command + delete subcommand)
_RELEASE = "m\nd\n"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        #: the operation being measured (e.g. "p2/ewma") and its phase
        #: ("build" or "exec"); set by the engine's main thread
        self.op: str | None = None
        self.phase: str | None = None
        #: (op, phase) -> [py4j calls, py4j wait seconds]
        self.py4j: dict[tuple, list] = defaultdict(lambda: [0, 0.0])
        #: closed spans:
        #: [layer, name, start, end, parent id, op, child_s, py4j calls, id]
        self.spans: list[list] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    # ------------------------------------------------------------ py4j

    def install_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            cls.send_command = self._timed_send(cls.send_command)

    def _timed_send(self, orig):
        tracer = self

        @functools.wraps(orig)
        def send_command(conn, command, *args, **kwargs):
            if not tracer.enabled:
                return orig(conn, command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(conn, command, *args, **kwargs)
            finally:
                # a proxy's release, sent whenever Python's GC frees a
                # JavaObject: timed, but not counted, so counts repeat exactly
                tracer._charge_py4j(time.perf_counter() - t0,
                                    not command.startswith(_RELEASE))

        return send_command

    def _charge_py4j(self, dt: float, counted: bool) -> None:
        with self._lock:
            acc = self.py4j[(self.op, self.phase)]
            acc[0] += counted
            acc[1] += dt
        stack = self._stack()
        if stack:
            stack[-1][6] += dt
            stack[-1][7] += counted

    # ------------------------------------------------------------ spans

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _span(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            span = [layer, name, time.perf_counter(), None,
                    parent[8] if parent else None, tracer.op, 0.0, 0,
                    next(tracer._ids)]
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span[3] = time.perf_counter()
                stack.pop()
                if parent is not None:
                    parent[6] += span[3] - span[2]
                with tracer._lock:
                    tracer.spans.append(span)

        return traced

    def wrap_functions(self, module, layer: str, names) -> None:
        for name in names:
            setattr(module, name, self._span(layer, name, getattr(module, name)))

    def wrap_package(self, package: str = "wingfoil_spark") -> None:
        """Import every submodule of ``package`` and replace its public
        functions and public methods of its classes with span wrappers;
        then re-point every module global that still names an original at
        its wrapper, so calls between modules are spanned too. Wrappers
        keep ``__module__``/``__qualname__``, so cloudpickle still pickles
        them by reference and Python workers run the originals."""
        pkg = importlib.import_module(package)
        for info in pkgutil.walk_packages(pkg.__path__, prefix=package + "."):
            try:
                importlib.import_module(info.name)
            except ImportError:
                continue  # optional adapter dependency missing
        mods = {n: m for n, m in sys.modules.items()
                if n == package or n.startswith(package + ".")}
        wrapped: dict[int, object] = {}
        for modname, mod in mods.items():
            parts = modname.split(".")
            layer = parts[1] if len(parts) > 1 else parts[0]
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    w = self._span(layer, f"{parts[-1]}.{name}", obj)
                    wrapped[id(obj)] = w
                    setattr(mod, name, w)
                elif inspect.isclass(obj):
                    for attr, fn in list(vars(obj).items()):
                        if not attr.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, attr,
                                    self._span(layer, f"{name}.{attr}", fn))
        for mod in mods.values():
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None and getattr(w, "__wrapped__", None) is obj:
                    setattr(mod, name, w)

    # ------------------------------------------------------------ reports

    def module_table(self, ops=None) -> dict[str, dict]:
        """Per layer: span count, self seconds (span minus child spans and
        its own py4j waits) and py4j calls made directly inside it."""
        out: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "self_s": 0.0, "py4j_calls": 0})
        for layer, _name, t0, t1, _parent, op, child_s, py4j, _id in self.spans:
            if ops is not None and op not in ops:
                continue
            row = out[layer]
            row["calls"] += 1
            row["self_s"] += max(0.0, (t1 - t0) - child_s)
            row["py4j_calls"] += py4j
        return dict(out)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for layer, name, t0, t1, parent, op, child_s, py4j, sid in self.spans:
                f.write(json.dumps({
                    "id": sid, "layer": layer, "name": name, "start": t0, "end": t1,
                    "parent": parent, "run": op, "child_s": child_s,
                    "py4j_calls": py4j,
                }) + "\n")


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms from the DataFrame's own
    QueryExecution (the one ``toPandas`` executes). A streaming DataFrame
    only has analysis: each micro-batch plans its own IncrementalExecution,
    reported by the query's progress as ``queryPlanning``."""
    tracker = df._jdf.queryExecution().tracker()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = tracker.phases().get(phase)
        out[phase] = (
            float(summary.get().endTimeMs() - summary.get().startTimeMs())
            if summary.isDefined() else 0.0
        )
    return out


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def parse_event_log(paths: list[str], windows: list[tuple[float, float, str]]) -> dict:
    """Aggregate the jobs of a Spark event log (its rolled files, in
    order) by window.

    ``windows`` holds (start_ms, end_ms, key) intervals in epoch ms. A job
    belongs to the window named by its job group, else to the window its
    submission time falls in (threads started by a query function do not
    inherit the group); jobs outside every window, such as the engine
    warm-up, are dropped. Returns key -> execution counters."""
    job_stages: dict[int, list[int]] = {}
    job_submit: dict[int, int] = {}
    job_end: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job_submit[ev["Job ID"]] = ev["Submission Time"]
                    job_group[ev["Job ID"]] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    job_stages[ev["Job ID"]] = ev["Stage IDs"]
                elif kind == "SparkListenerJobEnd":
                    job_end[ev["Job ID"]] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    stage_tasks[ev["Stage ID"]].append(ev)
    windows = sorted(windows)
    keys = {k for _, _, k in windows}
    out: dict[str, dict] = {}
    for job, submit in job_submit.items():
        key = job_group[job]
        if key not in keys:  # no group: a job from a thread the query started
            key = next((k for s, e, k in windows if s <= submit <= e), None)
        if key is None:
            continue
        row = out.setdefault(key, {
            "jobs": 0, "job_s": 0.0, "stages": 0, "tasks": 0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "scheduler_delay_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
            "python_bytes_sent": 0, "python_bytes_received": 0,
            "task_skew": 1.0,
        })
        row["jobs"] += 1
        row["job_s"] += (job_end.get(job, submit) - submit) / 1e3
        for stage in job_stages[job]:
            tasks = stage_tasks.get(stage, ())
            if not tasks:
                continue  # skipped stage (shuffle output reused)
            row["stages"] += 1
            durs = []
            for ev in tasks:
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                dur = info["Finish Time"] - info["Launch Time"]
                durs.append(dur)
                row["tasks"] += 1
                row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                row["scheduler_delay_s"] += max(0, dur - m.get("Executor Run Time", 0)
                                                - m.get("Executor Deserialize Time", 0)
                                                - m.get("Result Serialization Time", 0)
                                                - info.get("Getting Result Time", 0)) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                row["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                row["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                row["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                row["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                for acc in info.get("Accumulables", ()):
                    if acc.get("Name") == _PY_SENT:
                        row["python_bytes_sent"] += int(acc.get("Update", 0))
                    elif acc.get("Name") == _PY_RECV:
                        row["python_bytes_received"] += int(acc.get("Update", 0))
            if len(durs) > 1:
                med = statistics.median(durs)
                row["task_skew"] = max(row["task_skew"], max(durs) / max(med, 1))
            del stage_tasks[stage]  # a stage shared by two jobs counts once
    return out
