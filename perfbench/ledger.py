"""The traced run's per-query layer ledger, measured from outside the
program.

Spans: every call into a layer's public functions is wrapped, so each
query sample records, per layer, its self time (span wall minus the
spans of other layers it called), the py4j round trips made while it
was the innermost layer, and the Spark jobs it started.  Layers:

- ``core``: ``groupby_reduce``, ``groupby_reduce_multi``,
  ``resample_reduce``, ``groupby_reduce_weighted`` (the aggregation
  registry's expression building runs inside them)
- ``scan``: ``groupby_scan``
- ``blocked_route``: ``route_to_blocked`` (its probe job, if any)
- ``operators``: every public function of ``flox_spark.operators``
- ``entry``: whatever the query's own code does outside those

Each span runs under its own Spark job group ``<sample>/<layer>``, and
so do the Catalyst step (``<sample>/catalyst``) and the noop sink
(``<sample>/exec``).  Spark's event log then ties every job, stage and
task to its query and layer (``parse_event_log``).  Catalyst time is
the query's ``QueryPlanningTracker`` phases (analysis, optimization,
planning); the analysis phase runs while the query is built, so the
ledger's build part excludes it.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from collections import defaultdict

LAYER_FUNCS = {
    "core": [
        ("flox_spark.core", "groupby_reduce"),
        ("flox_spark.core", "groupby_reduce_multi"),
        ("flox_spark.resample", "resample_reduce"),
        ("flox_spark.weighted", "groupby_reduce_weighted"),
    ],
    "scan": [("flox_spark.scan", "groupby_scan")],
    "blocked_route": [("flox_spark.blocked_route", "route_to_blocked")],
}
OPERATORS_PKG = "flox_spark.operators"
PHASES = ("analysis", "optimization", "planning")


class Ledger:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.stack: list[list] = []  # [layer, perf_counter when it last resumed]
        self.sample: str | None = None
        self.counting = False
        # (sample, layer) -> accumulated self time / py4j calls
        self.self_s: dict[tuple, float] = defaultdict(float)
        self.calls: dict[tuple, int] = defaultdict(int)
        # sample -> (probe job ran, blocked route chosen) per
        # route_to_blocked call
        self.routes: dict[str, list[tuple[bool, bool]]] = defaultdict(list)
        self._patched: list[tuple] = []

    # -- py4j round trips ------------------------------------------------
    def _count_py4j(self):
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = cls.send_command

            @functools.wraps(orig)
            def send_command(conn, *a, _orig=orig, **k):
                if self.counting:
                    layer = self.stack[-1][0] if self.stack else "entry"
                    self.calls[(self.sample, layer)] += 1
                return _orig(conn, *a, **k)

            self._patched.append((cls, "send_command", orig))
            cls.send_command = send_command

    def _quiet(self, fn, *a):
        """Run one of the ledger's own JVM calls without counting it."""
        was, self.counting = self.counting, False
        try:
            return fn(*a)
        finally:
            self.counting = was

    def _set_group(self, layer: str) -> None:
        self._quiet(self.sc.setLocalProperty, "spark.jobGroup.id", f"{self.sample}/{layer}")

    def _jobs_in_group(self, layer: str) -> int:
        tracker = self._quiet(self.sc.statusTracker)
        return len(self._quiet(tracker.getJobIdsForGroup, f"{self.sample}/{layer}"))

    # -- layer spans -----------------------------------------------------
    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            if self.sample is None or (self.stack and self.stack[-1][0] == layer):
                return fn(*a, **k)
            self._close_self()
            self.stack.append([layer, time.perf_counter()])
            self._set_group(layer)
            route = layer == "blocked_route"
            jobs_before = self._jobs_in_group(layer) if route else 0
            try:
                out = fn(*a, **k)
                if route:
                    probed = self._jobs_in_group(layer) > jobs_before
                    self.routes[self.sample].append((probed, bool(out)))
                return out
            finally:
                self._close_self()
                self.stack.pop()
                self._set_group(self.stack[-1][0] if self.stack else "entry")
                if self.stack:
                    self.stack[-1][1] = time.perf_counter()

        wrapper.__ledger_original__ = fn
        return wrapper

    def _close_self(self) -> None:
        """Charge the time since the innermost span last resumed to it."""
        now = time.perf_counter()
        if self.stack:
            top = self.stack[-1]
            self.self_s[(self.sample, top[0])] += now - top[1]
            top[1] = now

    def _layer_functions(self):
        import importlib
        import pkgutil

        found = []
        for layer, refs in LAYER_FUNCS.items():
            for mod, name in refs:
                found.append((layer, getattr(importlib.import_module(mod), name)))
        pkg = importlib.import_module(OPERATORS_PKG)
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{OPERATORS_PKG}.{info.name}")
            for name, obj in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                ):
                    found.append(("operators", obj))
        return found

    def install(self) -> None:
        """Wrap every layer function wherever a loaded module binds it,
        and start counting py4j round trips."""
        wrappers = {id(fn): self._wrap(layer, fn) for layer, fn in self._layer_functions()}
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith("flox_spark") or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and getattr(val, "__ledger_original__", None) is None:
                    setattr(mod, attr, w)
                    self._patched.append((mod, attr, val))
        self._count_py4j()

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- one query sample ------------------------------------------------
    def run(self, sample: str, build, sink) -> dict:
        """Build, plan and sink one query under the ledger; returns the
        sample's parts."""
        self.sample = sample
        self.stack = [["entry", time.perf_counter()]]
        self._set_group("entry")
        self.counting = True
        t0 = time.perf_counter()
        try:
            df = build()
            self.counting = False
            self._close_self()
            t1 = time.perf_counter()
            self._set_group("catalyst")
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            catalyst = {}
            for p in PHASES:
                opt = phases.get(p)
                catalyst[p] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
            t2 = time.perf_counter()
            self._set_group("exec")
            sink(df)
            t3 = time.perf_counter()
        finally:
            self.counting = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.stack = []
            self.sample = None
        plan_s = sum(catalyst.values())
        return {
            "wall_s": t3 - t0,
            "build_s": t1 - t0,
            "catalyst_interval_s": t2 - t1,
            "catalyst": catalyst,
            "catalyst_s": plan_s,
            "exec_s": t3 - t2,
            # analysis runs inside the build, so it counts once, as Catalyst
            "parts_s": (t1 - t0 - catalyst["analysis"]) + plan_s + (t3 - t2),
        }

    def layers(self, sample: str) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for (s, layer), v in self.self_s.items():
            if s == sample:
                out.setdefault(layer, {"self_s": 0.0, "py4j_calls": 0})["self_s"] += v
        for (s, layer), v in self.calls.items():
            if s == sample:
                out.setdefault(layer, {"self_s": 0.0, "py4j_calls": 0})["py4j_calls"] += v
        return out


# -- Spark event log ---------------------------------------------------------

# SQL metrics of the Arrow/pandas Python-worker operators
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _python_bytes(accumulables) -> int:
    return sum(int(a.get("Value", 0)) for a in accumulables if a.get("Name") in PYTHON_BYTES)


def event_log_files(event_dir: str, app_id: str) -> list[str]:
    """The application's event log: one file, or the ordered parts of a
    rolling log (``eventlog_v2_<app>/events_<n>_<app>``)."""
    import glob
    import re

    files = glob.glob(os.path.join(event_dir, f"*{app_id}*"))
    files += glob.glob(os.path.join(event_dir, f"*{app_id}*", f"events_*{app_id}*"))
    files = [f for f in files if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} in {event_dir}")
    return sorted(files, key=lambda f: int(m.group(1)) if (m := re.search(r"events_(\d+)_", f)) else 0)


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(paths: list[str]) -> dict[str, dict]:
    """Per job group: jobs, job wall, stages, stage retries, tasks,
    failed and empty tasks, and summed task metrics."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    g: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"]
            g[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
            jid = ev["Job ID"]
            g[job_group[jid]]["job_s"] += (ev["Completion Time"] - job_start[jid]) / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            g[group]["stages"] += 1
            if info.get("Stage Attempt ID", 0) > 0:
                g[group]["stage_retries"] += 1
            g[group]["python_bytes"] += _python_bytes(info.get("Accumulables", []))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            m = ev.get("Task Metrics") or {}
            a = g[group]
            a["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                a["failed_tasks"] += 1
            a["run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            records = (m.get("Input Metrics") or {}).get("Records Read", 0) + sr.get(
                "Total Records Read", 0
            )
            if records == 0:
                a["empty_tasks"] += 1
    return {k: dict(v) for k, v in g.items()}
