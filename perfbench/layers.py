"""Turns the traced passes' ledger and event-log groups into the
per-layer metrics and the per-query table.

Every metric is a per-pass total over the workload's queries (a ratio
is taken over those totals), and the reported value is its median over
the traced passes.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import stats

BUILD_LAYERS = ("entry", "core", "scan", "blocked_route", "operators")
GROUPS = BUILD_LAYERS + ("catalyst", "exec")
EXEC_KEYS = (
    "run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "python_bytes", "empty_tasks", "tasks",
)

UNITS = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "entry.build_s": "s",
    "entry.py4j_calls": "count",
    "core.build_s": "s",
    "core.py4j_calls": "count",
    "core.build_jobs": "count",
    "core.build_job_s": "s",
    "scan.build_s": "s",
    "scan.build_jobs": "count",
    "blocked_route.probes": "count",
    "blocked_route.probe_useful_frac": "fraction",
    "operators.build_s": "s",
    "operators.py4j_calls": "count",
    "operators.build_jobs": "count",
    "operators.build_job_s": "s",
    "catalyst.plan_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.idle_core_frac": "fraction",
    "scheduler.failed_tasks": "count",
    "scheduler.stage_retries": "count",
    "exec.s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_bytes": "bytes",
    "exec.empty_task_frac": "fraction",
    "trace.overhead_frac": "fraction",
    "trace.parts_gap_max": "fraction",
}


def _sample(s: dict, led, events: dict) -> dict:
    """One traced query sample: its parts, its layers and its jobs."""
    sid = s["sample"]
    ev = {g: events.get(f"{sid}/{g}", {}) for g in GROUPS}
    layers = led.layers(sid)
    lay = {
        layer: {
            "self_s": layers.get(layer, {}).get("self_s", 0.0),
            "py4j_calls": layers.get(layer, {}).get("py4j_calls", 0),
            "jobs": int(ev[layer].get("jobs", 0)),
            "job_s": ev[layer].get("job_s", 0.0),
        }
        for layer in BUILD_LAYERS
    }
    routes = led.routes.get(sid, [])
    sched = {k: int(sum(e.get(k, 0) for e in ev.values()))
             for k in ("jobs", "stages", "tasks", "failed_tasks", "stage_retries")}
    return {
        **{k: s[k] for k in ("wall_s", "build_s", "catalyst_s", "catalyst", "exec_s", "parts_s")},
        "parts_gap": s["parts_s"] / s["wall_s"] - 1.0,
        "layers": lay,
        "probes": sum(probed for probed, _ in routes),
        "useful_probes": sum(probed and blocked for probed, blocked in routes),
        "scheduler": sched,
        "exec": {k: ev["exec"].get(k, 0) for k in EXEC_KEYS},
    }


def _pass_totals(samples: list[dict], cores: int) -> dict[str, float]:
    def tot(f):
        return sum(f(s) for s in samples)

    def lay(layer, key):
        return tot(lambda s: s["layers"][layer][key])

    probes = tot(lambda s: s["probes"])
    exec_s = tot(lambda s: s["exec_s"])
    tasks = tot(lambda s: s["exec"]["tasks"])
    out = {
        "entry.build_s": lay("entry", "self_s"),
        "entry.py4j_calls": lay("entry", "py4j_calls"),
        "scan.build_s": lay("scan", "self_s") + lay("blocked_route", "self_s"),
        "scan.build_jobs": lay("scan", "jobs") + lay("blocked_route", "jobs"),
        "blocked_route.probes": probes,
        "blocked_route.probe_useful_frac": tot(lambda s: s["useful_probes"]) / probes if probes else 0.0,
        "catalyst.plan_s": tot(lambda s: s["catalyst_s"]),
        "scheduler.idle_core_frac": 1.0 - tot(lambda s: s["exec"]["run_s"]) / (exec_s * cores),
        "exec.s": exec_s,
        "exec.task_cpu_s": tot(lambda s: s["exec"]["cpu_s"]),
        "exec.gc_s": tot(lambda s: s["exec"]["gc_s"]),
        "exec.empty_task_frac": tot(lambda s: s["exec"]["empty_tasks"]) / tasks if tasks else 0.0,
    }
    for layer in ("core", "operators"):
        out[f"{layer}.build_s"] = lay(layer, "self_s")
        out[f"{layer}.py4j_calls"] = lay(layer, "py4j_calls")
        out[f"{layer}.build_jobs"] = lay(layer, "jobs")
        out[f"{layer}.build_job_s"] = lay(layer, "job_s")
    for k in ("jobs", "stages", "tasks", "failed_tasks", "stage_retries"):
        out[f"scheduler.{k}"] = tot(lambda s: s["scheduler"][k])
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "python_bytes"):
        out[f"exec.{k}"] = tot(lambda s: s["exec"][k])
    return out


def per_layer(passes, led, events, setups, cores):
    """``(metrics, per_query)``: the per-layer metrics in the result's
    format, and every traced sample grouped by query."""
    traced = [p for p in passes if p["kind"] == "traced"]
    untraced = [p for p in passes if p["kind"] == "timed"]
    per_query: dict[str, list] = defaultdict(list)
    totals = []
    for p in traced:
        samples = []
        for name, s in p["ledger"].items():
            rec = _sample(s, led, events)
            per_query[name].append(rec)
            samples.append(rec)
        totals.append(_pass_totals(samples, cores))
    values = {k: statistics.median([t[k] for t in totals]) for k in totals[0]}
    values["session.start_s"] = statistics.median([s["session_s"] for s in setups])
    values["sources.load_s"] = statistics.median([s["load_s"] for s in setups])
    traced_s = statistics.median([p["wall_s"] for p in traced])
    values["trace.overhead_frac"] = traced_s / statistics.median([p["wall_s"] for p in untraced]) - 1.0
    values["trace.parts_gap_max"] = max(abs(r["parts_gap"]) for rs in per_query.values() for r in rs)
    missing = set(UNITS) - set(values)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
    metrics = {k: {"value": float(values[k]), "unit": UNITS[k]} for k in UNITS}
    return metrics, dict(per_query)


def print_table(workload: str, per_query: dict[str, list]) -> None:
    """Per query, medians over its traced samples."""
    print(f"\n{workload}: traced samples per query (medians)")
    print(f"{'query':18s} {'n':>2s} {'wall':>7s} {'build':>7s} {'catal':>7s} {'exec':>7s} "
          f"{'parts/wall':>10s} {'py4j':>6s} {'bjobs':>5s} {'jobs':>4s} {'stages':>6s} {'tasks':>5s} {'pyKB':>7s}")
    for name, rs in per_query.items():
        def m(f):
            return statistics.median([f(r) for r in rs])
        print(
            f"{name:18s} {len(rs):2d} {m(lambda r: r['wall_s']):7.3f} {m(lambda r: r['build_s']):7.3f} "
            f"{m(lambda r: r['catalyst_s']):7.3f} {m(lambda r: r['exec_s']):7.3f} "
            f"{m(lambda r: r['parts_s'] / r['wall_s']):10.3f} "
            f"{m(lambda r: sum(v['py4j_calls'] for v in r['layers'].values())):6.0f} "
            f"{m(lambda r: sum(v['jobs'] for v in r['layers'].values())):5.0f} "
            f"{m(lambda r: r['scheduler']['jobs']):4.0f} {m(lambda r: r['scheduler']['stages']):6.0f} "
            f"{m(lambda r: r['scheduler']['tasks']):5.0f} {m(lambda r: r['exec']['python_bytes']) / 1024:7.0f}"
        )
