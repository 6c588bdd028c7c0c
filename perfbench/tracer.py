"""Layer tracing from outside the package.

Spans are timed around calls into the package's public functions: every
public module-level function of ``tables``, ``operators.*``,
``sources.*``, ``vendor`` and ``sinks`` is wrapped, and every package
module that imported it is rebound to the wrapper. Each span sets the
Spark local property ``perfbench.span`` while it is open, so every job
in the event log names the innermost span that fired it. Spans stay in
memory; ``layer_report`` joins them with the event log once the session
has stopped.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import pkgutil
import sys
import time
from collections import defaultdict

PROP = "perfbench.span"
PKG = "food_panda_etl_spark"
LAYER_MODULES = {
    "tables": [f"{PKG}.tables"],
    "operators": [f"{PKG}.operators"],
    "sources": [f"{PKG}.sources"],
    "vendor": [f"{PKG}.vendor"],
    "sinks": [f"{PKG}.sinks"],
}
PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self._restore: list[tuple] = []

    def open(self, layer: str, name: str, **attrs) -> dict:
        rec = {
            "id": len(self.spans),
            "parent": self.stack[-1] if self.stack else None,
            "layer": layer,
            "name": name,
            "t0": time.time(),
            "p0": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self.sc.setLocalProperty(PROP, str(rec["id"]))
        return rec

    def close(self, rec: dict) -> None:
        rec["dur"] = time.perf_counter() - rec["p0"]
        rec["t1"] = time.time()
        self.stack.pop()
        self.sc.setLocalProperty(PROP, str(self.stack[-1]) if self.stack else None)

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        rec = self.open(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(rec)

    # -- wrapping the package's public functions -------------------------

    def install(self) -> int:
        for prefixes in LAYER_MODULES.values():
            for base in prefixes:
                mod = importlib.import_module(base)
                if hasattr(mod, "__path__"):
                    for info in pkgutil.iter_modules(mod.__path__, base + "."):
                        importlib.import_module(info.name)
        wrappers: dict = {}
        for modname, mod in list(sys.modules.items()):
            layer = _layer_of(modname)
            if layer is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj.__module__ == modname and not attr.startswith("_"):
                    wrappers[obj] = self._wrap(layer, f"{modname.rsplit('.', 1)[-1]}.{attr}", obj)
        for modname, mod in list(sys.modules.items()):
            if not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrappers:
                    self._restore.append((mod, attr, obj))
                    setattr(mod, attr, wrappers[obj])
        return len(wrappers)

    def uninstall(self) -> None:
        for mod, attr, obj in self._restore:
            setattr(mod, attr, obj)
        self._restore.clear()

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(layer, name, fn, *args, **kwargs)

        return traced


def _layer_of(modname: str) -> str | None:
    for layer, prefixes in LAYER_MODULES.items():
        for base in prefixes:
            if modname == base or modname.startswith(base + "."):
                return layer
    return None


# ------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their span), per-stage task totals and Python-node
    SQL metrics from every event-log file under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    py_row_acc: set[int] = set()

    def plan_ids(node: dict) -> None:
        if any(m in node.get("nodeName", "") for m in PY_NODE_MARKERS):
            for m in node.get("metrics", []):
                if m["name"] == "number of output rows":
                    py_row_acc.add(m["accumulatorId"])
        for child in node.get("children", []):
            plan_ids(child)

    stage_accs: dict[int, list] = {}
    sql_start: dict[int, float] = {}
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span, sql_id = props.get(PROP), props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = {
                        "t0": ev["Submission Time"] / 1000.0,
                        "span": int(span) if span not in (None, "") else None,
                        "sql": int(sql_id) if sql_id not in (None, "") else None,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    s = stages[ev["Stage ID"]]
                    s["tasks"] += 1
                    s["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    s["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    s["spill_b"] += m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]]["stages"] = 1
                    stage_accs[info["Stage ID"]] = info.get("Accumulables", [])
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    plan_ids(ev.get("sparkPlanInfo") or {})
                    if "time" in ev:
                        sql_start[ev["executionId"]] = ev["time"] / 1000.0
    for sid, accs in stage_accs.items():
        s = stages[sid]
        for a in accs:
            name = a.get("Name")
            if name == "data sent to Python workers":
                s["py_bytes_in"] += float(a.get("Value", 0))
            elif name == "data returned from Python workers":
                s["py_bytes_out"] += float(a.get("Value", 0))
            elif a.get("ID") in py_row_acc:
                s["py_rows_out"] += float(a.get("Value", 0))
    for sid, job in stage_job.items():
        if sid in stages and job in jobs:
            jobs[job].setdefault("stages", []).append(sid)
    for job in jobs.values():
        job["sql_t0"] = sql_start.get(job["sql"])
    return {"jobs": jobs, "stages": stages}


# --------------------------------------------------------------- report


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_report(spans: list[dict], log: dict, cores: int) -> tuple[list[dict], dict]:
    """Per-step records and pass totals from the spans of one traced pass
    and the event log of its session."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def ancestors(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    # The package-call spans under each step, with their ancestor chains.
    step_calls: dict[int, list[tuple[dict, list[dict]]]] = defaultdict(list)
    for s in spans:
        if s["layer"] in ("step", "build", "action"):
            continue
        chain = list(ancestors(s["id"]))
        step = next((a for a in chain if a["layer"] == "step"), None)
        if step is not None:
            step_calls[step["id"]].append((s, chain))

    # Every job fired under a traced step: which step, build or action,
    # and whether a tables.* call fired it.
    step_jobs: dict[int, dict[str, list]] = defaultdict(lambda: {"build": [], "action": []})
    schema_jobs = 0
    for jid, job in log["jobs"].items():
        if job["span"] not in by_id or "t1" not in job:
            continue
        chain = list(ancestors(job["span"]))
        phase = next((s["layer"] for s in chain if s["layer"] in ("build", "action")), None)
        step = next((s for s in chain if s["layer"] == "step"), None)
        if step is None or phase is None:
            continue
        step_jobs[step["id"]][phase].append(job)
        schema_jobs += any(s["layer"] == "tables" for s in chain)

    def stage_sum(jobs: list, key: str) -> float:
        return sum(log["stages"][sid].get(key, 0.0) for j in jobs for sid in j.get("stages", []) if sid in log["stages"])

    records = []
    tot: dict[str, float] = defaultdict(float)
    for step in (s for s in spans if s["layer"] == "step"):
        kids = {k["layer"]: k for k in children[step["id"]]}
        build, action = kids["build"], kids["action"]
        jobs = step_jobs[step["id"]]
        # Analysis runs eagerly while the plan is built (it is inside
        # build_s); optimization and planning count only if they ran in
        # this action, not in an earlier one on the same DataFrame.
        phases = step.get("phases", {})
        ph = {k: v for k, v in phases.items() if v["end"] / 1e3 >= action["t0"] - 0.002}
        # Execution starts when Catalyst hands over the physical plan and
        # runs to the action's return: codegen, AQE stages, jobs, results.
        # Where the tracker did not see the action (a write builds its own
        # QueryExecution), the hand-over is the SQL execution's start
        # event and everything before it in the action is planning.
        sql_t0 = min((j["sql_t0"] for j in jobs["action"] if j["sql_t0"]), default=None)
        if "planning" in ph:
            catalyst_s = sum(ph[k]["ms"] for k in ("optimization", "planning") if k in ph) / 1e3
            exec_t0 = ph["planning"]["end"] / 1e3
        elif sql_t0 is not None:
            catalyst_s = max(0.0, sql_t0 - action["t0"])
            exec_t0 = sql_t0
        else:
            catalyst_s, exec_t0 = 0.0, None
        exec_s = max(0.0, action["t1"] - exec_t0) if exec_t0 is not None else 0.0
        job_s = _union([(j["t0"], j["t1"]) for j in jobs["action"]])
        gap = step["dur"] - build["dur"] - catalyst_s - exec_s
        layer_s: dict[str, float] = defaultdict(float)
        self_s: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s, chain in step_calls[step["id"]]:
            calls[s["layer"]] += 1
            self_s[s["layer"]] += s["dur"] - sum(k["dur"] for k in children[s["id"]])
            if not any(a["layer"] == s["layer"] for a in chain[1:]):
                layer_s[s["layer"]] += s["dur"]
        rec = {
            "step": step["name"],
            "wall_s": step["dur"],
            "build_s": build["dur"],
            "catalyst_ms": {
                "analysis": phases["analysis"]["ms"] if "analysis" in phases else 0,
                **{k: ph[k]["ms"] if k in ph else 0 for k in ("optimization", "planning")},
            },
            "catalyst_s": catalyst_s,
            "exec_s": exec_s,
            "exec_job_s": job_s,
            "gap_s": gap,
            "reconciled": abs(gap) <= 0.05 * step["dur"],
            "build_jobs": len(jobs["build"]),
            "eager_job_s": _union([(j["t0"], j["t1"]) for j in jobs["build"]]),
            "action_jobs": len(jobs["action"]),
            "layer_s": dict(layer_s),
            "layer_self_s": dict(self_s),
            "layer_calls": dict(calls),
        }
        for key in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_b", "shuffle_write_b", "spill_b"):
            rec[f"exec_{key}"] = stage_sum(jobs["action"], key)
        rec["exec_stages"] = int(stage_sum(jobs["action"], "stages"))
        every = jobs["build"] + jobs["action"]
        for key in ("py_bytes_in", "py_bytes_out", "py_rows_out"):
            rec[key] = stage_sum(every, key)
        records.append(rec)

        tot["wall_s"] += step["dur"]
        tot["build_s"] += build["dur"]
        tot["catalyst_s"] += catalyst_s
        tot["exec_s"] += exec_s
        tot["exec_job_s"] += job_s
        for k, v in rec["catalyst_ms"].items():
            tot[f"catalyst_{k}_ms"] += v
        for key in ("build_jobs", "eager_job_s", "action_jobs", "exec_stages", "exec_tasks", "exec_run_s",
                    "exec_cpu_s", "exec_gc_s", "exec_shuffle_read_b", "exec_shuffle_write_b", "exec_spill_b",
                    "py_bytes_in", "py_bytes_out", "py_rows_out"):
            tot[key] += rec[key]
        if step.get("query"):
            tot["query_build_s"] += build["dur"]
            tot["query_build_jobs"] += rec["build_jobs"]
            tot["query_eager_job_s"] += rec["eager_job_s"]
        for layer, v in layer_s.items():
            tot[f"{layer}_s"] += v
        for layer, n in calls.items():
            tot[f"{layer}_calls"] += n
    tot["schema_jobs"] = schema_jobs
    tot["core_util"] = tot["exec_run_s"] / (tot["exec_s"] * cores) if tot["exec_s"] else 0.0
    tot["max_gap"] = max((abs(r["gap_s"]) / r["wall_s"] for r in records), default=0.0)
    tot["unreconciled"] = sum(not r["reconciled"] for r in records)
    return records, dict(tot)
