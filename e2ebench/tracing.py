"""Traced-run plumbing: in-memory spans around calls into the program's
layers, a Spark event-log parser, and self-time attribution.

Spans are recorded only from the benchmark's side of each layer
boundary: the benchmark wraps the program's public DataFrame-returning
functions (``sources.*``, ``operators.*``, ``plans.*``), the registry
query functions, the Catalyst phases and the sinks. Spark jobs come
from the event log afterwards and are attached as leaf spans to the
innermost span whose interval contains them.
"""

from __future__ import annotations

import bisect
import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "anime_data_pipeline_spark"
# Layers whose public DataFrame functions get spans (module paths under PACKAGE).
WRAPPED_LAYERS = ("sources", "operators", "plans")


class Tracer:
    """Spans as (id, name, layer, start, end, parent); times are epoch
    seconds so they line up with the JVM's event-log timestamps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.enabled = False

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "start": time.time(),
               "end": None, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(f"{layer}.{fn.__name__}", layer):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str, jobs: list[dict]) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
            for j in jobs:
                fh.write(json.dumps({"name": f"spark.job.{j['id']}", "layer": "spark.job",
                                     "start": j["start"], "end": j["end"],
                                     "parent": j.get("parent")}) + "\n")


def _returns_dataframe(fn) -> bool:
    """Functions annotated to return a DataFrame: plan construction.
    Column helpers are left alone; they are many, cheap and their time
    stays in the calling function's self time."""
    ret = getattr(fn, "__annotations__", {}).get("return")
    return isinstance(ret, str) and "DataFrame" in ret


def install_wrappers(tracer: Tracer) -> list[tuple[dict, str, object]]:
    """Replace every public DataFrame function of the wrapped layers with
    a spanned twin, in its defining module and in every package module
    that imported it by name. Returns the undo list."""
    for layer in WRAPPED_LAYERS:
        sub = importlib.import_module(f"{PACKAGE}.{layer}")
        for info in pkgutil.iter_modules(sub.__path__):
            importlib.import_module(f"{PACKAGE}.{layer}.{info.name}")
    originals: dict[int, object] = {}
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(f"{PACKAGE}.") or mod is None:
            continue
        layer = mod_name[len(PACKAGE) + 1:]
        if not layer.startswith(WRAPPED_LAYERS):
            continue
        for name, fn in vars(mod).items():
            if (inspect.isfunction(fn) and not name.startswith("_")
                    and fn.__module__ == mod_name and _returns_dataframe(fn)):
                originals[id(fn)] = (fn, tracer.wrap(fn, layer))
    spaces = [vars(mod) for name, mod in list(sys.modules.items())
              if mod is not None and (name == PACKAGE or name.startswith(f"{PACKAGE}."))]
    undo = []
    for ns in spaces:
        for name, val in list(ns.items()):
            hit = originals.get(id(val))
            if hit is not None and hit[0] is val:
                ns[name] = hit[1]
                undo.append((ns, name, val))
    return undo


def remove_wrappers(undo) -> None:
    for ns, name, val in undo:
        ns[name] = val


def catalyst_phases(df) -> dict[str, float]:
    """Force optimization + physical planning of ``df``'s own
    QueryExecution and read its phase tracker (milliseconds)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

def parse_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (id, start, end in epoch seconds, stage ids) and per-stage
    task-metric totals from the (uncompressed, non-rolling) event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path) or path.endswith(".crc"):
            continue
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"id": e["Job ID"], "start": e["Submission Time"] / 1e3,
                                         "end": None, "stages": e["Stage IDs"]}
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(e["Job ID"])
                    if j is not None:
                        j["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stages[info["Stage ID"]]["submitted"] = info.get("Submission Time", 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    s = stages[e["Stage ID"]]
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    s["tasks"] += 1
                    s["failed_tasks"] += 1 if info.get("Failed") or info.get("Killed") else 0
                    s["cpu_ns"] += m.get("Executor CPU Time", 0)
                    s["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    s["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    s["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in ("data sent to Python workers",
                                               "data returned from Python workers"):
                            s["python_bytes"] += float(acc.get("Update") or 0)
                        elif acc.get("Name") == "time to run Python workers":
                            s["python_run_ms"] += float(acc.get("Update") or 0)
    return [j for j in jobs.values() if j["end"] is not None], stages


def exec_metrics(jobs: list[dict], stages: dict[int, dict], t0: float, t1: float) -> dict:
    """exec.* totals over the jobs submitted inside [t0, t1]."""
    sel = [j for j in jobs if t0 <= j["start"] <= t1]
    # a job lists the stages it reuses too; count a stage where it ran
    ran = {sid for j in sel for sid in j["stages"]
           if t0 <= stages.get(sid, {}).get("submitted", -1.0) <= t1}
    tot = defaultdict(float)
    for sid in ran:
        for k, v in stages[sid].items():
            if k != "submitted":
                tot[k] += v
    mb = 1024.0 * 1024.0
    return {
        "exec.jobs": len(sel),
        "exec.stages": len(ran),
        "exec.tasks": int(tot["tasks"]),
        "exec.failed_tasks": int(tot["failed_tasks"]),
        "exec.task_cpu_s": tot["cpu_ns"] / 1e9,
        "exec.gc_s": tot["gc_ms"] / 1e3,
        "exec.shuffle_read_mb": tot["shuffle_read"] / mb,
        "exec.shuffle_write_mb": tot["shuffle_write"] / mb,
        "exec.spill_mb": tot["spill"] / mb,
        "exec.python_mb": tot["python_bytes"] / mb,
        "exec.python_run_s": tot["python_run_ms"] / 1e3,
    }


# ---------------------------------------------------------------------------
# Self time
# ---------------------------------------------------------------------------

_SLACK = 0.002  # JVM timestamps are whole milliseconds


def attach_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Parent each job to the innermost span containing its interval.
    Spans nest (they come from one call stack), so the innermost one is
    the containing span that started last."""
    order = sorted(spans, key=lambda s: s["start"])
    starts = [s["start"] for s in order]
    for j in jobs:
        j["parent"] = None
        i = bisect.bisect_right(starts, j["start"] + _SLACK)
        while i > 0:
            i -= 1
            s = order[i]
            if j["end"] <= s["end"] + _SLACK:
                j["parent"] = s["id"]
                break


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict], jobs: list[dict]) -> dict[int, dict]:
    """Per span: self seconds (duration minus the union of its child
    spans and child jobs), job seconds and job count of its own jobs."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    own_jobs: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    for j in jobs:
        if j.get("parent") is not None:
            children[j["parent"]].append((j["start"], j["end"]))
            own_jobs[j["parent"]].append((j["start"], j["end"]))
    out = {}
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["id"]] = {
            "self_s": max(0.0, dur - _union(children[s["id"]])),
            "job_s": _union(own_jobs[s["id"]]),
            "jobs": len(own_jobs[s["id"]]),
        }
    return out


def layer_summary(spans: list[dict], jobs: list[dict], t0: float, t1: float) -> dict[str, dict]:
    """Self seconds, own-job seconds and own-job count per layer, over
    the spans that start inside [t0, t1]."""
    st = self_times(spans, jobs)
    out: dict[str, dict] = defaultdict(lambda: {"self_s": 0.0, "job_s": 0.0, "jobs": 0, "calls": 0})
    for s in spans:
        if t0 <= s["start"] <= t1:
            row = out[s["layer"]]
            row["self_s"] += st[s["id"]]["self_s"]
            row["job_s"] += st[s["id"]]["job_s"]
            row["jobs"] += st[s["id"]]["jobs"]
            row["calls"] += 1
    return dict(out)
