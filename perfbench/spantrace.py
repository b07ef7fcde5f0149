"""Span tracing for the traced benchmark run, applied from outside the engine.

:class:`Tracer` wraps public methods of the engine's classes for the length
of one timed window. Each call becomes a span (name, start, end, parent);
while a span is open the Spark job group is set to its id, so every Spark job
is charged to the innermost span that launched it. After the session stops,
:func:`layer_metrics` joins the spans with the Spark event log (job → stages
→ task metrics and SQL accumulators) and reduces them to per-layer metrics.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

#: (layer name, class attribute path, method) pairs wrapped in traced runs
TRACED_METHODS = [
    ("pipeline.process_batch", "data_pipelines_spark.streaming.pipeline.CdcPipeline", "process_batch"),
    ("pipeline.change_filtered", "data_pipelines_spark.streaming.pipeline.CdcPipeline", "change_filtered"),
    ("table.merge", "data_pipelines_spark.lake.table.LakeTable", "merge"),
    ("table.compact", "data_pipelines_spark.lake.table.LakeTable", "compact"),
    ("table.change_log", "data_pipelines_spark.lake.table.LakeTable", "change_log"),
    ("cascade.sync", "data_pipelines_spark.lake.cascade.Cascade", "sync"),
    ("aggview.update", "data_pipelines_spark.lake.aggview.AggView", "update"),
    (
        "incremental.minhash.process_batch",
        "data_pipelines_spark.operators.incremental.MinHashIndex",
        "process_batch",
    ),
    # MinHashIndex inherits retract from the index base class
    ("incremental.minhash.retract", "data_pipelines_spark.operators.incremental._BatchStore", "retract"),
]

#: SQL metric names of the Python-UDF operators (Arrow eval nodes)
PY_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "bytes_to_python",
    "number of output rows": "rows",
}


#: SQL metric type → factor to seconds (timings) or 1 (sizes, counts)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _resolve(path: str):
    mod, _, cls = path.rpartition(".")
    module = __import__(mod, fromlist=[cls])
    return getattr(module, cls)


class Span:
    __slots__ = ("id", "name", "parent", "t0", "t1", "result")

    def __init__(self, sid: str, name: str, parent: "Span | None"):
        self.id = sid
        self.name = name
        self.parent = parent
        self.t0 = time.time()
        self.t1 = None
        self.result = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans in memory; a disabled tracer records nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list[tuple[type, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(f"pb-{len(self.spans)}", name, self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].id, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def install(self) -> None:
        """Wrap every method in TRACED_METHODS; undone by :meth:`uninstall`."""
        if not self.enabled:
            return
        for name, path, meth in TRACED_METHODS:
            cls = _resolve(path)
            orig = cls.__dict__[meth]
            self._saved.append((cls, meth, orig))
            setattr(cls, meth, self._wrap(name, orig))

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._saved):
            setattr(cls, meth, orig)
        self._saved.clear()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                s.result = fn(*args, **kwargs)
                return s.result

        return wrapper


# ---------------------------------------------------------------- event log


def _plan_python_accums(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    """Collect the accumulator ids of Python-UDF node metrics in a plan tree."""
    if "EvalPython" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            if m["name"] in PY_METRICS:
                scale = _SCALE.get(m.get("metricType"), 1.0)
                out[m["accumulatorId"]] = (PY_METRICS[m["name"]], scale)
    for child in plan.get("children", []):
        _plan_python_accums(child, out)


def read_event_log(log_dir: str) -> dict:
    """Parse the (uncompressed, non-rolling) event log of the one app."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    tasks: list[dict] = []
    py_accums: dict[int, tuple[str, float]] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[jid] = {"group": group, "start": ev["Submission Time"] / 1e3, "end": None}
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stage_submit[info["Stage ID"]] = info["Submission Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "type": ev["Task Type"],
                    "ok": ev["Task End Reason"]["Reason"] == "Success",
                    "launch": info["Launch Time"] / 1e3,
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "out_b": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "in_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "accums": {a["ID"]: a.get("Update") for a in info.get("Accumulables", [])},
                })
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_python_accums(ev.get("sparkPlanInfo", {}), py_accums)
    return {
        "jobs": jobs, "stage_job": stage_job, "stage_submit": stage_submit,
        "tasks": tasks, "py_accums": py_accums,
    }


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(
    spans: list[Span], log: dict, n_batches: int, events: int
) -> dict[str, float]:
    """Reduce spans + event log to the per-layer metrics (window totals).
    ``events`` is the number of change events handed to ``process_batch``."""
    by_id = {s.id: s for s in spans}
    children: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent.id].append(s)

    def self_time(s: Span) -> float:
        return s.dur - sum(c.dur for c in children[s.id])

    def root_of(s: Span) -> Span:
        while s.parent is not None:
            s = s.parent
        return s

    # jobs and tasks of the window, each charged to the innermost span
    span_jobs: dict[str, list[int]] = defaultdict(list)
    for jid, j in log["jobs"].items():
        if j["group"] in by_id:
            span_jobs[j["group"]].append(jid)
    job_tasks: dict[int, list[dict]] = defaultdict(list)
    for t in log["tasks"]:
        jid = log["stage_job"].get(t["stage"])
        if jid is not None and log["jobs"][jid]["group"] in by_id:
            job_tasks[jid].append(t)

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    def jobs_of(ss: list[Span]) -> list[int]:
        return [jid for s in ss for jid in span_jobs[s.id]]

    def tasks_of(ss: list[Span]) -> list[dict]:
        return [t for jid in jobs_of(ss) for t in job_tasks[jid]]

    all_tasks = [t for ts in job_tasks.values() for t in ts]
    merges, compacts = named("table.merge"), named("table.compact")
    batches = named("pipeline.process_batch")
    lookups = named("table.read_keys")
    merge_tasks = tasks_of(merges)

    out: dict[str, float] = {}
    out["pipeline.process_batch.s"] = sum(s.dur for s in batches)
    out["pipeline.process_batch.self_s"] = sum(self_time(s) for s in batches)
    batch_jobs = sum(
        len(span_jobs[s.id]) for s in spans if root_of(s).name == "pipeline.process_batch"
    )
    out["spark.jobs_per_batch"] = batch_jobs / max(1, n_batches)
    out["spark.gc_s"] = sum(t["gc_s"] for t in all_tasks)
    out["spark.task_wait_s"] = sum(
        max(0.0, t["launch"] - log["stage_submit"].get(t["stage"], t["launch"]))
        for t in all_tasks
    )

    out["table.merge.s"] = sum(s.dur for s in merges)
    out["table.merge.jobs"] = len(jobs_of(merges))
    out["table.merge.tasks"] = len(merge_tasks)
    out["table.merge.failed_tasks"] = sum(1 for t in merge_tasks if not t["ok"])
    out["table.merge.map_task_s"] = sum(t["run_s"] for t in merge_tasks if t["type"] == "ShuffleMapTask")
    out["table.merge.reduce_task_s"] = sum(t["run_s"] for t in merge_tasks if t["type"] == "ResultTask")
    out["table.merge.shuffle_bytes"] = sum(t["shuffle_w"] for t in merge_tasks)
    out["table.merge.output_bytes"] = sum(t["out_b"] for t in merge_tasks)
    driver_s = 0.0
    for s in merges:
        busy = [
            (max(s.t0, log["jobs"][j]["start"]), min(s.t1, log["jobs"][j]["end"] or s.t1))
            for j in span_jobs[s.id]
        ]
        driver_s += self_time(s) - _union_len([b for b in busy if b[1] > b[0]])
    out["table.merge.driver_s"] = driver_s
    stats = [s.result for s in merges if s.result is not None]
    out["table.merge.files_written"] = sum(st.files_written for st in stats)
    out["table.merge.rows_written"] = sum(st.rows_in for st in stats)
    # a silver merge is handed the change rows its bronze commit wrote, which
    # are already one per key, so its rows in equal its rows written
    out["table.merge.rows_in"] = events + sum(
        s.result.rows_in for s in merges
        if s.result is not None and s.parent is not None and s.parent.name == "cascade.sync"
    )
    out["table.merge.dedup_ratio"] = out["table.merge.rows_written"] / max(1, out["table.merge.rows_in"])

    py = defaultdict(float)
    for t in merge_tasks:
        for aid, v in t["accums"].items():
            if aid in log["py_accums"]:
                key, scale = log["py_accums"][aid]
                py[key] += _num(v) * scale
    for key in PY_METRICS.values():
        out[f"html.decode.{key}"] = py[key]

    for name in ("pipeline.change_filtered", "table.change_log", "aggview.update"):
        ss = named(name)
        out[f"{name}.s"] = sum(s.dur for s in ss)
        out[f"{name}.jobs"] = len(jobs_of(ss))
    syncs = named("cascade.sync")
    out["cascade.sync.s"] = sum(s.dur for s in syncs)
    out["cascade.sync.self_s"] = sum(self_time(s) for s in syncs)
    out["cascade.sync.jobs"] = len(jobs_of(syncs))

    out["table.compact.s"] = sum(s.dur for s in compacts)
    out["table.compact.calls"] = len(compacts)
    out["table.compact.buckets"] = sum(
        s.result.buckets_touched for s in compacts if s.result is not None
    )
    out["table.compact.jobs"] = len(jobs_of(compacts))
    out["table.compact.bytes_written"] = sum(t["out_b"] for t in tasks_of(compacts))

    out["table.read_keys.s"] = sum(s.dur for s in lookups)
    out["table.read_keys.jobs"] = len(jobs_of(lookups))
    out["table.read_keys.bytes_read"] = sum(t["in_b"] for t in tasks_of(lookups))

    for name in ("incremental.minhash.process_batch", "incremental.minhash.retract"):
        ss = named(name)
        out[f"{name}.s"] = sum(s.dur for s in ss)
        out[f"{name}.jobs"] = len(jobs_of(ss))
    return out
