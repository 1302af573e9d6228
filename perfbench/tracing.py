"""Traced runs: spans around layer calls, stage metrics from the event log.

A ``Tracer`` wraps the engine's public functions from the outside (no engine
code changes).  Each wrapped call records a span (name, call site, start,
end, parent) in memory and, for its duration, sets the Spark job description
to its span path, so every job it launches carries the path in the event
log.  DataFrame actions are wrapped too, which gives ``count`` and
``parquet`` jobs a Python call site (``count@streaming/stream_pipeline.py:331``)
where Spark itself records only ``NativeMethodAccessorImpl.java:0``.

Stage numbers come from Spark's own event log, written uncompressed
(``spark.eventLog.compress=false``: the default zstd codec needs the
``zstandard`` module to read back) as a rolling ``eventlog_v2_<app>/events_*``
directory.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "mysql_cdc_rs_spark"

# (module, attribute) of each layer's public entry points.  A dotted
# attribute names a method on a class.
LAYER_CALLS = [
    ("functions.udfs", "make_decode_udf"),
    ("operators.decode", "decode_pages"),
    ("operators.enrich", "enrich"),
    ("operators.route", "write_routes"),
    ("operators.dedup", "banded_buckets"),
    ("operators.dedup", "lsh_candidate_pairs"),
    ("plans.checkpoint", "lineage_summary"),
    ("plans.pipeline", "run_pipeline"),
    ("plans.training_pipeline", "curate"),
    ("plans.training_pipeline", "release"),
    ("streaming.stream_pipeline", "start_curation_stream"),
    ("streaming.stream_pipeline", "seen_positions"),
    ("sources.testdata", "spread"),
    ("sources.pages_from_documents", "pages_from_documents"),
    ("sources.catalog", "SinkCatalog.append"),
    ("sources.catalog", "SinkCatalog.overwrite"),
    ("queries", "ordered"),
]
ACTIONS = [
    ("pyspark.sql.classic.dataframe", "DataFrame.count"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet"),
    ("pyspark.sql.readwriter", "DataFrameWriter.save"),
]
BROADCAST_METRICS = {"time to collect", "time to build", "time to broadcast"}
PYTHON_METRICS = {
    "time to run Python workers": "python_run",
    "time to initialize Python workers": "python_init",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


@dataclass
class Span:
    name: str
    at: str
    start: float
    end: float = 0.0
    parent: int | None = None


def _call_site() -> str:
    """``path:line`` of the first frame outside this module, pyspark and
    contextlib."""
    f = sys._getframe(2)
    while f is not None:
        path = f.f_code.co_filename
        if path != __file__ and "/pyspark/" not in path and not path.endswith(
            "contextlib.py"
        ):
            for root in (f"/{PKG}/", "/perfbench/"):
                if root in path:
                    return path[path.rindex(root) + 1 :] + f":{f.f_lineno}"
            return os.path.basename(path) + f":{f.f_lineno}"
        f = f.f_back
    return "?"


class Tracer:
    """Spans kept in memory until the run ends; one stack per thread."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def path(self) -> str:
        return " > ".join(
            f"{self.spans[i].name}@{self.spans[i].at}" for i in self._stack()
        )

    @contextmanager
    def span(self, name: str, at: str | None = None):
        stack = self._stack()
        s = Span(
            name,
            at or _call_site(),
            time.time(),
            parent=stack[-1] if stack else None,
        )
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        prev = self.sc.getLocalProperty("spark.job.description")
        stack.append(idx)
        self.sc.setLocalProperty("spark.job.description", self.path())
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.job.description", prev)

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, _call_site()):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Patch every layer entry point and DataFrame action, including the
        names other engine modules imported with ``from ... import``."""
        import importlib

        for mod_name, attr in LAYER_CALLS + ACTIONS:
            full = mod_name if mod_name.startswith("pyspark") else f"{PKG}.{mod_name}"
            owner = importlib.import_module(full)
            label = attr if mod_name.startswith("pyspark") else f"{mod_name}.{attr}"
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(owner, cls_name)
                self._patch(owner, meth, label)
                continue
            orig = getattr(owner, attr)
            wrapped = self._patch(owner, attr, label)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG) and m is not owner:
                    if m.__dict__.get(attr) is orig:
                        self._patched.append((m, attr, orig))
                        setattr(m, attr, wrapped)

    def _patch(self, owner, attr: str, label: str):
        orig = getattr(owner, attr)
        wrapped = self._wrap(orig, label)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)
        return wrapped

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(i, 0.0)
        return out


# --- event log ----------------------------------------------------------------


@dataclass
class Stage:
    id: int
    tasks: list[float] = field(default_factory=list)  # run time, s
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    bytes_written: int = 0
    scopes: set = field(default_factory=set)
    accum: dict = field(default_factory=dict)

    @property
    def task_s(self) -> float:
        return sum(self.tasks)

    def label(self) -> str:
        keep = [
            s for s in sorted(self.scopes)
            if not s.startswith(("WholeStageCodegen", "mapPartitions", "map"))
        ]
        return f"stage {self.id}: " + ", ".join(keep[:6])


@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    desc: str = ""
    stages: list[int] = field(default_factory=list)


def _plan_metrics(node: dict, names: set, out: dict, exec_id: int) -> None:
    for m in node.get("metrics", []):
        if m.get("name") in names:
            out[m["accumulatorId"]] = exec_id
    for child in node.get("children", []):
        _plan_metrics(child, names, out, exec_id)


def read_event_log(log_dir: str, app_id: str) -> tuple[dict, dict, list]:
    """Jobs, completed stages and broadcast builds of one application's
    rolling event log.  Broadcasts are ``(query start, seconds)`` pairs from
    the driver-side SQL metrics of each broadcast exchange."""
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    exec_start: dict[int, float] = {}
    bcast_ids: dict[int, int] = {}
    broadcasts: list[tuple[float, float]] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    if "time" in e:
                        exec_start[e["executionId"]] = e["time"] / 1000
                    _plan_metrics(
                        e["sparkPlanInfo"], BROADCAST_METRICS, bcast_ids, e["executionId"]
                    )
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in e.get("accumUpdates", []):
                        if acc_id in bcast_ids:
                            t = exec_start.get(e["executionId"], 0.0)
                            broadcasts.append((t, value / 1000))
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"],
                        e["Submission Time"] / 1000,
                        desc=props.get("spark.job.description") or "",
                        stages=list(e.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                    st.tasks.append(m.get("Executor Run Time", 0) / 1000)
                    st.gc_s += m.get("JVM GC Time", 0) / 1000
                    r = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += r.get("Remote Bytes Read", 0) + r.get(
                        "Local Bytes Read", 0
                    )
                    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st.bytes_written += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    for rdd in info.get("RDD Info", []):
                        try:
                            st.scopes.add(json.loads(rdd.get("Scope") or "{}").get("name", ""))
                        except ValueError:
                            pass
                    for a in info.get("Accumulables", []):
                        key = PYTHON_METRICS.get(a.get("Name"))
                        if key:
                            st.accum[key] = st.accum.get(key, 0) + int(a.get("Value") or 0)
    stages = {k: v for k, v in stages.items() if v.tasks}
    return jobs, stages, broadcasts


def jobs_between(jobs: dict, t0: float, t1: float) -> list[Job]:
    return [j for j in jobs.values() if t0 <= j.submit <= t1]


def busy_s(jobs: list[Job], t0: float, t1: float) -> float:
    """Wall time inside [t0, t1] covered by at least one running job."""
    spans = sorted((max(j.submit, t0), min(j.end or t1, t1)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stage_metrics(op_stages: list[Stage]) -> dict:
    """The per-workload stage table of one operation."""
    task_s = sum(s.task_s for s in op_stages)
    dom = max(op_stages, key=lambda s: s.task_s) if op_stages else None
    skew = 0.0
    if dom is not None and dom.tasks:
        med = statistics.median(dom.tasks)
        skew = max(dom.tasks) / med if med > 0 else 1.0
    py = [s for s in op_stages if "python_run" in s.accum]
    return {
        "stage.count": len(op_stages),
        "stage.tasks": sum(len(s.tasks) for s in op_stages),
        "stage.task_s": task_s,
        "stage.gc_s": sum(s.gc_s for s in op_stages),
        "stage.shuffle_read_bytes": sum(s.shuffle_read for s in op_stages),
        "stage.shuffle_write_bytes": sum(s.shuffle_write for s in op_stages),
        "stage.spill_bytes": sum(s.spill for s in op_stages),
        "stage.skew_max": skew,
        "stage.dominant_share": (dom.task_s / task_s) if task_s else 0.0,
        "stage.dominant": dom.label() if dom else "",
        "functions.python_stages": len(py),
        "functions.python_run_s": sum(s.accum.get("python_run", 0) for s in py) / 1000,
        # Python-worker time over all task time of the operation
        "functions.python_share": (
            sum(s.accum.get("python_run", 0) for s in py) / 1000 / task_s if task_s else 0.0
        ),
        "functions.python_init_s": sum(s.accum.get("python_init", 0) for s in py) / 1000,
        "functions.bytes_to_python": sum(s.accum.get("bytes_to_python", 0) for s in py),
        "functions.bytes_from_python": sum(
            s.accum.get("bytes_from_python", 0) for s in py
        ),
    }


def median_of(records: list[dict]) -> dict:
    """Key-wise median over per-operation records (strings: most common)."""
    out: dict = {}
    for k in records[0]:
        vals = [r[k] for r in records if k in r]
        if isinstance(vals[0], str):
            out[k] = max(set(vals), key=vals.count)
        else:
            out[k] = statistics.median(vals)
    return out
