"""Tracing for the benchmark's ``--trace 1`` run.

Spans (name, start, end, parent, shared id per query or micro-batch) are kept
in memory and written out when the run ends.  The benchmark's own code wraps
each layer's public function: ``load_table`` / ``register_views`` are rebound
in every engine module that imported them, and the stream run wraps
``ForecastPipeline.process_batch`` and ``LinearForecaster.fit``.  Spark-side
counts come from the job groups set here and from a local, uncompressed,
non-rolling event log parsed after the session stops.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

JOB_GROUP = "spark.jobGroup.id"
BATCH_ID = "streaming.sql.batchId"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a line-JSON event log (Spark 4.1's default
    zstd-compressed rolling log is not line-JSON)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    trace_id: str


class Tracer:
    """Span recorder plus the job-group bookkeeping that ties Spark jobs to
    the layer that launched them."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.trace_id = ""
        self._stack: list[str] = []
        self.bookkeeping_s = 0.0
        self._unwrap: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, group: bool = True):
        """Record a span; with ``group`` the Spark jobs started inside it are
        tagged with job group ``<trace id>|<name>``, and the enclosing
        group is restored afterwards."""
        sc = self.spark.sparkContext if group else None
        prev = sc.getLocalProperty(JOB_GROUP) if group else None
        if group:
            sc.setLocalProperty(JOB_GROUP, f"{self.trace_id}|{name}")
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, self.trace_id))
            if group:
                sc.setLocalProperty(JOB_GROUP, prev)
            self.bookkeeping_s += time.perf_counter() - end

    def wrap(self, owner, attr: str, span_name: str, outermost_only: bool = False,
             group: bool = True) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.

        With ``outermost_only`` a call nested in a span of the same name (for
        example ``register_views`` calling ``load_table``) is not recorded
        again, so the layer's time is never counted twice."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if outermost_only and span_name in tracer._stack:
                return original(*args, **kwargs)
            with tracer.span(span_name, group=group):
                return original(*args, **kwargs)

        traced.__wrapped_original__ = original
        setattr(owner, attr, traced)
        self._unwrap.append((owner, attr, original))

    def wrap_catalog(self, package: str) -> int:
        """Rebind ``load_table`` / ``register_views`` in every loaded module of
        ``package`` that imported them; returns the number of rebinds."""
        catalog = sys.modules[f"{package}.catalog"]
        originals = {a: getattr(catalog, a) for a in ("load_table", "register_views")}
        n = 0
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == package or name.startswith(package + ".")):
                continue
            for attr, fn in originals.items():
                if getattr(mod, attr, None) is fn:
                    self.wrap(mod, attr, "catalog", outermost_only=True)
                    n += 1
        return n

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._unwrap):
            setattr(owner, attr, original)
        self._unwrap.clear()

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def total_s(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_s(self, name: str) -> float:
        """Time in ``name`` spans minus the time their child spans cover."""
        total = self.total_s(name)
        child = sum(s.end - s.start for s in self.spans if s.parent == name)
        return total - child

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning time (ms) of ``df``'s query
    execution, forcing physical planning first.  The tracker's phase map is a
    Scala Map, read with ``apply(k).durationMs()``."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        out[k] = float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0
    out["exchanges"] = float(sum(1 for line in plan.splitlines() if "Exchange" in line))
    return out


@dataclass
class StageTotals:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0


def parse_event_logs(log_dir: str) -> tuple[dict, dict]:
    """Read every event log in ``log_dir``.

    Returns ``jobs`` (job id -> {"group", "batch", "stages"}) and ``stages``
    (stage id -> StageTotals).  Job ids restart with each SparkContext, so
    keys are ``(log file, id)``."""
    jobs: dict = {}
    stages: dict = defaultdict(StageTotals)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[(path, ev["Job ID"])] = {
                        "group": props.get(JOB_GROUP),
                        "batch": props.get(BATCH_ID),
                        "stages": [(path, s) for s in ev.get("Stage IDs", [])],
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages[(path, ev["Stage ID"])]
                    st.tasks += 1
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.cpu_ns += m.get("Executor CPU Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    rd = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, dict(stages)


def job_totals(jobs: dict, stages: dict, select) -> dict[str, float]:
    """Sum jobs, stages that ran tasks, and task metrics over the jobs for
    which ``select(job)`` is true."""
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes"),
        0.0,
    )
    seen = set()
    for job in jobs.values():
        if not select(job):
            continue
        out["jobs"] += 1
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += st.tasks
            out["task_run_s"] += st.run_ms / 1000
            out["task_cpu_s"] += st.cpu_ns / 1e9
            out["gc_s"] += st.gc_ms / 1000
            out["shuffle_read_bytes"] += st.shuffle_read
            out["shuffle_write_bytes"] += st.shuffle_write
            out["spill_bytes"] += st.spill
    return out
