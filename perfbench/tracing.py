"""In-memory spans around the program's public functions, and the Spark
event-log counters, for the traced run.

Spans are recorded from the benchmark's side only: :func:`install`
replaces module attributes of the program with timing wrappers before
the query registry is imported, so every ``from x import f`` binding
the registry makes picks up the wrapper.  Nothing inside the program
changes.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from stats import self_time

PKG = "bigdata_project_hust_spark"

#: operator modules and the layer each one is reported under
OPERATOR_GROUPS = {
    "dedup": "dedup", "text": "text", "similarity": "similarity",
    "graph": "graph", "joins": "relational", "aggregations": "relational",
    "windows": "relational", "topk": "relational",
    "projections": "relational",
}
LAYERS = ("dedup", "text", "similarity", "graph", "relational")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None


class Tracer:
    """Thread-aware span recorder: each thread keeps its own stack, so
    spans opened in the streaming callback thread and in the lookup
    thread never parent each other."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent].rid
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), float("nan"),
                                   parent, rid))
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    # -- analysis -------------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                out[s.parent].append(i)
        return out

    def descendants(self, idx: int, kids: dict[int, list[int]]) -> list[int]:
        out, todo = [], list(kids.get(idx, ()))
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(kids.get(i, ()))
        return out

    def self_s(self, idx: int, kids: dict[int, list[int]]) -> float:
        s = self.spans[idx]
        return self_time(s.start, s.end,
                         [(self.spans[c].start, self.spans[c].end)
                          for c in kids.get(idx, ())])

    def select(self, prefix: str, t0: float, t1: float) -> list[int]:
        """Finished spans named ``prefix*`` that start in [t0, t1]."""
        return [i for i, s in enumerate(self.spans)
                if s.name.startswith(prefix) and t0 <= s.start <= t1
                and s.end == s.end]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _public_functions(mod) -> list[str]:
    return [n for n, v in vars(mod).items()
            if not n.startswith("_") and inspect.isfunction(v)
            and v.__module__ == mod.__name__]


def install(tracer: Tracer) -> None:
    """Wrap the program's layer entry points.  Must run before the
    query registry (``plans``) is imported."""
    if f"{PKG}.plans.queries" in sys.modules:
        raise RuntimeError("install() must run before the query registry "
                           "is imported")
    replaced: dict[int, object] = {}

    def patch(mod, attr: str, name: str) -> None:
        orig = getattr(mod, attr)
        wrapped = tracer.wrap(name, orig)
        setattr(mod, attr, wrapped)
        replaced[id(orig)] = wrapped

    session = importlib.import_module(f"{PKG}.session")
    patch(session, "get_spark", "session.get_spark")
    ck = importlib.import_module(f"{PKG}.checkpoint")
    patch(ck, "materialize", "checkpoint.materialize")
    patch(ck, "materialize_counted", "checkpoint.materialize_counted")
    io = importlib.import_module(f"{PKG}.io")
    patch(io, "load_table", "io.load_table")
    for mod_name, group in OPERATOR_GROUPS.items():
        mod = importlib.import_module(f"{PKG}.operators.{mod_name}")
        for fn in _public_functions(mod):
            patch(mod, fn, f"operators.{group}.{fn}")
    kl = importlib.import_module(f"{PKG}.sources.kafka_log")
    for fn in ("append_records", "create_topic"):
        patch(kl, fn, f"sources.kafka_log.{fn}")
    pipe = importlib.import_module(f"{PKG}.streaming.pipeline")
    patch(pipe, "kafka_shaped_stream", "streaming.pipeline.kafka_shaped_stream")
    mt = importlib.import_module(f"{PKG}.streaming.merge_table")
    cls = mt.MergeIntoParquetTable
    for meth in ("merge", "upsert_inc", "read"):
        setattr(cls, meth, tracer.wrap(f"streaming.merge_table.{meth}",
                                       getattr(cls, meth)))
    # rebind ``from x import f`` copies already taken by loaded modules
    for name, mod in list(sys.modules.items()):
        if not name.startswith(PKG) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            new = replaced.get(id(val))
            if new is not None and new is not val:
                setattr(mod, attr, new)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

@dataclass
class EngineCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    task_skew: float = 0.0
    jobs_by_group: dict | None = None


def read_event_log(log_dir: str, t0: float, t1: float) -> EngineCounters:
    """Counters of every job submitted in [t0, t1] (epoch seconds) and
    of the tasks of those jobs' stages."""
    lo, hi = t0 * 1000, t1 * 1000
    stage_job: dict[int, int] = {}
    in_window: set[int] = set()
    groups: dict[str, int] = defaultdict(int)
    task_ms: dict[int, list[float]] = defaultdict(list)
    c = EngineCounters()
    completed: set[int] = set()
    events = []
    # Spark 4 writes a rolling directory of event files per application
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            sub = ev.get("Submission Time", 0)
            if lo <= sub <= hi:
                job = ev["Job ID"]
                in_window.add(job)
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = job
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp:
                    groups[grp] += 1
    c.jobs = len(in_window)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                completed.add(sid)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid not in stage_job:
                continue
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            c.tasks += 1
            c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            c.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
            sr = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0)) / 2**20
            c.spill_mb += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0)) / 2**20
            c.input_mb += ((m.get("Input Metrics") or {})
                           .get("Bytes Read", 0)) / 2**20
            task_ms[sid].append(info.get("Finish Time", 0)
                                - info.get("Launch Time", 0))
    c.stages = len(completed)
    skews = []
    for durs in task_ms.values():
        if len(durs) >= 2:
            med = sorted(durs)[len(durs) // 2]
            skews.append(max(durs) / max(med, 1.0))
    c.task_skew = sum(skews) / len(skews) if skews else 1.0
    c.jobs_by_group = dict(groups)
    return c
