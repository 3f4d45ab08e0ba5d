"""Spans around eager calls, attributed Spark task metrics from the event log.

The tracer records spans (name, start, end, parent) in memory and sets a
Spark job group per span, so every job a span launches carries the
span's id into Spark's event log. Functions that run inside the
program's own drivers (``run_pipeline_in_memory``, ``minhash_lsh_pairs``,
...) are wrapped at runtime from here; the program's source is never
edited.

Spark is lazy, so only a span around an eager call (a pin to scratch,
a collect, a count) owns real work. After the session stops,
:func:`read_event_log` reads the finished log and :func:`attribute`
hangs every stage's task metrics on the span whose job group submitted
it (or, for a stage without one, on the innermost span open at its
submission time). SQL plan-node metrics ("number of output rows" of
one operator) are read from the same log: the final plan of each SQL
execution and the accumulator updates of its tasks.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"

# task-metric fields summed per span (event-log TaskEnd → our names)
STAT_KEYS = (
    "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_bytes", "input_records",
    "py_sent_bytes", "py_recv_bytes", "jobs",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    self_stats: dict = field(default_factory=dict)
    stages: list = field(default_factory=list)
    executions: set = field(default_factory=set)  # SQL executions of its own jobs
    accums: Counter = field(default_factory=Counter)  # accumulator id → summed task updates

    @property
    def wall(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory span recorder. One instance per traced run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.plans: dict[int, dict] = {}  # SQL execution id → final plan (from the event log)

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        gid = None if span is None else f"{GROUP_PREFIX}{span.id}"
        desc = None if span is None else span.name
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        self.sc.setLocalProperty("spark.job.description", desc)

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # a span opened on a Spark callback thread (foreachBatch) was
        # caused by whatever the main thread is waiting in
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            s = Span(next(self._ids), name, parent.id if parent else None, time.time(), attrs=attrs)
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def wrap(self, owner, attr: str, name, attrs=None) -> None:
        """Replace ``owner.attr`` by a spanned twin. ``name`` is the span
        name, or a function of the call's arguments returning it;
        ``attrs``, if given, maps the call's arguments to span attributes."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            n = name(*args, **kwargs) if callable(name) else name
            with self.span(n, **(attrs(*args, **kwargs) if attrs else {})):
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


# ------------------------------------------------------------ event log

def _int(value) -> int | None:
    try:
        return int(value)
    except (TypeError, ValueError):
        return None


def _acc(task_info: dict, name: str) -> int:
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            return _int(a.get("Update", 0)) or 0
    return 0


def _part_index(name: str) -> int:
    return int(name.split("_")[1]) if name.startswith("events_") else -1


def _lines(paths):
    for p in paths:
        with open(p) as fh:
            yield from fh


def read_event_log(log_dir: str) -> dict:
    """→ {"stages": {stage_id: {"group", "submitted", "execution", "accums",
                              "tasks": [task dict]}},
          "jobs": [{"group", "submitted"}],
          "plans": {execution id: final sparkPlanInfo}}
    from the single log in ``log_dir``."""
    logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    path = os.path.join(log_dir, logs[0])
    # a rolling (v2) log is a directory of numbered event files
    parts = ([os.path.join(path, f) for f in sorted(os.listdir(path), key=_part_index)
              if f.startswith("events_")] if os.path.isdir(path) else [path])
    stages: dict[int, dict] = {}
    jobs: list[dict] = []
    plans: dict[int, dict] = {}
    for line in _lines(parts):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs.append({
                "group": props.get("spark.jobGroup.id"),
                "submitted": ev.get("Submission Time", 0) / 1000.0,
            })
            for sid in ev.get("Stage IDs", []):
                stages.setdefault(sid, {"tasks": []})["execution"] = _int(
                    props.get("spark.sql.execution.id"))
        elif (kind or "").endswith((".SparkListenerSQLExecutionStart",
                                    ".SparkListenerSQLAdaptiveExecutionUpdate")):
            plans[ev["executionId"]] = ev["sparkPlanInfo"]  # the last one is final
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], {"tasks": []})
            st["group"] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            st["submitted"] = info.get("Submission Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st = stages.setdefault(ev["Stage ID"], {"tasks": []})
            accums = st.setdefault("accums", Counter())
            for a in info.get("Accumulables", []):
                v = _int(a.get("Update"))
                if v is not None:
                    accums[a.get("ID")] += v
            st["tasks"].append({
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                "py_sent_bytes": _acc(info, "data sent to Python workers"),
                "py_recv_bytes": _acc(info, "data returned from Python workers"),
            })
    return {"stages": stages, "jobs": jobs, "plans": plans}


def _owner(spans: list[Span], by_id: dict[int, Span], group: str | None, t: float) -> Span | None:
    if group and group.startswith(GROUP_PREFIX):
        s = by_id.get(int(group[len(GROUP_PREFIX):]))
        if s is not None:
            return s
    # innermost (latest-started) span open at time t
    best = None
    for s in spans:
        if s.start <= t <= (s.end or t) and (best is None or s.start >= best.start):
            best = s
    return best


def attribute(tracer: Tracer, log: dict) -> None:
    """Fill every span's ``self_stats`` (and ``stages``) from the log."""
    by_id = {s.id: s for s in tracer.spans}
    tracer.plans = log["plans"]
    for s in tracer.spans:
        s.self_stats = dict.fromkeys(STAT_KEYS, 0)
        s.stages = []
        s.executions, s.accums = set(), Counter()
    for job in log["jobs"]:
        s = _owner(tracer.spans, by_id, job["group"], job["submitted"])
        if s is not None:
            s.self_stats["jobs"] += 1
    for st in log["stages"].values():
        s = _owner(tracer.spans, by_id, st.get("group"), st.get("submitted", 0))
        if s is None:
            continue
        s.stages.append([t["run_s"] for t in st["tasks"]])
        if st.get("execution") is not None:
            s.executions.add(st["execution"])
        s.accums.update(st.get("accums", {}))
        for t in st["tasks"]:
            s.self_stats["tasks"] += 1
            for k, v in t.items():
                s.self_stats[k] += v


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def node_output_rows(tracer: Tracer, spans: list[Span], pattern) -> list[int]:
    """"number of output rows" of every plan node whose description
    matches the compiled regex ``pattern``, in the SQL executions whose
    jobs ``spans`` launched."""
    execs = set().union(*(s.executions for s in spans)) if spans else set()
    accums = sum((s.accums for s in spans), Counter())
    out = []
    for ex in sorted(execs):
        for node in _plan_nodes(tracer.plans.get(ex, {})):
            if pattern.search(node.get("simpleString", "")):
                out.extend(accums[m["accumulatorId"]] for m in node.get("metrics", [])
                           if m.get("name") == "number of output rows")
    return out


# ------------------------------------------------------------ span trees

def children(tracer: Tracer) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def subtree(root: Span, kids: dict[int, list[Span]]) -> list[Span]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def inclusive(root: Span, kids: dict[int, list[Span]], key: str) -> float:
    return sum(s.self_stats.get(key, 0) for s in subtree(root, kids))


def self_time(span: Span, kids: dict[int, list[Span]]) -> float:
    """Span wall minus the union of its children's intervals (children
    on another thread may overlap each other)."""
    iv = sorted((max(c.start, span.start), min(c.end or c.start, span.end or c.start))
                for c in kids.get(span.id, []))
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.wall - covered


def task_skew(spans: list[Span]) -> float:
    """max / median task run time of the busiest stage among ``spans``."""
    stages = [st for s in spans for st in s.stages if st]
    if not stages:
        return 0.0
    busiest = max(stages, key=sum)
    med = statistics.median(busiest)
    return max(busiest) / med if med > 0 else 0.0
