"""Benchmark-side tracing: spans around the engine's public functions, joined
to Spark task metrics by job group.

Nothing here changes the engine. ``Tracer.install`` replaces each traced
function at every attribute an engine module looks it up by (a function
imported by name into several modules, such as ``stage_dataframe``, is
patched in each of them), and ``Tracer.uninstall`` puts the originals back.

Each span records name, start, end, parent and, for spans that run Spark
jobs, its own job group. The Spark event log (enabled through
``get_spark(extra=...)``) is read after the session stops; every
``SparkListenerTaskEnd`` is attributed to the span whose job group launched
it. Jobs launched outside any group after the tracer was created (for
instance from an engine helper thread) are reported as ``unattributed`` so
the totals still add up; ungrouped jobs from before it (the session's own
warm-up inside ``get_spark``) are keyed ``session``.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

MB = 1024 * 1024

# (module, attribute, span name, sets a job group). Class methods are given
# as "Class.method". Driver-only metadata calls get no job group: they run
# no Spark jobs and are called often.
TRACED = [
    ("engine.merge", "impute_merge", "merge.impute_merge", True),
    ("engine.merge", "merge_into", "merge.merge_into", True),
    ("engine.index", "build_candidate_index",
     "index.build_candidate_index", True),
    ("engine.layout", "sample_quantile_bounds",
     "layout.sample_quantile_bounds", True),
    ("engine.write", "stage_dataframe", "write.stage_dataframe", True),
    ("engine.format", "Table.commit", "format.Table.commit", False),
    ("engine.format", "Table.manifest_entries",
     "format.Table.manifest_entries", False),
    ("engine.maintain", "compact", "maintain.compact", True),
    ("engine.maintain", "compact_deletes", "maintain.compact_deletes", True),
    ("engine.maintain", "rewrite_deletes", "maintain.rewrite_deletes", True),
    ("engine.maintain", "rewrite_manifests",
     "maintain.rewrite_manifests", True),
    ("engine.maintain", "sweep_orphans", "maintain.sweep_orphans", True),
    ("engine.streaming", "ingest_batch", "streaming.ingest_batch", True),
]


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session settings that make Spark write a plain-JSON event log."""
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    group: str | None
    start: float
    end: float = 0.0
    children_s: float = 0.0
    result: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory; one per benchmark process."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.created_ms = time.time() * 1000
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def begin(self, name: str, jobs: bool = True) -> Span:
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = f"lb{sid}" if jobs else None
        if group is not None:
            self.sc.setJobGroup(group, name)
        s = Span(sid, name, parent.sid if parent else None, group,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        return s

    def end(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            parent.children_s += s.end - s.start
        if s.group is not None:
            # hand the thread back to the innermost enclosing group
            outer = next((p for p in reversed(self._stack)
                          if p.group is not None), None)
            if outer is not None:
                self.sc.setJobGroup(outer.group, outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        s = self.begin(name, jobs)
        try:
            yield s
        finally:
            self.end(s)

    # ------------------------------------------------------------ patching
    def install(self) -> None:
        for mod_name, attr, span_name, jobs in TRACED:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._patch(cls, meth, orig,
                            self._wrap(orig, span_name, jobs))
                continue
            orig = getattr(mod, attr)
            wrapper = self._wrap(orig, span_name, jobs)
            # every engine module that bound the function by name
            for m_name, m in list(sys.modules.items()):
                if m is None or not (m_name == "engine"
                                     or m_name.startswith("engine.")):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._patch(m, k, orig, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _patch(self, owner, attr, orig, wrapper) -> None:
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def _wrap(self, fn, name: str, jobs: bool):
        tracer = self

        def traced(*args, **kwargs):
            s = tracer.begin(name, jobs)
            try:
                out = fn(*args, **kwargs)
                _record_result(s, name, out)
                return out
            finally:
                tracer.end(s)
        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    # ------------------------------------------------------------ report
    def dump(self, path: str, tasks: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [vars(s) for s in self.spans],
                       "groups": tasks}, f)


def _record_result(s: Span, name: str, out) -> None:
    """Counts the caller can read off the return value (no extra jobs)."""
    if name == "write.stage_dataframe" and isinstance(out, list):
        s.result["files"] = len(out)
        s.result["bytes"] = sum(getattr(f, "file_size_bytes", 0)
                                for f in out)
    elif name == "maintain.sweep_orphans" and isinstance(out, list):
        s.result["orphans"] = len(out)


# ---------------------------------------------------------------- event log
def read_task_metrics(log_dir: str, since_ms: float) -> dict[str, dict]:
    """Task totals per job group from the event log. Jobs with no group are
    keyed ``unattributed``, or ``session`` when submitted before
    ``since_ms``. Per stage it keeps task run times for skew."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_write": 0,
            "spill": 0, "output": 0, "stage_tasks": {}})

    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id") or (
                        "unattributed" if ev.get("Submission Time", 0)
                        >= since_ms else "session")
                    g(grp)["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_group[st] = grp
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    grp = stage_group.get(ev["Stage ID"], "unattributed")
                    a = g(grp)
                    run_ms = m.get("Executor Run Time", 0)
                    a["task_s"] += run_ms / 1000
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    a["spill"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                    a["output"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    a["stage_tasks"].setdefault(
                        str(ev["Stage ID"]), []).append(run_ms)
    return groups


def _skew(stage_tasks: dict[str, list[int]]) -> float:
    """Max over median task time in the span's heaviest stage."""
    if not stage_tasks:
        return 0.0
    heavy = max(stage_tasks.values(), key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 1.0


def layer_metrics(tracer: Tracer, groups: dict[str, dict]) -> dict:
    """Per-span-name aggregates. ``self`` task metrics come from the span's
    own job group; ``incl`` adds every descendant span's groups."""
    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def own(s: Span) -> dict:
        return groups.get(s.group or "", {})

    def incl(s: Span) -> list[dict]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(own(x))
            todo.extend(children.get(x.sid, []))
        return out

    agg: dict[str, dict] = {}
    for s in tracer.spans:
        a = agg.setdefault(s.name, {
            "calls": 0, "wall_s": 0.0, "self_s": 0.0, "walls": [],
            "jobs": 0, "shuffle_write_self": 0, "spill_self": 0,
            "shuffle_write": 0, "output": 0,
            "stage_tasks": {}, "files": 0, "bytes": 0, "orphans": 0})
        wall = s.end - s.start
        a["calls"] += 1
        a["wall_s"] += wall
        a["self_s"] += wall - s.children_s
        a["walls"].append(wall)
        o = own(s)
        a["shuffle_write_self"] += o.get("shuffle_write", 0)
        a["spill_self"] += o.get("spill", 0)
        for k, v in o.get("stage_tasks", {}).items():
            a["stage_tasks"].setdefault(k, []).extend(v)
        for x in incl(s):
            a["jobs"] += x.get("jobs", 0)
            a["shuffle_write"] += x.get("shuffle_write", 0)
            a["output"] += x.get("output", 0)
        for k in ("files", "bytes", "orphans"):
            a[k] += s.result.get(k, 0)
    for a in agg.values():
        a["skew"] = _skew(a.pop("stage_tasks"))
        a["p50_s"] = statistics.median(a.pop("walls"))
    return agg
