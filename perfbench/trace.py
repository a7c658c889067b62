"""Spans around calls into the engine's layers, plus the Spark event log.

The benchmark never edits engine code: a traced run swaps selected public
methods for wrappers that record a span (name, start, end, parent, trace id)
and then call the original. The trace id is the crawl round or streaming
micro-batch the benchmark is in. Spans stay in memory and are written once at
exit. The Spark event log (enabled through ``SPARK_GRAFT_EVENTLOG``) adds
what happens inside the lazy plans: task CPU, records, shuffle bytes, spill
and GC, split by the ``phase:<name>`` job description the Crawler sets.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: int | None
    trace: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a no-op
    apart from the trace id, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.trace: str | None = None
        self.last: dict[str, object] = {}  # latest result per wrapped name
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.time(), 0.0, parent, self.trace))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def wrap(self, owner, attr: str, name, static: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``name`` is
        a string or a function of the call's arguments (e.g. the table a
        Warehouse write goes to)."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if static else getattr(owner, attr)
        fn = orig.__func__ if static else orig

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                out = fn(*args, **kwargs)
            self.last[label] = (args, out)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- queries ------------------------------------------------------------
    def named(self, prefix: str, traces: set[str] | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name.startswith(prefix) and (traces is None or s.trace in traces)
        ]

    def total(self, prefix: str, traces: set[str] | None = None) -> float:
        return sum(s.dur for s in self.named(prefix, traces))

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, edge = 0.0, span.start
        kids = sorted((s for s in self.spans if s.parent == span.id), key=lambda s: s.start)
        for k in kids:
            lo, hi = max(k.start, edge), min(k.end, span.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return span.dur - covered

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def instrument(tracer: Tracer) -> None:
    """Wrap the public calls of every layer the benchmark reports on."""
    from dumb_crawler_spark import frontier as FR
    from dumb_crawler_spark.bloom import PartitionedBloom
    from dumb_crawler_spark.crawler import Crawler
    from dumb_crawler_spark.planner import IncrementalPlanner
    from dumb_crawler_spark.storage import Warehouse

    tracer.wrap(Crawler, "run_round", "crawler.round")
    tracer.wrap(Crawler, "bootstrap", "crawler.bootstrap")
    tracer.wrap(Warehouse, "append_delta", lambda self, table, *a, **k: f"storage.delta.{table}")
    tracer.wrap(Warehouse, "write_snapshot", lambda self, table, *a, **k: f"storage.snapshot.{table}")
    tracer.wrap(Warehouse, "write_frontier_inserts", "storage.frontier_inserts")
    tracer.wrap(Warehouse, "write_frontier_updates", "storage.frontier_updates")
    tracer.wrap(Warehouse, "commit_round", "storage.commit")
    tracer.wrap(Warehouse, "rollback_uncommitted", "storage.rollback")
    tracer.wrap(IncrementalPlanner, "seed_from", "planner.seed")
    tracer.wrap(IncrementalPlanner, "plan", "planner.plan")
    tracer.wrap(IncrementalPlanner, "on_dequeued", "planner.on_dequeued")
    tracer.wrap(IncrementalPlanner, "on_inserts", "planner.on_inserts")
    tracer.wrap(PartitionedBloom, "build", "bloom.build", static=True)
    tracer.wrap(PartitionedBloom, "union", "bloom.union")
    # the crawler calls this through its module (FR.plan_dequeue)
    tracer.wrap(FR, "plan_dequeue", "frontier.plan_dequeue")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

@dataclass
class TaskRec:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    records_in: int
    shuffle_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    jobs: dict[int, dict]  # job id → {phase, submit (epoch s)}
    tasks: list[TaskRec]
    stage_job: dict[int, int]

    def jobs_between(self, lo: float, hi: float) -> set[int]:
        return {j for j, info in self.jobs.items() if lo <= info["submit"] <= hi}

    def phase_totals(self, job_ids: set[int]) -> dict[str, dict[str, float]]:
        """phase → summed task metrics over the given jobs."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for t in self.tasks:
            jid = self.stage_job.get(t.stage)
            if jid not in job_ids:
                continue
            p = out[self.jobs[jid]["phase"]]
            p["tasks"] += 1
            p["cpu_s"] += t.cpu_s
            p["gc_s"] += t.gc_s
            p["records_in"] += t.records_in
            p["shuffle_bytes"] += t.shuffle_bytes
            p["spill_bytes"] += t.spill_bytes
        return out

    def task_skew(self, job_ids: set[int]) -> float:
        """max ÷ median task run time in the stage with the most task time."""
        by_stage: dict[int, list[float]] = defaultdict(list)
        for t in self.tasks:
            if self.stage_job.get(t.stage) in job_ids:
                by_stage[t.stage].append(t.run_s)
        if not by_stage:
            return 1.0
        heavy = max(by_stage.values(), key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else 1.0


def _lines(path: Path):
    import pyarrow as pa

    name = path.name.removesuffix(".inprogress")
    codec = name.rsplit(".", 1)[-1] if "." in name else ""
    if codec in ("zstd", "lz4", "snappy"):
        with pa.input_stream(str(path), compression=codec) as fh:
            data = fh.read()
    else:
        data = path.read_bytes()
    return data.decode("utf-8", errors="replace").splitlines()


def read_event_log(ev_dir: Path) -> EventLog:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[TaskRec] = []
    for f in sorted(p for p in ev_dir.rglob("*") if p.is_file() and not p.name.startswith(".")):
        for line in _lines(f):
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                phase = desc[6:] if desc.startswith("phase:") else "untagged"
                jobs[e["Job ID"]] = {"phase": phase, "submit": e["Submission Time"] / 1e3}
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(TaskRec(
                    stage=e["Stage ID"],
                    run_s=m.get("Executor Run Time", 0) / 1e3,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1e3,
                    records_in=(m.get("Input Metrics") or {}).get("Records Read", 0),
                    shuffle_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0),
                    spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                ))
    return EventLog(jobs, tasks, stage_job)
