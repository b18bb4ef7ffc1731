"""Passive tracer built only from the benchmark's own wrappers.

Nothing here reaches into the engine.  Spans are recorded around the
benchmark's calls into the public seams: a delegating ``Sink``, a
delegating ``FlushStrategy`` (and the ``TableStore`` it is handed), a
timing chunk iterator, the ``on_event`` callback and a py4j command
counter.  With tracing on, each span also tags its Spark jobs with a job
group; after the run the Spark event log (enabled through
``get_spark``'s ``SPARK_GRAFT_EXTRA_CONF`` seam) is parsed and its jobs,
tasks and bytes are attributed to spans.

Span timestamps are always taken (they are the end-to-end clock); spans
asked for it also read the CPU clock of the benchmark's process tree; job
groups and py4j counting only run inside spans marked ``traced``.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator, Optional

# ---------------------------------------------------------------------------
# py4j command counter
# ---------------------------------------------------------------------------


class Py4jCounter:
    """Counts py4j ``c`` (call), ``r`` (reflection) and ``i`` (constructor)
    commands sent by this process.  ``m`` (memory release) commands are
    excluded: they follow Python GC, not the pipeline."""

    KINDS = frozenset("cri")

    def __init__(self) -> None:
        self.count = 0
        self.active = False

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, _orig=orig):
                if self.active and command[:1] in self.KINDS:
                    self.count += 1
                return _orig(conn, command)

            cls.send_command = send_command

    @contextmanager
    def paused(self) -> Iterator[None]:
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was


# ---------------------------------------------------------------------------
# CPU clock of the process tree
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(exclude: Optional[int] = None) -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant: the Python driver, the JVM and its Python workers,
    with the children each has reaped.  Time the host
    withholds from the VM (steal) and time spent waiting for a core are not
    in it.  ``exclude`` leaves out one process (the host-speed sampler)."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                f = fh.read().rsplit(b")", 1)[1].split()
        except OSError:  # the process has just exited
            continue
        pid = int(d)
        kids.setdefault(int(f[1]), []).append(pid)
        ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total, todo = 0, [os.getpid()]
    while todo:
        p = todo.pop()
        if p == exclude:
            continue
        total += ticks.get(p, 0)
        todo.extend(kids.get(p, ()))
    return total / _TICK


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    unit: str
    parent: Optional[int]
    traced: bool
    t0: float                 # perf_counter
    w0: float                 # wall clock (epoch s), aligns with the event log
    p0: int                   # py4j count at start
    t1: float = 0.0
    w1: float = 0.0
    p1: int = 0
    c0: float = 0.0           # process-tree CPU s, in spans opened with cpu=True
    c1: float = 0.0
    jobs: list = field(default_factory=list)  # filled from the event log

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def py4j(self) -> int:
        return self.p1 - self.p0

    @property
    def cpu(self) -> float:
        return self.c1 - self.c0


class Tracer:
    def __init__(self, py4j: Py4jCounter, cpu_clock) -> None:
        self.py4j = py4j
        self.cpu_clock = cpu_clock
        self.spans: list[Span] = []
        self.events: list[tuple[str, str, float, int]] = []  # (kind, table, t, py4j)
        self._stack: list[Span] = []
        self._sc = None
        self._ids = itertools.count()

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, gid: Optional[str]) -> None:
        with self.py4j.paused():
            self._sc.setLocalProperty("spark.jobGroup.id", gid)

    def _enter_state(self, traced: bool, gid: Optional[str], was_traced: bool) -> None:
        if traced or was_traced:
            self._set_group(gid)
        self.py4j.active = traced

    @contextmanager
    def span(
        self, name: str, unit: Optional[str] = None, traced: Optional[bool] = None, cpu: bool = False
    ) -> Iterator[Span]:
        """Time one call into a layer.  ``traced`` defaults to the parent
        span's state (untraced at the top); ``cpu`` also reads the process
        tree's CPU clock at both ends (about a millisecond each)."""
        parent = self._stack[-1] if self._stack else None
        outer = parent.traced if parent is not None else False
        if traced is None:
            traced = outer
        c0 = self.cpu_clock() if cpu else 0.0
        s = Span(
            sid=next(self._ids),
            name=name,
            unit=unit or (parent.unit if parent else ""),
            parent=parent.sid if parent else None,
            traced=traced,
            t0=time.perf_counter(),
            w0=time.time(),
            p0=self.py4j.count,
            c0=c0,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._enter_state(traced, f"pb|{s.sid}" if traced else None, outer)
        try:
            yield s
        finally:
            s.p1 = self.py4j.count
            s.t1 = time.perf_counter()
            s.w1 = time.time()
            self._stack.pop()
            self._enter_state(outer, f"pb|{parent.sid}" if outer else None, traced)
            if cpu:
                s.c1 = self.cpu_clock()

    def on_event(self, event: Any) -> None:
        """``etl(on_event=...)`` callback: timestamps every telemetry event."""
        self.events.append(
            (type(event).__name__, getattr(event, "table", ""), time.perf_counter(), self.py4j.count)
        )


# ---------------------------------------------------------------------------
# delegating wrappers around the public seams
# ---------------------------------------------------------------------------


def traced_sink(inner, tracer: Tracer):
    from etielle_spark.sources.sinks import Sink

    class TracedSink(Sink):
        ordered = inner.ordered

        def write(self, table, df):
            with tracer.span("sinks.write"):
                inner.write(table, df)

    return TracedSink()


def traced_strategy(inner, tracer: Tracer):
    from etielle_spark import FlushStrategy

    class TimedStore:
        """Delegates to the stream's ``TableStore``; times ``put``, where
        the periodic ``localCheckpoint`` runs (a put that does not
        checkpoint is a dict assignment)."""

        def __init__(self, store):
            self._store = store

        def put(self, name, df):
            with tracer.span("stream.store_put"):
                self._store.put(name, df)

        def __getattr__(self, attr):
            return getattr(self._store, attr)

    class TracedFlushStrategy(FlushStrategy):
        def flush(self, store, name, df, keys):
            with tracer.span("stream.flush"):
                inner.flush(TimedStore(store), name, df, keys)

    return TracedFlushStrategy()


def timed_chunks(chunks: list, tracer: Tracer, run_id: str, traced_of) -> Iterator:
    """Yields each chunk inside a ``stream.chunk`` span: the span covers
    everything the stream does with the chunk, up to the request for the
    next one.  ``traced_of(i)`` chooses per chunk whether it is traced."""
    for i, c in enumerate(chunks):
        with tracer.span("stream.chunk", unit=f"{run_id}.c{i:02d}", traced=traced_of(i), cpu=True):
            yield c


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    jid: int
    submit: float  # epoch s
    end: float
    stages: list
    group: str
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    rows_out: int = 0
    bytes_out: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.submit


def parse_event_log(log_dir: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    j = Job(
                        jid=e["Job ID"],
                        submit=e["Submission Time"] / 1000.0,
                        end=e["Submission Time"] / 1000.0,
                        stages=list(e.get("Stage IDs", [])),
                        group=props.get("spark.jobGroup.id") or "",
                    )
                    jobs[j.jid] = j
                    for sid in j.stages:
                        stage_job[sid] = j.jid
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e["Stage ID"], -1))
                    m = e.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.tasks += 1
                    j.task_s += m.get("Executor Run Time", 0) / 1000.0
                    j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    j.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    out = m.get("Output Metrics") or {}
                    j.rows_out += out.get("Records Written", 0)
                    j.bytes_out += out.get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.jid)


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> None:
    """Attach each job to a span: by the benchmark's ``pb|<sid>`` job group,
    else (jobs Spark submits from its own threads, e.g. broadcasts) to the
    innermost span whose wall interval holds the submission time.  Jobs in
    no span (set-up, warm-up) stay unattributed."""
    by_sid = {s.sid: s for s in spans}
    for j in jobs:
        s = by_sid.get(int(j.group[3:])) if j.group.startswith("pb|") else None
        if s is None:
            inside = [x for x in spans if x.w0 <= j.submit <= x.w1]
            s = max(inside, key=lambda x: x.w0) if inside else None
        if s is not None:
            s.jobs.append(j)


def children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def subtree_jobs(kids: dict[int, list[Span]], root: Span) -> list[Job]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.extend(s.jobs)
        todo.extend(kids.get(s.sid, []))
    return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
