#!/usr/bin/env python3
"""Layered benchmark of the fluent ETL path (nested JSON in, tables loaded).

    python3 perfbench/run.py --workload nested_json_docs --seed 1 --seconds 8 --trace 0

Run from the repository root.  One invocation runs one workload in a
closed loop (one client, ``local[nproc]``) through the public API only:
``get_spark``, ``etl(...).load(sink).run()`` and ``stream(...).run()``.

``--trace 0`` measures the end-to-end metrics with tracing off.  The gated
ones are CPU seconds of the whole process tree (Python driver, JVM, Python
workers) scaled to a reference core speed by a sampler that runs beside
the workload (hostspeed.py): on a shared host wall time and raw CPU time
swing with the neighbours.  Wall-clock latency and throughput are printed
above the result line for people.
``--trace 1`` turns on job groups, the py4j command counter and the Spark
event log, alternates traced and untraced units, and prints the per-layer
metrics plus the tracing overhead (traced vs untraced unit latency).

Every line but the last is for people; the last line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  See
perfbench/README.md for the metric glossary.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checkers  # noqa: E402
import hostspeed  # noqa: E402
import tracer as tr  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ("nested_json_docs", "chunked_upsert_stream")
# untimed units after the session starts: enough for the JVM's JIT to
# bring the per-unit CPU cost near its plateau before timing starts
WARMUP_UNITS = {"nested_json_docs": 6, "chunked_upsert_stream": 1}
# the timed loop runs at least this many units even past --seconds (a
# docs run takes about 2.5-3.5 s, a 6-chunk stream about 9-12 s), so that
# every run's medians come from the same stretch of the JIT warm-up
MIN_UNITS = {"nested_json_docs": 6, "chunked_upsert_stream": 1}

# (name, unit): printed with --trace 0 / --trace 1, in this order
END_TO_END = [
    ("setup_s", "s"),
    ("rows_per_cpu_s", "1/s"),
    ("unit_cpu_s_p50", "s"),
    ("driver_rss_peak_mb", "MB"),
]
PER_LAYER = [
    ("session.jvm_start_s", "s"),
    ("fluent.build_s", "s"),
    ("fluent.build_py4j_calls", "count"),
    ("fluent.build_jobs", "count"),
    ("fluent.build_job_s", "s"),
    ("sinks.write_s", "s"),
    ("sinks.writes", "count"),
    ("sinks.jobs", "count"),
    ("sinks.tasks", "count"),
    ("sinks.task_s", "s"),
    ("sinks.gc_s", "s"),
    ("sinks.core_util", "ratio"),
    ("sinks.driver_gap_s", "s"),
    ("sinks.shuffle_read_bytes", "bytes"),
    ("sinks.shuffle_write_bytes", "bytes"),
    ("sinks.spill_bytes", "bytes"),
    ("sinks.rows_out", "count"),
    ("sinks.bytes_out", "bytes"),
    ("stream.strategy_flush_s", "s"),
    ("stream.checkpoint_s", "s"),
    ("stream.chunk_jobs", "count"),
    ("stream.chunk_py4j_calls", "count"),
    ("stream.chunk_growth", "ratio"),
    ("trace.overhead_pct", "%"),
]


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it.  Below twenty samples that percentile would be at or
    under the median, so the tail falls back to the highest percentile
    with one sample beyond it (the second-slowest unit): a single outlier
    does not set it."""
    s = sorted(xs)
    n = len(s)
    if n >= 20:
        q = math.floor(100 * (1 - 10 / n))
        return s[math.ceil(q / 100 * n) - 1], q
    if n < 3:  # the second-slowest of two would sit under the median
        return s[-1], 100
    return s[n - 2], math.floor(100 * (n - 1) / n)


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole VM from /proc/stat; (0, 0) where
    there is no /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


def _prepare_env(work: str, trace: bool) -> None:
    """Keep every file the run writes (Spark temp dirs, warehouse, event
    log, the package zip get_spark ships) inside the checkout."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={work}/warehouse",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work}/eventlog",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    prior = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(filter(None, [prior, *conf]))


def _import_engine():
    """The engine must come from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        import etielle_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the engine from {ROOT}: {e}")
    if not os.path.abspath(etielle_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: engine imported from outside the checkout: {etielle_spark.__file__}")
    return etielle_spark


class Bench:
    """One workload, one process: set-up cycles, the timed closed loop,
    then checks and metrics."""

    def __init__(self, args, es) -> None:
        self.args = args
        self.es = es
        self.name = args.workload
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench_work", f"{self.name}-{os.getpid()}")
        self.cpus = len(os.sched_getaffinity(0))
        self.counter = tr.Py4jCounter()
        self.speed = hostspeed.HostSpeed()
        self.tracer = tr.Tracer(self.counter, self.cpu_s)
        self.spark = None
        self.units: list[tuple[str, tr.Span]] = []  # (output dir, unit span)
        if self.name == "nested_json_docs":
            self.docs = wl.gen_nested_docs(args.seed)
        else:
            self.chunks = wl.gen_stream_chunks(args.seed, args.stream_chunks)

    def cpu_s(self) -> float:
        """CPU clock of the benchmark's process tree, sampler left out."""
        return tr.tree_cpu_s(exclude=self.speed.pid)

    # -- units ----------------------------------------------------------------

    def _out(self, label: str) -> str:
        return os.path.join(self.work, "out", label)

    def docs_unit(self, label: str, traced: bool) -> tr.Span:
        from etielle_spark.sources.sinks import ParquetSink

        sink = ParquetSink(self._out(label))
        on_event = None
        if self.trace:
            sink = tr.traced_sink(sink, self.tracer)
            on_event = self.tracer.on_event
        with self.tracer.span("fluent.run", unit=label, traced=traced, cpu=True) as s:
            wl.nested_docs_pipeline(self.docs, self.spark, sink, on_event).run()
        return s

    def stream_unit(self, label: str, traced: bool) -> tr.Span:
        from etielle_spark import UpsertFlushStrategy
        from etielle_spark.sources.sinks import ParquetSink

        sink = ParquetSink(self._out(label))
        strategy = UpsertFlushStrategy("update")
        if self.trace:
            sink = tr.traced_sink(sink, self.tracer)
            strategy = tr.traced_strategy(strategy, self.tracer)
        # in a traced run, chunks alternate traced / untraced (overhead)
        traced_of = (lambda i: traced and i % 2 == 0) if self.trace else (lambda i: False)
        with self.tracer.span("stream.run", unit=label, traced=traced) as s:
            it = tr.timed_chunks(self.chunks, self.tracer, label, traced_of)
            wl.stream_pipeline(it, self.spark, sink, strategy).run()
        return s

    def unit(self, label: str, traced: bool) -> tr.Span:
        if self.name == "nested_json_docs":
            return self.docs_unit(label, traced)
        return self.stream_unit(label, traced)

    # -- phases ---------------------------------------------------------------

    def setup(self) -> tuple[float, float, float]:
        """Start the session (and with it the JVM), then run the warm-up
        units.  Returns (set-up CPU s, set-up wall s, get_spark wall s);
        ``setup_span`` keeps its perf_counter interval."""
        c0 = self.cpu_s()
        t0 = time.perf_counter()
        self.spark = self.es.get_spark("perfbench", cpus=self.cpus)
        jvm_start = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)
        for i in range(WARMUP_UNITS[self.name]):
            self.unit(f"warmup{i}", False)
        t1 = time.perf_counter()
        setup_cpu = self.cpu_s() - c0
        self.setup_span = (t0, t1)
        self.tracer.spans.clear()
        self.tracer.events.clear()
        return setup_cpu, t1 - t0, jvm_start

    def measure(self) -> tuple[float, float]:
        """Closed loop: whole units back to back until ``--seconds`` have
        passed and at least ``MIN_UNITS`` have run.  A traced batch run
        alternates traced and untraced units; a traced stream run
        alternates within its chunks.  Returns (wall s, process-tree CPU s);
        ``loop_span`` keeps its perf_counter interval."""
        c0 = self.cpu_s()
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < self.args.seconds or i < MIN_UNITS[self.name]:
            label = f"u{i:03d}"
            traced = self.trace and i % 2 == 0
            try:
                span = self.unit(label, traced)
            except Exception:  # a failed unit is counted, not fatal
                print(f"unit {label} failed:", file=sys.stderr)
                traceback.print_exc()
                span = None
            self.units.append((self._out(label), span))
            i += 1
        t1 = time.perf_counter()
        self.loop_span = (t0, t1)
        return t1 - t0, self.cpu_s() - c0

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None

    # -- checks and metrics ---------------------------------------------------

    def check(self) -> tuple[int, int, int, list[str]]:
        """Returns (attempted units, failed units, rows loaded, notes).  A
        stream run's chunks fail together when its output is wrong."""
        if self.name == "nested_json_docs":
            expected = checkers.expected_docs(self.docs)
        else:
            expected = checkers.expected_stream(self.chunks)
        attempted = failed = rows = 0
        notes = []
        for out, span in self.units:
            n = 1 if self.name == "nested_json_docs" else len(self.chunks)
            attempted += n
            ok, got_rows, why = (False, 0, ["unit raised"]) if span is None else checkers.check_output(out, expected)
            rows += got_rows
            if not ok:
                failed += n
                notes += [f"{os.path.basename(out)}: {w}" for w in why]
        return attempted, failed, rows, notes

    def unit_spans(self, traced: bool | None = None) -> list[tr.Span]:
        """Latency units: a pipeline run() for the batch workload, a chunk
        for the stream workload."""
        name = "fluent.run" if self.name == "nested_json_docs" else "stream.chunk"
        return [
            s for s in self.tracer.spans
            if s.name == name and (traced is None or s.traced == traced)
        ]

    def latencies(self, traced: bool | None = None) -> list[float]:
        return [s.dur for s in self.unit_spans(traced)]


def layer_metrics(b: Bench, jvm_start: float) -> dict[str, float]:
    t = b.tracer
    jobs = tr.parse_event_log(os.path.join(b.work, "eventlog"))
    tr.attribute_jobs(t.spans, jobs)
    kids = tr.children(t.spans)

    def sub(s: tr.Span) -> list:
        return tr.subtree_jobs(kids, s)

    def build_of(unit: tr.Span, first_flush_t: float, first_flush_p: int, flush_spans) -> tuple:
        fl_jobs = {j.jid for f in flush_spans for j in sub(f)}
        bjobs = [j for j in sub(unit) if j.jid not in fl_jobs]
        return (first_flush_t - unit.t0, first_flush_p - unit.p0, len(bjobs), sum(j.dur for j in bjobs))

    builds, sinks, chunk_rows, checkpoint, growth = [], [], [], [], 0.0
    for s in t.spans:
        if not s.traced:
            continue
        if s.name == "fluent.run":
            first = next((e for e in t.events if e[0] == "FlushStarted" and s.t0 <= e[2] <= s.t1), None)
            if first is not None:  # None: the unit failed before its first flush
                writes = [k for k in kids.get(s.sid, []) if k.name == "sinks.write"]
                builds.append(build_of(s, first[2], first[3], writes))
        elif s.name == "stream.chunk":
            flushes = [k for k in kids.get(s.sid, []) if k.name == "stream.flush"]
            if flushes:
                builds.append(build_of(s, flushes[0].t0, flushes[0].p0, flushes))
                chunk_rows.append((sum(f.dur for f in flushes), len(sub(s)), s.py4j))
        writes = [k for k in kids.get(s.sid, []) if k.name == "sinks.write"]
        if writes:
            sjobs = [j for w in writes for j in sub(w)]
            write_s = sum(w.dur for w in writes)
            task_s = sum(j.task_s for j in sjobs)
            in_writes = [
                (max(j.submit, w.w0), min(j.end, w.w1)) for w in writes for j in sub(w)
            ]
            sinks.append({
                "sinks.write_s": write_s,
                "sinks.writes": len(writes),
                "sinks.jobs": len(sjobs),
                "sinks.tasks": sum(j.tasks for j in sjobs),
                "sinks.task_s": task_s,
                "sinks.gc_s": sum(j.gc_s for j in sjobs),
                "sinks.core_util": task_s / (write_s * b.cpus) if write_s else 0.0,
                "sinks.driver_gap_s": write_s - tr.union_s(in_writes),
                "sinks.shuffle_read_bytes": sum(j.shuffle_read for j in sjobs),
                "sinks.shuffle_write_bytes": sum(j.shuffle_write for j in sjobs),
                "sinks.spill_bytes": sum(j.spill for j in sjobs),
                "sinks.rows_out": sum(j.rows_out for j in sjobs),
                "sinks.bytes_out": sum(j.bytes_out for j in sjobs),
            })
    for s in t.spans:
        if s.name == "stream.run":
            chunks = [k for k in kids.get(s.sid, []) if k.name == "stream.chunk"]
            puts = [p for c in chunks for f in kids.get(c.sid, []) for p in kids.get(f.sid, [])]
            checkpoint.append(sum(p.dur for p in puts))
    if b.name == "chunked_upsert_stream":
        growth = chunk_growth(t, kids)

    m: dict[str, float] = {"session.jvm_start_s": jvm_start}
    if builds:
        m["fluent.build_s"] = median(x[0] for x in builds)
        m["fluent.build_py4j_calls"] = median(x[1] for x in builds)
        m["fluent.build_jobs"] = median(x[2] for x in builds)
        m["fluent.build_job_s"] = median(x[3] for x in builds)
    for key in sinks[0] if sinks else ():
        m[key] = median(x[key] for x in sinks)
    if chunk_rows:
        m["stream.strategy_flush_s"] = median(x[0] for x in chunk_rows)
        m["stream.chunk_jobs"] = median(x[1] for x in chunk_rows)
        m["stream.chunk_py4j_calls"] = median(x[2] for x in chunk_rows)
        m["stream.checkpoint_s"] = median(checkpoint)
        m["stream.chunk_growth"] = growth
    on, off = median(b.latencies(True)), median(b.latencies(False))
    m["trace.overhead_pct"] = 100.0 * (on / off - 1.0) if on and off else 0.0
    return {k: float(m.get(k, 0.0)) for k, _ in PER_LAYER}


def chunk_growth(t: tr.Tracer, kids: dict) -> float:
    """Median latency of the last quarter of chunk positions over that of
    the first quarter, leaving out chunks whose store put checkpointed
    (ran a Spark job)."""
    by_pos: dict[int, list[float]] = {}
    for s in t.spans:
        if s.name != "stream.chunk":
            continue
        puts = [p for f in kids.get(s.sid, []) for p in kids.get(f.sid, [])]
        if any(p.jobs for p in puts):
            continue
        by_pos.setdefault(int(s.unit.rsplit(".c", 1)[1]), []).append(s.dur)
    pos = sorted(by_pos)
    q = max(1, len(pos) // 4)
    first = [d for p in pos[:q] for d in by_pos[p]]
    last = [d for p in pos[-q:] for d in by_pos[p]]
    return median(last) / median(first) if first and last else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--stream-chunks", type=int, default=wl.STREAM_CHUNKS,
        help="chunks per stream run (exploration only; the benchmark uses the default)",
    )
    args = ap.parse_args(argv)

    es = _import_engine()
    b = Bench(args, es)  # inputs are generated here, before any session
    shutil.rmtree(b.work, ignore_errors=True)
    _prepare_env(b.work, b.trace)
    if b.trace:
        b.counter.install()
    try:
        b.speed.start()
        t0 = time.perf_counter()
        setup_cpu, setup_wall, jvm_start = b.setup()
        t1 = time.perf_counter()
        busy0, steal0 = cpu_jiffies()
        wall, loop_cpu = b.measure()
        busy1, steal1 = cpu_jiffies()
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        t2 = time.perf_counter()
        b.speed.stop()
        b.stop()
        t3 = time.perf_counter()
        attempted, failed, rows, notes = b.check()
        print(f"workload {b.name} seed {args.seed} cores {b.cpus} trace {args.trace}")
        print(f"phases: setup {t1 - t0:.1f} s, measure {t2 - t1:.1f} s, "
              f"stop {t3 - t2:.1f} s, check {time.perf_counter() - t3:.1f} s")
        # CPU time the host withheld from this VM while it wanted to run
        # (hypervisor steal): wall-time numbers rise with it
        demand = (busy1 - busy0) + (steal1 - steal0)
        if demand > 0:
            print(f"host steal during the timed loop: {100.0 * (steal1 - steal0) / demand:.1f}% of CPU demand")
        setup_f, loop_f = b.speed.factor(*b.setup_span), b.speed.factor(*b.loop_span)
        print(f"host core speed (x reference, {len(b.speed.samples)} samples): "
              f"set-up {setup_f:.3f}, timed loop {loop_f:.3f}")
        spans = b.unit_spans()
        lat = [s.dur for s in spans]
        # one speed factor for the whole loop: per-unit factors from a few
        # samples each would add their own noise to every unit
        ref_cpu = [s.cpu * loop_f for s in spans]
        tail_s, tail_q = tail(lat)
        e2e = {
            "setup_s": setup_cpu * setup_f,
            "rows_per_cpu_s": rows / (loop_cpu * loop_f),
            "unit_cpu_s_p50": median(ref_cpu),
            "driver_rss_peak_mb": rss_mb,
        }
        for note in notes:
            print(f"check failed: {note}")
        print(f"failed_ratio {failed / attempted:.4f} ratio ({failed}/{attempted} units)")
        print("not gated (wall clock and raw CPU swing with the host's other tenants):")
        print(f"  setup_wall_s {setup_wall:.6g} s")
        print(f"  rows_per_s {rows / wall:.6g} 1/s")
        print(f"  latency_s_p50 {median(lat):.6g} s")
        print(f"  latency_s_tail {tail_s:.6g} s (p{tail_q} of {len(lat)} samples)")
        print(f"  raw CPU: set-up {setup_cpu:.6g} s, timed loop {loop_cpu:.6g} s")
        print(f"  unit_cpu_s_tail {tail(ref_cpu)[0]:.6g} s (p{tail_q} of {len(ref_cpu)} samples)")
        for k, u in END_TO_END:
            print(f"{k} {e2e[k]:.6g} {u}")
        if b.trace:
            metrics = layer_metrics(b, jvm_start)
            print("(end-to-end numbers above include tracing)")
            for k, u in PER_LAYER:
                print(f"{k} {metrics[k]:.6g} {u}")
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units},
        }))
    finally:
        b.speed.stop()
        if b.spark is not None and b.spark.sparkContext._jsc is not None:
            b.stop()
        shutil.rmtree(b.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(b.work))  # only when no other run uses it
        except OSError:
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
