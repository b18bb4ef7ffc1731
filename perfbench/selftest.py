#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Run from the repository root; takes a few minutes (one in-process Spark
session, then two short benchmark runs as subprocesses).  Checks that:

1. a corrupted output makes the checker fail (changed value, dropped row);
2. a unit runs the same number of Spark jobs traced and untraced;
3. ``fluent.build_py4j_calls`` repeats exactly on two warm builds;
4. the printed metric names and units equal those in BENCHMARK.json;
5. the host-speed sampler records samples, stops, and is left out of the
   process-tree CPU clock.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checkers  # noqa: E402
import hostspeed  # noqa: E402
import run  # noqa: E402
import tracer as tr  # noqa: E402

FAILS: list[str] = []
CLEAN_ENV = dict(os.environ)  # the in-process tests point TMPDIR etc. at their own work dir


def expect(cond: bool, what: str) -> None:
    print(("PASS " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILS.append(what)


def corrupt_copy(src: str, dst: str, table: str, edit) -> None:
    import pyarrow.parquet as pq

    shutil.copytree(src, dst)
    t = pq.read_table(os.path.join(dst, table))
    shutil.rmtree(os.path.join(dst, table))
    os.makedirs(os.path.join(dst, table))
    pq.write_table(edit(t), os.path.join(dst, table, "part-0.parquet"))


def in_process_tests() -> None:
    import pyarrow as pa

    es = run._import_engine()
    args = SimpleNamespace(workload="nested_json_docs", seed=7, seconds=0, trace=1, stream_chunks=0)
    b = run.Bench(args, es)
    shutil.rmtree(b.work, ignore_errors=True)
    run._prepare_env(b.work, True)
    b.counter.install()
    try:
        b.setup()
        units = [(f"u{i}", b.docs_unit(f"u{i}", traced=i % 2 == 0)) for i in range(4)]
        b.stop()

        # 1. checker
        expected = checkers.expected_docs(b.docs)
        good = b._out("u1")
        ok, rows, notes = checkers.check_output(good, expected)
        expect(ok and rows > 0, f"checker accepts the engine's output ({rows} rows) {notes}")

        def rename_first(t):
            names = t.column("name").to_pylist()
            names[0] = names[0] + "x"
            return t.set_column(t.schema.get_field_index("name"), "name", pa.array(names))

        corrupt_copy(good, b._out("bad_value"), "users", rename_first)
        expect(not checkers.check_output(b._out("bad_value"), expected)[0], "checker rejects one changed value")
        corrupt_copy(good, b._out("bad_row"), "comments", lambda t: t.slice(1))
        expect(not checkers.check_output(b._out("bad_row"), expected)[0], "checker rejects one dropped row")

        # 2. jobs per unit, traced vs untraced
        jobs = tr.parse_event_log(os.path.join(b.work, "eventlog"))
        tr.attribute_jobs(b.tracer.spans, jobs)
        kids = tr.children(b.tracer.spans)
        counts = {label: len(tr.subtree_jobs(kids, s)) for label, s in units}
        traced = {counts[l] for l, s in units if s.traced}
        untraced = {counts[l] for l, s in units if not s.traced}
        expect(len(traced) == 1 and traced == untraced, f"jobs per unit equal traced and untraced {counts}")

        # 3. py4j count of the build repeats on warm builds
        builds = []
        for _label, s in units:
            if s.traced:
                first = next(e for e in b.tracer.events if e[0] == "FlushStarted" and s.t0 <= e[2] <= s.t1)
                builds.append(first[3] - s.p0)
        expect(len(builds) == 2 and builds[0] == builds[1] > 0, f"build py4j calls repeat exactly {builds}")
    finally:
        if b.spark is not None and b.spark.sparkContext._jsc is not None:
            b.stop()
        shutil.rmtree(b.work, ignore_errors=True)


def metric_name_tests() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: [(m["name"], m["unit"]) for m in spec["end_to_end"]],
        1: [(m["name"], m["unit"]) for m in spec["per_layer"]],
    }
    expect(want[0] == run.END_TO_END, "END_TO_END matches BENCHMARK.json end_to_end")
    expect(want[1] == run.PER_LAYER, "PER_LAYER matches BENCHMARK.json per_layer")
    expect([w["name"] for w in spec["workloads"]] == list(run.WORKLOADS), "workloads match BENCHMARK.json")
    for trace in (0, 1):
        cmd = spec["command"] + [
            "--workload", "chunked_upsert_stream", "--seed", "3", "--seconds", "1", "--trace", str(trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, env=CLEAN_ENV, capture_output=True, text=True, timeout=300)
        if out.returncode != 0 or not out.stdout.strip():
            expect(False, f"--trace {trace} run exits 0: {out.returncode} {out.stderr[-2000:]}")
            continue
        last = json.loads(out.stdout.strip().splitlines()[-1])
        got = [(k, v["unit"]) for k, v in last["metrics"].items()]
        expect(out.returncode == 0 and last["correct"], f"--trace {trace} run exits 0 with correct output")
        expect(sorted(got) == sorted(want[trace]), f"--trace {trace} prints exactly the BENCHMARK.json metrics")


def sampler_tests() -> None:
    import time

    hs = hostspeed.HostSpeed()
    hs.start()
    pid = hs.pid
    t0 = time.perf_counter()
    c0, c0_all = tr.tree_cpu_s(exclude=pid), tr.tree_cpu_s()
    time.sleep(1.5)  # the sampler works, this process sleeps
    c1, c1_all = tr.tree_cpu_s(exclude=pid), tr.tree_cpu_s()
    t1 = time.perf_counter()
    hs.stop()
    expect(hs.proc is None and not os.path.exists(f"/proc/{pid}"), "sampler stops and is waited for")
    expect(len(hs.samples) >= 5, f"sampler recorded samples ({len(hs.samples)})")
    f = hs.factor(t0, t1)
    expect(0.1 < f < 10, f"speed factor is plausible ({f:.3f})")
    expect(c1 - c0 < c1_all - c0_all, f"sampler CPU left out ({c1 - c0:.2f} s vs {c1_all - c0_all:.2f} s)")


if __name__ == "__main__":
    sampler_tests()
    in_process_tests()
    metric_name_tests()
    print(f"{len(FAILS)} failed" if FAILS else "all passed")
    sys.exit(1 if FAILS else 0)
