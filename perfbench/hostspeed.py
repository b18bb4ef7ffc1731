"""Host core speed, sampled alongside the workload.

On a shared host the work one CPU second buys swings by up to 2x from
second to second (other tenants on the same cores, turbo headroom), so CPU
time alone spreads with the host, not with the program.  A sampler process
runs a fixed single-core task (a chain of md5 digests) for about 10 ms
every 200 ms (5% of one core) and records the CPU time each one took.  The benchmark
scales the CPU time it measures over an interval by the mean speed the
samples in that interval ran at, relative to a fixed reference cost: CPU
seconds at a fixed reference core speed.

    python3 perfbench/hostspeed.py        # the sampler: runs until stdin closes
"""

from __future__ import annotations

import hashlib
import os
import select
import statistics
import subprocess
import sys
import time
from typing import Optional

WORK = 10_000          # md5 digests per sample
PERIOD_S = 0.2         # one sample started every PERIOD_S
REF_SAMPLE_S = 0.01    # the reference core runs one sample in 10 ms of CPU


def one_sample() -> float:
    h = b"perfbench"
    c0 = time.thread_time()
    for _ in range(WORK):
        h = hashlib.md5(h).digest()
    return time.thread_time() - c0


def sampler_main() -> None:
    """Print ``<perf_counter> <sample CPU s>`` lines until stdin closes."""
    out = sys.stdout
    while True:
        t0 = time.perf_counter()
        cost = one_sample()
        out.write(f"{(t0 + time.perf_counter()) / 2:.6f} {cost:.9f}\n")
        out.flush()
        wait = PERIOD_S - (time.perf_counter() - t0)
        if select.select([sys.stdin], [], [], max(wait, 0.0))[0]:
            return  # EOF: the benchmark asked the sampler to stop


class HostSpeed:
    """Runs the sampler beside the workload.  CPU seconds measured over
    [t0, t1] (perf_counter) times ``factor(t0, t1)`` are reference CPU
    seconds."""

    def __init__(self) -> None:
        self.proc: Optional[subprocess.Popen] = None
        self.samples: list[tuple[float, float]] = []

    def start(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    @property
    def pid(self) -> Optional[int]:
        return self.proc.pid if self.proc is not None else None

    def stop(self) -> None:
        """Stop the sampler, wait for it, and keep its samples."""
        if self.proc is None:
            return
        self.proc.stdin.close()
        try:
            text = self.proc.stdout.read()
            self.proc.wait(timeout=10)
        except Exception:
            self.proc.kill()
            self.proc.wait()
            text = ""
        self.proc.stdout.close()
        self.proc = None
        for line in text.splitlines():
            t, cost = line.split()
            self.samples.append((float(t), float(cost)))

    def factor(self, t0: float, t1: float) -> float:
        """Mean sample speed in [t0, t1] relative to the reference.  The
        benchmark asks for intervals of several seconds: dozens of samples."""
        inside = [c for t, c in self.samples if t0 <= t <= t1]
        if not inside:
            raise RuntimeError("the host-speed sampler recorded no samples in the interval")
        return statistics.fmean(REF_SAMPLE_S / c for c in inside)


if __name__ == "__main__":
    sampler_main()
