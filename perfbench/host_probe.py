"""Host-speed probe: how fast this machine runs a fixed piece of Python.

The benchmark runs on a few vCPUs of a shared host.  How fast a vCPU runs
the same code moves by 10-20% within seconds and between runs, with what
the host's other tenants do.  Timed alone, one thread spinning this loop
gave medians that spread 0.12 (quartile range over median) across ten
6-second windows.  Every figure of a run moves with that speed.

The probe is a child process that runs ``chunk`` about every ``PERIOD``
seconds (a tenth of one CPU) and times each run in CPU seconds of its own
thread.  CPU time leaves out the time the probe waits for a CPU, so the
benchmark's own load slows the probe only through the core it shares, not
through the scheduler; a regression that adds work to the gateway moves
the probe little (see README.md, "Host speed").

    probe = HostProbe()     # starts sampling
    ...
    samples = probe.stop()  # [(monotonic end time, cpu seconds), ...]
    mean_between(samples, t0, t1)
"""

from __future__ import annotations

import json
import os
import select
import statistics
import subprocess
import sys
import time

PERIOD = 0.02
LOOP = 20000
# The mean ``chunk`` CPU time on the 4-vCPU VM the benchmark was tuned on.
# Scaled figures read as if the run had met the host at this speed.
REF_CHUNK_S = 0.002


def chunk() -> int:
    s = 0
    for i in range(LOOP):
        s += i * i % 7
    return s


def _serve() -> None:
    samples = []
    while True:
        t = time.thread_time()
        chunk()
        end = time.monotonic()
        samples.append((end, time.thread_time() - t))
        ready, _, _ = select.select([sys.stdin], [], [], max(0.0, PERIOD - (time.monotonic() - end)))
        if ready and not sys.stdin.readline():
            break
    json.dump(samples, sys.stdout)
    sys.stdout.flush()


class HostProbe:
    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def stop(self) -> list[tuple[float, float]]:
        """End the probe and return its samples; [] once it has ended."""
        if self.proc.returncode is not None:
            return []
        try:
            out, _ = self.proc.communicate(timeout=30)
        except BaseException:
            self.proc.kill()
            self.proc.wait()
            raise
        return [tuple(s) for s in json.loads(out)]


def mean_between(samples, t0: float, t1: float) -> float:
    """The mean chunk time between ``t0`` and ``t1``.  Chunk times are
    bimodal on the shared host, ~1.4 ms and ~2.1 ms; the mean follows the
    share of each, where the median jumps from one mode to the other."""
    inside = [cpu for end, cpu in samples if t0 <= end <= t1]
    if not inside:
        raise RuntimeError("no probe samples in the interval")
    return statistics.fmean(inside)


if __name__ == "__main__":
    _serve()
