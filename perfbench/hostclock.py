"""Host-speed probe: the end-to-end times are scaled to a fixed host speed.

On a shared host a core runs the same code up to 1.7x slower while another
guest loads its sibling, and the share of time a core spends slowed drifts
over minutes, independently on each core. Every workload of the benchmark
slows with it, set-up included, so runs minutes apart disagree by more than
any change worth measuring.

``HostProbe`` is a thread of the launcher process that runs a fixed
pure-Python loop every ``PERIOD_S`` and records the loop's CPU time. CPU
time leaves out the time the thread waits for a core, so the benchmark's own
load barely moves it; a slowed core stretches it. A span of the run is
scaled by ``REF_MS`` over the loop's mean cost during that span: the result
is the time the span would have taken on a host where the loop costs
``REF_MS`` of CPU.
"""

from __future__ import annotations

import threading
import time

PERIOD_S = 0.05
LOOP_N = 20_000
# A constant, so that a parent and a change are scaled alike. On a 4-core
# Xeon VM the loop costs 1.3-1.4 ms on a calm core and 2.1-2.4 ms on a
# slowed one.
REF_MS = 1.5
# A span with fewer samples is scaled by the whole run's mean instead.
MIN_SAMPLES = 5


def _loop() -> int:
    x = 0
    for i in range(LOOP_N):
        x += i * i % 7
    return x


class HostProbe(threading.Thread):
    def __init__(self) -> None:
        super().__init__(name="host-probe", daemon=True)
        self.samples: list[tuple[float, float]] = []  # (epoch s, CPU ms of one loop)
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.wait(PERIOD_S):
            c0 = time.thread_time_ns()
            _loop()
            self.samples.append((time.time(), (time.thread_time_ns() - c0) / 1e6))

    def stop(self) -> None:
        self._stop_event.set()
        self.join()

    def cost_ms(self, start: float, end: float) -> float:
        """Mean CPU ms of one loop over ``[start, end]`` (epoch seconds)."""
        span = [ms for t, ms in self.samples if start <= t <= end]
        if len(span) < MIN_SAMPLES:
            span = [ms for _, ms in self.samples]
        return sum(span) / len(span) if span else REF_MS

    def scale(self, start: float, end: float) -> float:
        """Factor that turns wall seconds of ``[start, end]`` into seconds at
        the reference host speed."""
        return REF_MS / self.cost_ms(start, end)
