"""The workload interface the runner drives.

A run calls ``launch()`` once, ``setup()`` SETUP_REPS times (setup_s is
launch time plus the median setup), then ``measure()`` once untraced,
and in a traced run ``start_trace()`` and ``measure(traced=True)`` once
more, followed by ``layers()``. ``close()`` always runs last.
"""

from __future__ import annotations

from perfbench import harness

SETUP_REPS = 3


class Workload:
    name = ""

    def __init__(self, seed: int, work: harness.WorkDir):
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.loop: harness.Loop | None = None

    def launch(self) -> None:
        raise NotImplementedError

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def measure(self, seconds: float, traced: bool) -> dict:
        """Run the closed loop; return its end-to-end metric values."""
        raise NotImplementedError

    def start_trace(self) -> None:
        pass

    def layers(self) -> dict[str, tuple]:
        """{per-layer metric name: (value, unit)} after a traced measure."""
        raise NotImplementedError

    def close(self) -> None:
        pass

    def finish_loop(self, loop: harness.Loop) -> None:
        self.loop = loop
        self.attempted += loop.attempted
        self.failed += loop.failed
