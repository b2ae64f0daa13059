"""Pass scheduling shared by the workloads.

One untimed warm-up pass runs first, then a number of measured passes that
depends only on the run's seconds. After the cold pass the warm passes keep
getting faster for ten or more passes while the JVM keeps compiling, so a
loop bounded by time would measure fewer, earlier and slower passes on a
slower host; with fixed counts every run measures the same passes of that
curve. A single warm-up pass leaves most of a run's wall time to the
measured passes: on a shared host whose CPU steal changes from minute to
minute, a longer measured window averages more of it out.
"""

from __future__ import annotations

import math
import time


def warm_up(one_pass, passes: int) -> list[float]:
    """Call ``one_pass()`` ``passes`` times; returns each call's wall time."""
    walls: list[float] = []
    for _ in range(passes):
        t0 = time.perf_counter()
        one_pass()
        walls.append(time.perf_counter() - t0)
    return walls


def measured_passes(seconds: float, nominal_pass_s: float, minimum: int = 3) -> int:
    """Passes to measure: about ``seconds`` of work at the nominal warm pass
    time of a 4-vCPU x86-64 host, and never fewer than ``minimum``."""
    return max(minimum, math.ceil(seconds / nominal_pass_s))
