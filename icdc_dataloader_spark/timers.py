"""Named wall-clock accumulators for commit-path observability.

The scaling criterion (north rule: efficiency >= 0.8 from N to 4N) is an
Amdahl problem: any driver-side serial second per batch costs efficiency
directly.  These timers break the pipeline's wall time into phases so the
serial term is measured, not guessed (``bench_extra.py`` prints them;
they cost one time.time() pair per phase).
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

_acc: dict[str, float] = defaultdict(float)
_cnt: dict[str, int] = defaultdict(int)


@contextmanager
def phase(name: str):
    t0 = time.time()
    try:
        yield
    finally:
        dt = time.time() - t0
        _acc[name] += dt
        _cnt[name] += 1


def snapshot() -> dict:
    return {k: {"sec": round(v, 3), "n": _cnt[k]} for k, v in sorted(_acc.items())}


def reset() -> None:
    _acc.clear()
    _cnt.clear()
