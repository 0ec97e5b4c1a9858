"""Pure helpers: percentiles, op outcomes and the result line.

Kept free of Spark so the counting rules can be tested in isolation.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default), ``p`` in [0, 100].

    Raises on an empty sample: a percentile of nothing is not zero.
    """
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


@dataclass
class Op:
    """One attempted operation of a workload's timed loop.

    ``latency`` is only meaningful when the op succeeded; ``error`` is
    set when it raised, ``mismatch`` when its result disagreed with the
    oracle (or came back empty where the oracle has rows).
    """

    kind: str
    latency: float
    error: str | None = None
    mismatch: str | None = None
    check: object = field(default=None, repr=False)
    start: float = 0.0  # wall-clock epoch seconds, for matching Spark job times

    @property
    def ok(self) -> bool:
        return self.error is None and self.mismatch is None


def outcome(ops: list[Op]) -> dict:
    """Count attempted/failed ops and gather the latencies of good ones.

    A failed op is counted, never dropped: it adds to ``failed`` and is
    left out of the latency samples, so it can neither read as a
    negative time nor make the run look faster.
    """
    good = [o.latency for o in ops if o.ok]
    failed = sum(1 for o in ops if not o.ok)
    return {
        "attempted": len(ops),
        "failed": failed,
        "failed_frac": failed / len(ops) if ops else 1.0,
        "latencies": good,
    }


def throughput(latencies: list[float], wall: float) -> float:
    """Ops per second of a closed loop, counting only the ops that
    succeeded, so failures lower it."""
    if not latencies:
        raise ValueError("no successful op to measure")
    return len(latencies) / wall


def result_line(
    ops: list[Op],
    metrics: dict[str, float],
    units: dict[str, str],
    problems: list[str] = (),
) -> dict:
    """The benchmark's last stdout line. ``correct`` is false as soon as
    one op failed or mismatched, or a check made outside the ops (see
    ``Workload.problems``) found a wrong answer."""
    o = outcome(ops)
    missing = set(units) - set(metrics)
    if missing:
        raise ValueError(f"metrics missing from the run: {sorted(missing)}")
    return {
        "correct": o["attempted"] > 0 and o["failed"] == 0 and not problems,
        "attempted": o["attempted"],
        "failed": o["failed"],
        "metrics": {
            name: {"value": float(metrics[name]), "unit": units[name]}
            for name in units
        },
    }
