"""Summary statistics for per-op-type samples.

Every summary covers one op type; samples of different types are never
pooled.  A p90 is given only when at least ``MIN_TAIL`` samples lie
beyond it, which needs at least ``MIN_TAIL * 10`` samples; otherwise it
is omitted and the reason is said.
"""

from __future__ import annotations

import math
import statistics

MIN_TAIL = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def p90(xs: list[float]) -> tuple[float | None, str | None]:
    """(value, None) or (None, reason).  The value is the sample at rank
    ceil(0.9 n) (nearest rank), so exactly ``n - rank`` samples lie
    beyond it."""
    n = len(xs)
    rank = math.ceil(0.9 * n)
    beyond = n - rank
    if beyond < MIN_TAIL:
        return None, (f"{n} samples leave {beyond} beyond p90; "
                      f"{MIN_TAIL} needed")
    return float(sorted(xs)[rank - 1]), None


def summarize(samples: dict[str, list[float]]) -> dict[str, dict]:
    """{op type: {"n", "p50", "p90" | "p90_omitted"}} for each type."""
    out = {}
    for kind, xs in sorted(samples.items()):
        if not xs:
            continue
        row = {"n": len(xs), "p50": median(xs)}
        v, why = p90(xs)
        if why is None:
            row["p90"] = v
        else:
            row["p90_omitted"] = why
        out[kind] = row
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them - the steadiness measure the benchmark is held to."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
