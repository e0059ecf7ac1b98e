"""Helpers of the benchmark driver: percentiles, metric summaries and the
traced-run consistency check. Pure functions, tested by test_benchlib.py."""

import math
import statistics

# A percentile is only reported when at least this many samples lie
# beyond it, so one outlier cannot decide it.
MIN_BEYOND = 10


def samples_beyond(n, q):
    """Samples strictly above the q-quantile's rank in a sorted list of n."""
    return n - math.ceil(q * n)


def percentile(values, q, min_beyond=MIN_BEYOND):
    """Linear-interpolated q-quantile (0 <= q <= 1) of values.

    Raises ValueError when fewer than min_beyond samples lie beyond it.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    if samples_beyond(len(xs), q) < min_beyond:
        raise ValueError(
            f"{len(xs)} samples leave {samples_beyond(len(xs), q)} beyond "
            f"p{q * 100:g}; need {min_beyond}")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return statistics.median(values)


def layer_sums(samples):
    """Sum of every per-layer field over the given statement samples."""
    out = {}
    for s in samples:
        for k, v in s.get("layers", {}).items():
            out[k] = out.get(k, 0.0) + v
    return out


# Listener, tracker and client clocks read whole milliseconds, and a
# layer sum adds up to six of them.
CLOCK_SLACK_S = 0.006


def consistency_misses(traced, untraced, slack=CLOCK_SLACK_S):
    """Statements whose traced layer times do not add up to their
    untraced wall time within the statement's own tracing overhead.

    traced maps a statement name to (layer fields, traced wall time),
    untraced maps it to its untraced wall time. The tolerance is
    |traced wall - untraced wall| + slack. Returns (name, layer_sum,
    untraced_wall, tolerance) rows."""
    parts = ("build.s", "analysis.s", "optimization.s", "planning.s", "exec.s")
    misses = []
    for name, (layers, wall) in sorted(traced.items()):
        if name not in untraced:
            continue
        total = sum(layers.get(p, 0.0) for p in parts)
        tolerance = abs(wall - untraced[name]) + slack
        if abs(total - untraced[name]) > tolerance:
            misses.append((name, total, untraced[name], tolerance))
    return misses
