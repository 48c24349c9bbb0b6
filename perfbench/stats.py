"""Arithmetic shared by run.py, compare.py and the self-tests (stdlib only)."""
import random
import statistics

# A percentile is reported only when at least this many samples lie
# strictly beyond it: with fewer, one outlier moves it.
MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated p-th percentile (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples_beyond(n, p):
    """How many of n sorted samples lie strictly above the p-th percentile rank."""
    return n - 1 - int((n - 1) * p / 100.0)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """{span id: duration minus the union of its children's intervals}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
            for s in spans}


def self_time_by_layer(spans):
    """{span name: summed self time} over a trace."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out


def pair_wins(parent, change, better):
    """How many (parent, change) run pairs the change wins.

    Runs pair up in order. `better` is "lower" or "higher".
    """
    n = min(len(parent), len(change))
    if better == "lower":
        return sum(change[i] < parent[i] for i in range(n)), n
    return sum(change[i] > parent[i] for i in range(n)), n


def nine_in_ten(wins, n):
    """The nine-in-ten rule: the change wins at least 90% of the pairs."""
    return n > 0 and wins * 10 >= 9 * n


def seeded_orders(names, seed, n):
    """n permutations of `names`, one per pass, fixed by `seed` alone.

    Passes come in pairs: an odd pass runs the pass before it reversed,
    so of any two queries each runs first in one pass of the pair.
    """
    rng = random.Random(seed)
    out = []
    for i in range(n):
        if i % 2:
            out.append(out[-1][::-1])
            continue
        xs = sorted(names)
        rng.shuffle(xs)
        out.append(xs)
    return out
