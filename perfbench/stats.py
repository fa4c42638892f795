"""Statistics shared by the benchmark runner and the compare command.

Kept free of I/O so the tests in perfbench/tests exercise exactly the code
that produces the numbers.
"""
import math
import statistics

# Percentiles considered for a tail, highest first.
TAIL_LADDER = (99.9, 99.5, 99, 98, 95, 90, 80, 75, 50)
TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median, third quartile by
    `statistics.quantiles(values, n=4)` (exclusive method)."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def nearest_rank(sorted_values, p):
    """The p-th percentile by nearest rank, and the number of samples
    strictly above that rank."""
    n = len(sorted_values)
    rank = max(1, math.ceil(p * n / 100 - 1e-9))
    return sorted_values[rank - 1], n - rank


def tail_percentile(values):
    """The highest percentile of `TAIL_LADDER` with at least ten samples
    beyond it, as (percentile, value); None when fewer than twenty samples
    leave no such percentile."""
    s = sorted(values)
    for p in TAIL_LADDER:
        if not s:
            break
        v, beyond = nearest_rank(s, p)
        if beyond >= TAIL_MIN_BEYOND:
            return p, v
    return None


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per span kind, in the spans' time unit: each span's duration
    minus the part of its interval that its children cover. Children are
    clipped to their parent; overlapping children count once."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s0, s1 = sp["t0_ms"], sp["t1_ms"]
        if s0 is None or s1 is None:
            continue
        covered = union_length(
            [(max(c["t0_ms"], s0), min(c["t1_ms"], s1))
             for c in children.get(sp["id"], [])
             if c["t0_ms"] is not None and c["t1_ms"] is not None
             and min(c["t1_ms"], s1) > max(c["t0_ms"], s0)])
        out[sp["kind"]] = out.get(sp["kind"], 0.0) + (s1 - s0) - covered
    return out


def verdict(parent, change, bound, better):
    """Verdict for one workload x metric from the runs of two commits.

    improved   the change wins at least nine tenths of the (parent, change)
               run pairs, ties counting for neither, and the medians differ
               by more than the parent's own quartile distance;
    worse      the change's median is worse than the parent's by more than
               `bound` (a share of the parent's median);
    unresolved either side's quartile distance, as a share of its median, is
               wider than `bound`, unless every change run reads better than
               every parent run;
    no worse   otherwise.
    """
    sign = 1.0 if better == "lower" else -1.0
    gain = lambda a, b: sign * (a - b)  # > 0 when b is better than a
    pm, cm = median(parent), median(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if gain(p, c) > 0)
    win_share = wins / len(pairs) if pairs else 0.0
    q1, _, q3 = quartiles(parent)
    improved = win_share >= 0.9 and gain(pm, cm) > (q3 - q1)
    worse_by = -gain(pm, cm) / abs(pm) if pm else 0.0
    if spread(parent) > bound or spread(change) > bound:
        if all(gain(p, c) > 0 for p in parent for c in change):
            return ("improved" if improved else "no worse"), win_share
        return "unresolved", win_share
    if improved:
        return "improved", win_share
    if worse_by > bound:
        return "worse", win_share
    return "no worse", win_share
