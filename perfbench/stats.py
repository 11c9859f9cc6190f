"""Arithmetic shared by the benchmark runner and the comparison script.

Every rule here has a check on synthetic inputs in test_stats.py.
"""
import statistics

PERCENTILES = (50, 75, 90, 95, 99, 99.9)
MIN_PAIRS = 10


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median, third quartile (exclusive method)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail_percentile(n):
    """Highest of PERCENTILES with at least ten of n samples beyond it,
    or None when even the median has fewer than ten beyond it."""
    best = None
    for p in PERCENTILES:
        if n * (100 - p) / 100.0 >= 10 - 1e-9:
            best = p
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(start, end, intervals):
    """Wall time of [start, end] minus the union of the task-active
    intervals inside it: time in which no task ran."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return (end - start) - union_length(clipped)


def better_than(a, b, better):
    """True when value a is strictly better than b."""
    return a < b if better == "lower" else a > b


def pair_wins(parent, change, better):
    """Share of pairs (parent[i], change[i]) that the change wins; ties
    count for neither side."""
    pairs = list(zip(parent, change))
    if not pairs:
        return 0.0
    return sum(better_than(c, p, better) for p, c in pairs) / len(pairs)


def verdict(parent, change, better, bound, more_failures=False):
    """improved, unchanged, unresolved or worse, by the rule of
    choosing-metrics section 8 (gain) and section 6.5 (no regression).

    improved: at least MIN_PAIRS pairs, the change wins at least nine
    tenths of them, the medians differ, in its favour, by more than the
    parent's quartile spread, and the change's runs fail no more
    operations than the parent's (more_failures is False). A gain that
    misses only the pair count or the failure rule is unresolved. worse:
    the change's median is worse than the parent's by more than bound (a
    share of the parent's median). unresolved: otherwise, when the
    parent's quartile spread exceeds the bound and not every change run
    beats every parent run. unchanged: otherwise."""
    pm, cm = median(parent), median(change)
    q1, _, q3 = quartiles(parent)
    gain = (pm - cm) if better == "lower" else (cm - pm)
    if pair_wins(parent, change, better) >= 0.9 and gain > q3 - q1:
        if len(parent) < MIN_PAIRS or len(change) < MIN_PAIRS or more_failures:
            return "unresolved"
        return "improved"
    if -gain > bound * abs(pm):
        return "worse"
    spread = (q3 - q1) / abs(pm) if pm else float("inf")
    all_better = all(better_than(c, p, better) for c in change for p in parent)
    if spread > bound and not all_better:
        return "unresolved"
    return "unchanged"
