"""Order statistics, interval arithmetic and the A/B decision rules the
benchmark reports with. Pure functions, no I/O."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def nearest_rank(values, p):
    """The nearest-rank p-th percentile: the smallest value with at least
    p% of the samples at or below it."""
    s = sorted(values)
    k = max(1, math.ceil(p * len(s) / 100))
    return s[k - 1]


def tail_percentile(values, beyond=10):
    """The highest whole percentile (at least the median) that leaves at
    least ``beyond`` samples above its nearest-rank position.

    Returns ``(p, value)``. Below ``2 * beyond`` samples no percentile
    above the median qualifies, and the median is returned as p50."""
    n = len(values)
    best = 50
    for p in range(99, 50, -1):
        if n - math.ceil(p * n / 100) >= beyond:
            best = p
            break
    return best, nearest_rank(values, best)


def covered(interval, others):
    """Length of ``interval`` (start, end) covered by the union of
    ``others``, each clipped to it."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in others if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. ``spans`` are dicts with id, parent, start_us and
    end_us; returns {span id: self microseconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - covered((s["start_us"], s["end_us"]), children.get(s["id"], []))
            for s in spans}


def module_self_seconds(spans):
    """Self time summed per module, the span-name prefix before the first dot."""
    own = self_times(spans)
    out = {}
    for s in spans:
        module = s["name"].split(".", 1)[0]
        out[module] = out.get(module, 0.0) + own[s["id"]] / 1e6
    return out


def win_fractions(parent, change, better):
    """Fraction of pairs each side wins; ties count for neither side.
    ``parent`` and ``change`` are equal-length lists of paired values."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need equally many parent and change values, at least one")
    sign = -1 if better == "lower" else 1
    change_wins = sum(1 for a, b in zip(parent, change) if sign * (b - a) > 0)
    parent_wins = sum(1 for a, b in zip(parent, change) if sign * (a - b) > 0)
    return parent_wins / len(parent), change_wins / len(parent)


def verdict(parent, change, better, bound):
    """The section-8 rule of the choosing-metrics method.

    - ``gain``: the change wins at least 9/10 of the pairs and the medians
      differ, in its favour, by more than the parent's own quartile spread;
    - ``regression``: the change's median is worse than the parent's by
      more than ``bound`` (a share of the parent's median);
    - ``unresolved``: either side's spread is wider than ``bound``, unless
      every change run beats every parent run;
    - ``no change`` otherwise."""
    _, change_wins = win_fractions(parent, change, better)
    pq1, pm, pq3 = quartiles(parent)
    cm = median(change)
    sign = -1 if better == "lower" else 1
    if change_wins >= 0.9 and sign * (cm - pm) > pq3 - pq1:
        return "gain"
    all_better = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if (spread(parent) > bound or spread(change) > bound) and not all_better:
        return "unresolved"
    if pm and sign * (pm - cm) / abs(pm) > bound:
        return "regression"
    return "no change"
