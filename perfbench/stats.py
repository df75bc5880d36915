"""Order statistics and span arithmetic of the benchmark."""
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median, third quartile, as
    `statistics.quantiles(values, n=4)` gives them."""
    return statistics.quantiles(values, n=4)


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def p90(values):
    """90th percentile, linear interpolation between closest ranks
    (`statistics.quantiles(values, n=10, method="inclusive")`)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Each span's wall time minus the time covered by its direct
    children. `spans` are dicts with t0, t1 and parent (an index into
    `spans`, -1 for none)."""
    children = {}
    for i, s in enumerate(spans):
        children.setdefault(s["parent"], []).append(i)
    return [
        (s["t1"] - s["t0"]) - union_length(
            [(spans[c]["t0"], spans[c]["t1"]) for c in children.get(i, [])])
        for i, s in enumerate(spans)
    ]
