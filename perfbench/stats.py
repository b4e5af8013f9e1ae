"""The benchmark's arithmetic: order statistics, busy time and utilisation."""
import statistics


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, count) or None when there are too few
    samples for any such percentile."""
    xs = sorted(samples)
    i = len(xs) - beyond - 1
    if i < 0:
        return None
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


def union_len(intervals):
    """Total length covered by a set of [start, end] intervals."""
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


def driver_time(windows, intervals):
    """Time inside `windows` during which none of `intervals` (the span's
    jobs) is running: each window's length minus the union of the job
    intervals clipped to it."""
    idle = 0.0
    for ws, we in windows:
        clipped = [(max(s, ws), min(e, we)) for s, e in intervals
                   if min(e, we) > max(s, ws)]
        idle += (we - ws) - union_len(clipped)
    return idle


def core_util(task_run_s, wall_s, cores):
    """Share of the session's cores the span kept busy."""
    return task_run_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
