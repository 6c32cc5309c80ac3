"""Pure arithmetic of the benchmark: query orders, percentiles, span self
time and per-layer ratios. Kept free of I/O so it can be unit-tested."""
import math
import random
import statistics

# Percentiles the tail metric may report, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10
# The fewest samples with which the lowest candidate meets the rule.
MIN_TAIL_SAMPLES = 40


def pass_orders(queries, seed, passes):
    """`passes` independent shuffles of `queries`, drawn from `seed`."""
    rng = random.Random(seed)
    orders = []
    for _ in range(passes):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders


def nearest_rank(values, pct):
    """The nearest-rank percentile of `values` and how many samples lie
    beyond its rank."""
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1], len(ordered) - rank


def tail_percentile(values, min_beyond=MIN_BEYOND):
    """(percentile, value, samples beyond) for the highest candidate
    percentile that leaves at least `min_beyond` samples beyond it, or
    None when no candidate does."""
    for pct in TAIL_CANDIDATES:
        value, beyond = nearest_rank(values, pct)
        if beyond >= min_beyond:
            return pct, value, beyond
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    start, end = span
    clipped = [(max(start, s), min(end, e)) for s, e in children]
    return (end - start) - union_length(clipped)


def core_util(task_run_ms, exec_ms, cpus):
    """Share of the available task slots busy while executing."""
    return task_run_ms / (exec_ms * cpus) if exec_ms > 0 and cpus > 0 else 0.0


def ms_per_job(exec_ms, jobs):
    return exec_ms / jobs if jobs > 0 else 0.0


def median(values):
    return statistics.median(values) if values else 0.0


def quartile_spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
