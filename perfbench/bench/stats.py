"""The benchmark's own arithmetic: percentiles, the tail rule, error
accounting, event creation times and span self time. Kept free of I/O so
test_bench.py can check each rule directly."""
import math
import statistics

TAIL_BEYOND = 10


def _rank(p, n):
    # rounded first, so that 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(values, p):
    """The nearest-rank p-th percentile (0 < p <= 100) of `values`."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` of `n` samples above
    its nearest rank, from 99.9 down through whole percents to 50; None
    when even the median has fewer than `beyond` samples above it."""
    for p in [99.9] + list(range(99, 49, -1)):
        if n - _rank(p, n) >= beyond:
            return p
    return None


def tail(values):
    """(percentile, value) by the tail rule; the maximum, labelled 100,
    when there are too few samples for any percentile to qualify."""
    p = tail_percentile(len(values))
    if p is None:
        return 100, max(values)
    return p, nearest_rank(values, p)


def error_rate(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def share(part, whole):
    return part / whole if whole else 0.0


def creation_ms(event_id, start_ms, rate):
    """When the rate source schedules event `event_id`: `rate` events a
    second, evenly spaced, from `start_ms`."""
    return start_ms + event_id * 1000.0 / rate


def batch_latencies_ms(first_id, end_id, sink_return_ms, start_ms, rate):
    """Event-to-alert latency of each event in [first_id, end_id), all of
    which were delivered by one micro-batch whose sink write returned at
    `sink_return_ms`."""
    return [sink_return_ms - creation_ms(i, start_ms, rate)
            for i in range(first_id, end_id)]


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    t0, t1 = span["t0"], span["t1"]
    clipped = [(max(t0, c["t0"]), min(t1, c["t1"])) for c in children]
    return (t1 - t0) - union_ms([(s, e) for s, e in clipped if e > s])


def median(values, default=0.0):
    return statistics.median(values) if values else default


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf
