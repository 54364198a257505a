"""Statistics of the benchmark's own making, kept free of I/O so that
they are unit-tested (perfbench/tests)."""
import statistics

# op_tail_s averages the slowest 1/TAIL_DIVISOR of a run's ops.
TAIL_DIVISOR = 10


def tail(latencies, divisor=TAIL_DIVISOR):
    """Mean latency of the slowest tenth of the samples, rounded up to
    at least one: the expected latency beyond p90 (at 100 samples or
    more, the ten or more ops beyond it).

    A run times 14 to 34 ops, so any single percentile above the median
    is one op's latency, and that one op swung by 16-26% between runs of
    the same code on a shared host; the mean over the slowest tenth
    still moves with every slow op, the spikes included.

    Returns (value, ops averaged, samples)."""
    xs = sorted(latencies, reverse=True)
    if not xs:
        raise ValueError("no samples")
    k = -(-len(xs) // divisor)
    return sum(xs[:k]) / k, k, len(xs)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals,
    each clipped to [lo, hi] when given."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_s(op):
    """Op wall time not covered by any of its Spark jobs (seconds)."""
    lo, hi = op["start_ms"], op["end_ms"]
    jobs = (op.get("trace") or {}).get("jobs", [])
    return max(0.0, (hi - lo) - union_length(jobs, lo, hi)) / 1e3


def accounting(ops, checks):
    """Failure accounting over every op attempted.

    `ops`: op records with `ok`; `checks`: {op id: (ok, message)} for
    the ops whose output was checked.  An op that failed is not checked
    and counts in `failed`; an op whose check failed counts in `wrong`."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    checked = sum(1 for o in ops if o["ok"] and o["id"] in checks)
    wrong = sum(1 for o in ops if o["ok"] and o["id"] in checks
                and not checks[o["id"]][0])
    return {"attempted": attempted, "failed": failed, "checked": checked,
            "wrong": wrong,
            "error_rate": failed / attempted if attempted else 0.0,
            "wrong_rate": wrong / checked if checked else 0.0}


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def mean(xs, default=0.0):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else default
