"""Statistics shared by the benchmark run and its compare mode.

Every function here is pure so that tests/test_stats.py can pin it.
"""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile that leaves at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples sorted ascending, the
    sample at 0-based rank n-1-beyond has exactly `beyond` samples above it;
    its percentile is the share of samples at or below it. When that
    sample would not even reach the median (n <= 2 x beyond), the 90th
    percentile is returned, interpolated between the samples around it, so
    that a single slow operation does not set the run's tail.
    """
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    if n <= 2 * beyond:
        p90 = statistics.quantiles(s, n=10, method="inclusive")[-1] if n > 1 else s[0]
        return p90, 90.0, n
    rank = n - 1 - beyond
    return s[rank], 100.0 * (rank + 1) / n, n


def geomean(xs):
    xs = [x for x in xs if x > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def chunk_accounting(chunk_ms, timed_wall_s, streams, chunk_s=2.0):
    """Closed-loop chunk figures: one chunk of `streams` streams is sent
    only after the previous one is done, so the video processed is
    streams x chunk_s x chunks and the rate divides it by the wall time of
    the timed chunks."""
    chunks = len(chunk_ms)
    video_s = streams * chunk_s * chunks
    return {
        "chunks": chunks,
        "video_s": video_s,
        "video_s_per_s": video_s / timed_wall_s if timed_wall_s > 0 else 0.0,
        "chunks_per_s": chunks / timed_wall_s if timed_wall_s > 0 else 0.0,
        "over_deadline": sum(1 for ms in chunk_ms if ms > chunk_s * 1000.0),
    }


def error_accounting(jvm_attempted, jvm_failed, oracle_attempted=0, oracle_failed=0):
    """Failed or wrong operations over operations attempted; a run that
    attempted nothing reads as all errors."""
    attempted = jvm_attempted + oracle_attempted
    failed = jvm_failed + oracle_failed
    return {
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
    }


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def pair_wins(a, b, better):
    """Runs of b that beat the run of a at the same position; ties count
    for neither side. Returns (b_wins, a_wins, pairs)."""
    bw = aw = 0
    for x, y in zip(a, b):
        if x == y:
            continue
        b_better = y < x if better == "lower" else y > x
        if b_better:
            bw += 1
        else:
            aw += 1
    return bw, aw, min(len(a), len(b))
