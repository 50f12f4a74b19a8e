"""Order statistics the benchmark reports."""
import statistics

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=TAIL_BEYOND):
    """Nearest-rank tail: the highest percentile with at least `beyond`
    samples above it. Returns (value, rank, n); rank is 1-based in
    ascending order. With `beyond` samples or fewer it is the maximum."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0, 0
    rank = n - beyond if n > beyond else n
    return v[rank - 1], rank, n

