"""Summary statistics the benchmark reports for a list of timings."""
import statistics

TAIL_BEYOND = 10


def p50(xs):
    return statistics.median(xs)


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n): the (n - 10)-th smallest sample,
    its percentile rank 100 * (n - 10) / n, and the sample count.
    Needs at least 11 samples.
    """
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"a tail needs more than {TAIL_BEYOND} samples, got {n}")
    k = n - TAIL_BEYOND
    return sorted(xs)[k - 1], 100.0 * k / n, n
