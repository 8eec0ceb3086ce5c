"""Summary statistics the benchmark reports."""
import statistics

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile) of the highest percentile with at least
    TAIL_BEYOND samples beyond it: the (n - TAIL_BEYOND)-th smallest of n.
    Raises when there are too few samples to support any tail."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError("tail needs more than %d samples, got %d" % (TAIL_BEYOND, n))
    return sorted(xs)[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n

