"""Summary statistics of the benchmark's samples."""
import statistics


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def rate(count, seconds):
    """Events per second."""
    if seconds <= 0:
        raise ValueError("rate over no time")
    return count / seconds


def iqr_share(values):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles of statistics.quantiles(n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
