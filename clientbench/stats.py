"""The tail-percentile rule of the benchmark's reports."""


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n), or None when there are not more than
    `beyond` samples. The value is the (beyond+1)-th largest sample, so
    exactly `beyond` samples lie beyond it (ties aside); its percentile
    is the share of samples at or below its rank.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond - 1
    return xs[k], 100.0 * (k + 1) / n, n

