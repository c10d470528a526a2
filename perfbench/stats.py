"""Order statistics used by every workload."""
import math

TAIL_BEYOND = 10


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def hd_median(xs, steps=64):
    """Harrell-Davis estimate of the median: a weighted sum of all the
    order statistics, order statistic i (1-based) weighted by the mass
    that Beta((n+1)/2, (n+1)/2) puts on [(i-1)/n, i/n]. The weights
    are symmetric and peak at the middle, so on symmetric samples it
    equals the sample median. It leans on more than the middle one or
    two samples, so one noisy sample there moves it less."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    if n == 1:
        return s[0]
    a = (n + 1) / 2
    # the Beta normalisation keeps exp() in range for large n
    ln_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * (math.log(x) + math.log1p(-x)) - ln_beta)

    weights = []
    for i in range(n):
        lo, h = i / n, 1 / (n * steps)
        # Simpson's rule over the i-th cell (steps is even)
        weights.append(pdf(lo) + pdf(lo + steps * h) + sum(
            (4 if k % 2 else 2) * pdf(lo + k * h) for k in range(1, steps)))
    return sum(w * v for w, v in zip(weights, s)) / sum(weights)


def percentile(xs, q):
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))]


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile that still has `beyond` samples above it:
    the (beyond+1)-th largest sample. Returns (value, percentile)."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n
