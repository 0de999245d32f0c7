"""Pure functions that turn the harness's raw records into metrics."""
import math
import statistics

TAIL_CANDIDATES = (50.0, 90.0, 99.0, 99.9)


def _beta_cf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def percentile(values, p):
    """Harrell-Davis estimate of the p-th percentile of `values`
    (0 <= p <= 100): a mean of all order statistics weighted by the
    Beta((n+1)q, (n+1)(1-q)) distribution, q = p / 100.  Unlike a single
    order statistic it does not jump when the percentile falls between
    two clusters of latencies."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    n, q = len(xs), p / 100.0
    if n == 1 or q <= 0.0:
        return xs[0]
    if q >= 1.0:
        return xs[-1]
    a, b = (n + 1) * q, (n + 1) * (1.0 - q)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def tail_percentile(n):
    """The highest percentile with at least ten of `n` samples beyond it,
    or None when even the median has fewer."""
    best = None
    for p in TAIL_CANDIDATES:
        per_mille = round(p * 10)
        if n * (1000 - per_mille) >= 10 * 1000:
            best = p
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def driver_gap(t0, t1, jobs):
    """Wall time of [t0, t1] not covered by any job interval."""
    return (t1 - t0) - union_length(clip(jobs, t0, t1))


def self_times(spans):
    """{span id: duration minus the part its children cover}.  Spans are
    (id, parent, t0, t1)."""
    children = {}
    for sid, parent, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    return {sid: (e - s) - union_length(clip(children.get(sid, []), s, e))
            for sid, parent, s, e in spans}


def mean(xs, default=0.0):
    xs = list(xs)
    return statistics.fmean(xs) if xs else default


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default
