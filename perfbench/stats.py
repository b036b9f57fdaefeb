"""Sample statistics and result fingerprints used by the benchmark."""
import re

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def slowest_median(groups):
    """The largest of the groups' medians: given each query's latencies, the
    slowest query's median latency."""
    return max(median(g) for g in groups)


def quartile_spread(xs):
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(xs, n=4) gives them."""
    import statistics
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def disagreeing_ops(samples):
    """Given {op: [fingerprint per repetition]}, the ops whose repetitions
    disagree (empty if every op repeated identically). A fingerprint is any
    JSON value: a row count, or (rows, order-independent row hash)."""
    return sorted(op for op, fps in samples.items()
                  if len({repr(f) for f in fps}) > 1)
