"""Summary statistics and argument parsing shared by the benchmark.

Kept free of Spark imports so the tests run in milliseconds.
"""

from __future__ import annotations


def median(values):
    """The true median: the mean of the two middle values at even n."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    if n % 2:
        return xs[mid]
    return (xs[mid - 1] + xs[mid]) / 2


def tail(values, beyond=10):
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(percentile, value, n)``, or ``None`` when there are not
    more than ``beyond`` samples: no percentile is supported then.  The
    value is the sample at 1-based rank ``n - beyond``; exactly
    ``beyond`` samples rank above it.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    rank = n - beyond
    return 100.0 * rank / n, xs[rank - 1], n


def quartile_spread(values):
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them (exclusive method, n=4)."""
    import statistics

    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def drift(values, share=0.2):
    """Median of the last ``share`` of a series over the median of its
    first ``share``; ``None`` when either slice would be empty."""
    k = int(len(values) * share)
    if k < 1:
        return None
    return median(values[-k:]) / median(values[:k])


def parse_flags(argv, spec):
    """Parse ``--name value`` and ``--name=value`` flags.

    ``spec`` maps each flag name (without dashes) to a converter, such
    as ``int``.  Every flag in ``spec`` is required; an unknown flag, a
    repeated flag or a missing value raises ``ValueError``.
    """
    out = {}
    i = 0
    while i < len(argv):
        arg = argv[i]
        if not arg.startswith("--"):
            raise ValueError(f"unexpected argument: {arg!r}")
        name, eq, value = arg[2:].partition("=")
        if name not in spec:
            raise ValueError(f"unknown flag: --{name}")
        if name in out:
            raise ValueError(f"repeated flag: --{name}")
        if not eq:
            i += 1
            if i == len(argv):
                raise ValueError(f"--{name} needs a value")
            value = argv[i]
        out[name] = spec[name](value)
        i += 1
    missing = [f"--{k}" for k in spec if k not in out]
    if missing:
        raise ValueError(f"missing flags: {' '.join(missing)}")
    return out
