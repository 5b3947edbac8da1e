"""Summary rules shared by the benchmark and its steadiness script."""
import os
import statistics
import sys

TAIL_MIN_SAMPLES = 40
TAIL_BEYOND = 10


def tail_percentile(n: int):
    """Highest whole percentile with at least ten of n samples beyond it
    (nearest rank), or None below 40 samples: fewer would be no tail."""
    if n < TAIL_MIN_SAMPLES:
        return None
    p = 99
    while p > 0 and n - _rank(p, n) < TAIL_BEYOND:
        p -= 1
    return p


def _rank(p: int, n: int) -> int:
    # nearest-rank: the ceil(p/100 * n)-th smallest sample
    return -(-p * n // 100)


def percentile(xs, p: int) -> float:
    s = sorted(xs)
    return s[_rank(p, len(s)) - 1]


def tail(xs):
    """(percentile, value) of the tail of xs under the rule above, or None
    below 40 samples."""
    p = tail_percentile(len(xs))
    return None if p is None else (p, percentile(xs, p))


def spread(xs) -> float:
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def host_speed() -> float:
    """One `scripts/host_speed.py` probe: seconds for its fixed single-core
    loop, a reading of the host's speed at the time of the run, recorded as
    context."""
    sys.path.append(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts"))
    import host_speed
    return round(host_speed.burn(), 3)
