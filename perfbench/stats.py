"""Summary statistics with the benchmark's reporting rule: a tail
percentile is reported only when at least ten samples lie beyond it."""
import statistics

MIN_BEYOND = 10


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values, q):
    """The q-th percentile (0 < q < 100, nearest rank on the sorted
    samples), refused unless at least ten samples lie strictly above the
    reported rank."""
    xs = sorted(values)
    n = len(xs)
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    rank = max(1, -(-n * q // 100))  # ceil(n * q / 100), 1-based
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{q:g} of {n} samples leaves {n - rank} beyond it; "
                         f"need {MIN_BEYOND}")
    return xs[int(rank) - 1]


def highest_percentile(values, candidates=(99, 95, 90, 80, 75)):
    """(q, value) for the highest candidate percentile the rule allows."""
    for q in candidates:
        try:
            return q, percentile(values, q)
        except ValueError:
            continue
    raise ValueError(f"{len(values)} samples support no tail percentile")
