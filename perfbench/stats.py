"""Summary statistics and the seeded query order."""
import random
import statistics


def median(values):
    return statistics.median(values)


def tail(values):
    """The highest percentile with at least 10 samples above it, as
    (value, percentile, sample count), or None below 11 samples. In
    ascending order the sample at index n-11 has exactly 10 above it and
    n-10 of the n samples at or below it."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def draw(queries, seed, passes):
    """`passes` seeded orders of the frozen queries. Pass 0 runs each query
    for the first time in the JVM; the later passes repeat them."""
    rng = random.Random(seed)
    return [rng.sample(queries, len(queries)) for _ in range(passes)]
