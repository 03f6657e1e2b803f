"""Seeded draws from a discrete distribution given by its cumulative weights."""


def cdf(n, s):
    """Cumulative Zipf(s) weights of ranks 0..n-1."""
    weights = [1.0 / (k + 1) ** s for k in range(n)]
    total = sum(weights)
    acc, out = 0.0, []
    for w in weights:
        acc += w / total
        out.append(acc)
    return out


def draw(rng, cum):
    """The first index whose cumulative weight reaches a uniform draw."""
    u = rng.random()
    lo, hi = 0, len(cum) - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if cum[mid] < u:
            lo = mid + 1
        else:
            hi = mid
    return lo
