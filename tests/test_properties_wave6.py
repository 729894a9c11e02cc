"""Property-based tests (hypothesis) for the wave 6-9 algorithmic
cores. These check the THEOREMS the operators rely on — prefix-filter
recall, positional-filter soundness, largest-remainder exactness — on
randomized inputs, in plain Python (mirrors of the columnar logic), so
thousands of cases run without Spark jobs. The Spark implementations
are separately gated against brute-force oracles on fixtures; these
properties guard the MATH as the operators evolve."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

# ----------------------------------------------------- prefix filter

TOKENS = st.lists(
    st.sampled_from([f"t{i}" for i in range(12)]), min_size=1, max_size=10,
    unique=True,
)


def _prefix(toks: list[str], dfreq: dict[str, int], t: float) -> list[str]:
    order = sorted(toks, key=lambda x: (dfreq[x], x))
    p = len(toks) - math.ceil(t * len(toks)) + 1
    return order[:p]


@settings(max_examples=300, deadline=None)
@given(TOKENS, TOKENS, st.floats(min_value=0.1, max_value=0.95))
def test_prefix_filter_never_misses(xs, ys, t):
    """The prefix-filter theorem: J(x,y) >= t implies the prefixes
    share a token — for ANY document-frequency assignment (here: df
    from the two docs themselves)."""
    x, y = set(xs), set(ys)
    j = len(x & y) / len(x | y)
    if j < t:
        return
    dfreq = {tok: (tok in x) + (tok in y) for tok in x | y}
    px, py = set(_prefix(xs, dfreq, t)), set(_prefix(ys, dfreq, t))
    assert px & py, f"similar pair lost by prefix filter: {x} {y} t={t} j={j}"


@settings(max_examples=300, deadline=None)
@given(TOKENS, TOKENS, st.floats(min_value=0.1, max_value=0.95))
def test_positional_filter_sound(xs, ys, t):
    """PPJoin positional bound: at the first both-prefix shared token
    t0 (global order), overlap <= 1 + min(|x|-i, |y|-j). A pair at
    J >= t must pass the alpha cut — the filter can only drop
    dissimilar pairs."""
    x, y = set(xs), set(ys)
    j = len(x & y) / len(x | y)
    if j < t:
        return
    dfreq = {tok: (tok in x) + (tok in y) for tok in x | y}
    key = lambda tok: (dfreq[tok], tok)  # noqa: E731
    ox = sorted(x, key=key)
    oy = sorted(y, key=key)
    px = set(_prefix(list(x), dfreq, t))
    py = set(_prefix(list(y), dfreq, t))
    shared_prefix = px & py
    assert shared_prefix  # prefix theorem, tested above
    t0 = min(shared_prefix, key=key)
    i, jj = ox.index(t0) + 1, oy.index(t0) + 1
    bound = 1 + min(len(x) - i, len(y) - jj)
    alpha = math.ceil(t * (len(x) + len(y)) / (1 + t))
    assert bound >= alpha, (
        f"positional filter would drop a similar pair: {x} {y} t={t} "
        f"bound={bound} alpha={alpha}"
    )


# ------------------------------------------------- largest remainder


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=20),
    st.integers(min_value=1, max_value=5_000),
)
def test_largest_remainder_exact_and_fair(counts, budget):
    total = sum(counts)
    shares = [c * budget / total for c in counts]
    base = [math.floor(s) for s in shares]
    rem = budget - sum(base)
    order = sorted(
        range(len(counts)), key=lambda i: (-(shares[i] - base[i]), i)
    )
    alloc = list(base)
    for i in order[:rem]:
        alloc[i] += 1
    assert sum(alloc) == budget          # exactness
    for a, s in zip(alloc, shares):
        assert abs(a - s) < 1            # within one slot of proportional
