"""discrete_frechet2 vs brute-force coupling enumeration (no Spark)."""

import random
from functools import lru_cache

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_admin_boundary_conflation_spark.operators.frechet import discrete_frechet2


def _brute(P, Q):
    @lru_cache(maxsize=None)
    def rec(i, j):
        d = (P[i][0] - Q[j][0]) ** 2 + (P[i][1] - Q[j][1]) ** 2
        if i == 0 and j == 0:
            return d
        best = None
        for pi, pj in [(i - 1, j), (i, j - 1), (i - 1, j - 1)]:
            if pi >= 0 and pj >= 0:
                r = rec(pi, pj)
                best = r if best is None or r < best else best
        return max(d, best)

    return rec(len(P) - 1, len(Q) - 1)


def test_matches_bruteforce_random():
    rng = random.Random(3)
    for _ in range(30):
        n, m = rng.randrange(1, 9), rng.randrange(1, 9)
        P = [(rng.randrange(-20, 20), rng.randrange(-20, 20)) for _ in range(n)]
        Q = [(rng.randrange(-20, 20), rng.randrange(-20, 20)) for _ in range(m)]
        got = discrete_frechet2(
            [p[0] for p in P], [p[1] for p in P], [q[0] for q in Q], [q[1] for q in Q]
        )
        assert got == _brute(tuple(P), tuple(Q))


def test_offset_polyline_closed_form():
    xs = [j * 10 + (j % 3) for j in range(12)]
    ys = [(j * j) % 17 for j in range(12)]
    for delta in [5, 30]:
        got = discrete_frechet2(xs, ys, xs, [y + delta for y in ys])
        assert got == delta * delta


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(0, 2 ** 31 - 1),
    n=st.integers(1, 7),
    m=st.integers(1, 7),
)
def test_frechet_invariants(seed, n, m):
    rng = np.random.RandomState(seed)
    P = rng.randint(-30, 30, size=(n, 2)).astype(np.int64)
    Q = rng.randint(-30, 30, size=(m, 2)).astype(np.int64)
    d = discrete_frechet2(P[:, 0], P[:, 1], Q[:, 0], Q[:, 1])
    # symmetric; zero iff identical-as-sequences; bounded below by the
    # forced endpoint pairings and above by the identity-ish coupling max
    assert d == discrete_frechet2(Q[:, 0], Q[:, 1], P[:, 0], P[:, 1])
    ends = max(
        int(((P[0] - Q[0]) ** 2).sum()), int(((P[-1] - Q[-1]) ** 2).sum())
    )
    assert d >= ends
    if n == m:
        assert d <= int(((P - Q) ** 2).sum(axis=1).max())
    if n == m and np.array_equal(P, Q):
        assert d == 0
