"""Unit/property tests for the round-7 wave-3 operators: suffix array
prefix doubling and D8 flow accumulation. Each checks the operator against an independent pure-
Python derivation on randomized-but-seeded inputs — the oracle gates
cover the corpus; these cover shapes the corpus does not reach."""

import random


def _py_suffix_ranks(text: str) -> dict:
    sufs = sorted(range(1, len(text) + 1), key=lambda p: text[p - 1 :])
    return {pos: rank + 1 for rank, pos in enumerate(sufs)}


def test_suffix_array_matches_python_sort(spark):
    from osm_admin_boundary_conflation_spark.operators.suffix_array import (
        suffix_array,
    )

    rng = random.Random(7)
    docs = [
        (i, "".join(rng.choice("abcd") for _ in range(rng.randint(1, 64))))
        for i in range(40)
    ]
    # repeated-run strings stress tie survival across doubling rounds
    docs += [(100, "aaaaaaaaaaaaaaaa"), (101, "abababababab"), (102, "a")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["pos"]): r["sa_rank"]
        for r in suffix_array(df, max_len=64).collect()
    }
    for doc_id, text in docs:
        want = _py_suffix_ranks(text[:64])
        for pos, rank in want.items():
            assert got[(doc_id, pos)] == rank, (doc_id, pos, text)


def test_d8_flow_accumulation_line(spark):
    from osm_admin_boundary_conflation_spark.operators.raster import (
        d8_flow_accumulation,
    )

    # strictly monotone 1x8 strip: cell i drains to i-1; acc = 8..1
    cells = spark.createDataFrame(
        [(i, 0, i, i * 10) for i in range(8)], "cell long, r long, c long, z long"
    )
    got = {
        r["cell"]: r["accumulation"]
        for r in d8_flow_accumulation(cells, rounds=8).collect()
    }
    assert got == {i: 8 - i for i in range(8)}


def test_d8_flow_accumulation_random_dem_vs_python(spark):
    from osm_admin_boundary_conflation_spark.operators.raster import (
        d8_flow_accumulation,
    )

    rng = random.Random(29)
    R = C = 8
    z = {(r, c): rng.randint(0, 999) for r in range(R) for c in range(C)}
    offs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
    flow = {}
    for r in range(R):
        for c in range(C):
            best = None
            for dr, dc in offs:
                rr, cc = r + dr, c + dc
                if 0 <= rr < R and 0 <= cc < C:
                    key = (z[(rr, cc)], rr * C + cc)
                    if best is None or key < best:
                        best = key
            u = r * C + c
            if best and best[0] < z[(r, c)]:
                flow[u] = best[1]
    acc = {v: 0 for v in range(R * C)}
    maxlen = 0
    for u in range(R * C):
        cur = u
        steps = 0
        while True:
            acc[cur] += 1
            if cur not in flow:
                break
            cur = flow[cur]
            steps += 1
        maxlen = max(maxlen, steps)
    cells = spark.createDataFrame(
        [(r * C + c, r, c, z[(r, c)]) for r in range(R) for c in range(C)],
        "cell long, r long, c long, z long",
    ).coalesce(1)
    got = {
        row["cell"]: row["accumulation"]
        for row in d8_flow_accumulation(cells, rounds=maxlen + 1).collect()
    }
    assert got == acc
