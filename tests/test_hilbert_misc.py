"""Hilbert index and Allen relations: unit coverage."""

import pyspark.sql.functions as F

from osm_admin_boundary_conflation_spark.functions.hilbert import with_hilbert


def _xy2d_ref(n, x, y):
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_reference_walk(spark):
    pts = [(x, y) for x in range(0, 256, 17) for y in range(0, 256, 13)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r.x, r.y): r.h for r in with_hilbert(df, "x", "y", bits=8).collect()}
    for x, y in pts:
        assert got[(x, y)] == _xy2d_ref(256, x, y)


def test_hilbert_bijective_on_small_grid(spark):
    df = spark.range(256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("long").alias("y")
    )
    hs = [r.h for r in with_hilbert(df, "x", "y", bits=4).collect()]
    assert sorted(hs) == list(range(256))


def test_hilbert_unit_steps_adjacent(spark):
    # consecutive Hilbert indices are spatially adjacent (|dx|+|dy| = 1)
    df = spark.range(64).select(
        (F.col("id") % 8).alias("x"), (F.col("id") / 8).cast("long").alias("y")
    )
    rows = sorted(
        ((r.h, r.x, r.y) for r in with_hilbert(df, "x", "y", bits=3).collect())
    )
    for (h1, x1, y1), (h2, x2, y2) in zip(rows, rows[1:]):
        assert h2 == h1 + 1
        assert abs(x2 - x1) + abs(y2 - y1) == 1


def test_allen_case_ladder_examples(spark):
    from osm_admin_boundary_conflation_spark.queries import QUERIES

    # the gate query covers the synthetic corpus; here pin one example
    # of each relation through plain SQL CASE equivalence in python
    def rel(sa, ea, sb, eb):
        if sa == sb and ea == eb:
            return "equal"
        if ea == sb:
            return "meets"
        if eb == sa:
            return "met_by"
        if sa == sb and ea < eb:
            return "starts"
        if sa == sb:
            return "started_by"
        if ea == eb and sa > sb:
            return "finishes"
        if ea == eb:
            return "finished_by"
        if sa > sb and ea < eb:
            return "during"
        if sa < sb and ea > eb:
            return "contains"
        if sa < sb:
            return "overlaps"
        return "overlapped_by"

    assert rel(0, 5, 0, 5) == "equal"
    assert rel(0, 5, 5, 9) == "meets"
    assert rel(5, 9, 0, 5) == "met_by"
    assert rel(0, 3, 0, 5) == "starts"
    assert rel(0, 5, 0, 3) == "started_by"
    assert rel(3, 5, 0, 5) == "finishes"
    assert rel(0, 5, 3, 5) == "finished_by"
    assert rel(2, 4, 0, 5) == "during"
    assert rel(0, 5, 2, 4) == "contains"
    assert rel(0, 4, 2, 6) == "overlaps"
    assert rel(2, 6, 0, 4) == "overlapped_by"
    assert "allen_relations" in QUERIES

