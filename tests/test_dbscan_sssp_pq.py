"""DBSCAN / product-quantization unit coverage.

Differential style: the blocked/distributed implementation vs a brute
python recomputation on the same small deterministic inputs.
"""

import random

import pyspark.sql.functions as F

from osm_admin_boundary_conflation_spark.operators.dbscan import (
    dbscan,
    eps_neighbor_pairs,
)
from osm_admin_boundary_conflation_spark.operators import pq as PQ


# --------------------------------------------------------------------------
# eps_neighbor_pairs: completeness + exactly-once vs brute force
# --------------------------------------------------------------------------


def test_eps_pairs_match_brute_force(spark):
    rng = random.Random(7)
    pts = [(i, rng.randrange(0, 200), rng.randrange(0, 200)) for i in range(80)]
    eps = 17
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = sorted(
        (r.ia, r.ib, r.d2) for r in eps_neighbor_pairs(df, eps).collect()
    )
    want = sorted(
        (a[0], b[0], (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2)
        for ai, a in enumerate(pts)
        for b in pts[ai + 1 :]
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= eps * eps
    )
    assert got == want
    assert len(got) == len(set((ia, ib) for ia, ib, _ in got))  # exactly once


def test_eps_pairs_cell_boundary_pair(spark):
    # points in adjacent cells, exactly eps apart (d2 == eps^2 kept)
    df = spark.createDataFrame([(1, 99, 50), (2, 109, 50)], "id long, x long, y long")
    rows = eps_neighbor_pairs(df, 10).collect()
    assert [(r.ia, r.ib, r.d2) for r in rows] == [(1, 2, 100)]


# --------------------------------------------------------------------------
# dbscan semantics: core / border / noise / deterministic tie-break
# --------------------------------------------------------------------------


def _dbscan_brute(pts, eps, min_pts):
    ids = [p[0] for p in pts]
    pos = {p[0]: (p[1], p[2]) for p in pts}
    nbrs = {
        i: {
            j
            for j in ids
            if j != i
            and (pos[i][0] - pos[j][0]) ** 2 + (pos[i][1] - pos[j][1]) ** 2 <= eps * eps
        }
        for i in ids
    }
    core = {i for i in ids if len(nbrs[i]) + 1 >= min_pts}
    # CC over core-core edges, min label
    lab = {i: i for i in core}
    changed = True
    while changed:
        changed = False
        for i in core:
            for j in nbrs[i] & core:
                m = min(lab[i], lab[j])
                if lab[i] != m or lab[j] != m:
                    lab[i] = lab[j] = m
                    changed = True
    out = {}
    for i in ids:
        if i in core:
            out[i] = ("core", lab[i])
        else:
            cn = [lab[j] for j in nbrs[i] & core]
            out[i] = ("border", min(cn)) if cn else ("noise", -1)
    return out


def test_dbscan_two_clusters_border_noise(spark):
    # cluster A around (0..4, 0), cluster B around (100.., 0), one point
    # bridging neither, one border point near A
    pts = (
        [(i, i, 0) for i in range(5)]  # A: ids 0..4, pairwise close
        + [(10 + i, 100 + i, 0) for i in range(5)]  # B: ids 10..14
        + [(20, 7, 0)]  # border of A (within eps of core 4 only)
        + [(30, 50, 50)]  # noise
    )
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {r.id: (r.role, r.cluster_id) for r in dbscan(df, eps=4, min_pts=4).collect()}
    assert got == _dbscan_brute(pts, 4, 4)
    assert got[0] == ("core", 0)
    assert got[20] == ("border", 0)
    assert got[30] == ("noise", -1)


def test_dbscan_border_tiebreak_min_cluster(spark):
    # two 4-core clusters; point 50 is a border neighbour of BOTH —
    # must join the min cluster id deterministically
    a = [(i, i * 2, 0) for i in range(4)]  # ids 0..3 at x=0,2,4,6
    b = [(10 + i, 20 + i * 2, 0) for i in range(4)]  # ids 10..13 at x=20..26
    bridge = [(50, 13, 0)]  # within eps=7 of x=6 (core) and x=20 (core)
    pts = a + b + bridge
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {r.id: (r.role, r.cluster_id) for r in dbscan(df, eps=7, min_pts=4).collect()}
    assert got == _dbscan_brute(pts, 7, 4)
    assert got[50] == ("border", 0)


def test_dbscan_differential_random(spark):
    rng = random.Random(11)
    pts = [(i, rng.randrange(0, 60), rng.randrange(0, 60)) for i in range(60)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {r.id: (r.role, r.cluster_id) for r in dbscan(df, eps=9, min_pts=4).collect()}
    assert got == _dbscan_brute(pts, 9, 4)


# --------------------------------------------------------------------------
# product quantization
# --------------------------------------------------------------------------


def test_pq_encode_centroids_round_trip(spark):
    # vectors equal to codebook entries encode to themselves, ADC = 0
    vecs = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(4)], "vec_id long, embedding array<float>"
    )
    q = PQ.milli_quantize(vecs, "vec_id", "embedding")
    cb = q.select(F.col("id").alias("cid"), "qv")
    codes = PQ.pq_encode(q, cb, m=2, dim=8)
    got = {(r.id, r.j): r.cid for r in codes.collect()}
    assert got == {(i, j): i for i in range(4) for j in range(2)}
    top = PQ.adc_topk(codes, q.filter("id = 2"), cb, m=2, dim=8, k=4).collect()
    assert top[0].id == 2 and top[0].adc_d2 == 0


def test_pq_adc_matches_brute(spark):
    rng = random.Random(5)
    raw = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    vecs = spark.createDataFrame(raw, "vec_id long, embedding array<float>")
    q = PQ.milli_quantize(vecs, "vec_id", "embedding")
    qrows = {r.id: list(r.qv) for r in q.collect()}
    cb_ids = [0, 1, 2]
    codes = PQ.pq_encode(
        q,
        q.filter(F.col("id") < 3).select(F.col("id").alias("cid"), "qv"),
        m=2,
        dim=8,
    )
    got_codes = {(r.id, r.j): r.cid for r in codes.collect()}

    def sub(v, j):
        return v[j * 4 : (j + 1) * 4]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    for i, v in qrows.items():
        for j in range(2):
            best = min((d2(sub(v, j), sub(qrows[c], j)), c) for c in cb_ids)[1]
            assert got_codes[(i, j)] == best
    # ADC distances for query 0
    top = PQ.adc_topk(
        codes.filter("id != 0"),
        q.filter("id = 0"),
        q.filter(F.col("id") < 3).select(F.col("id").alias("cid"), "qv"),
        m=2,
        dim=8,
        k=5,
    ).collect()
    want = sorted(
        (
            sum(
                d2(sub(qrows[0], j), sub(qrows[got_codes[(i, j)]], j))
                for j in range(2)
            ),
            i,
        )
        for i in qrows
        if i != 0
    )[:5]
    assert [(r.adc_d2, r.id) for r in top] == want
