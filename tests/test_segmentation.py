"""Segmentation determinism (translation.py pipeline analogue)."""

import random
import re

import pyspark.sql.functions as F

from osm_admin_boundary_conflation_spark import datagen_osm
from osm_admin_boundary_conflation_spark.functions.geometry import canonical_node_fingerprint
from osm_admin_boundary_conflation_spark.operators import segmentation as SG


def _split_way_oracle(nodes, corners) -> list[list[int]]:
    """Plain-Python G13 splitter (splitWay, translation.py:46-82): split
    at corner positions; closed ways merge the piece after the last
    corner with the piece before the first (translation.py:72-79)."""
    nodes = list(nodes)
    if not nodes:
        return []
    closed = len(nodes) > 1 and nodes[0] == nodes[-1]
    core = nodes[:-1] if closed else nodes
    corner_list = [] if corners is None else list(corners)
    idxs = sorted(int(i) for i in corner_list if i < len(core))
    if not idxs:
        return [nodes]
    if closed:
        segs = []
        k = len(idxs)
        for j in range(k):
            a, b = idxs[j], idxs[(j + 1) % k]
            if j < k - 1:
                segs.append(core[a : b + 1])
            else:  # wraparound merge
                segs.append(core[a:] + core[: b + 1])
        return segs
    segs = []
    prev = 0
    for i in idxs:
        if i > prev:
            segs.append(core[prev : i + 1])
        prev = i
    if prev < len(core) - 1:
        segs.append(core[prev:])
    return segs


def _expr_vs_oracle(spark, cases):
    """(split_way_expr output, oracle output) per case index."""
    rows = [(i, n, c) for i, (n, c) in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "id long, node_ids array<long>, corner_pos array<int>"
    )
    got = {
        r["id"]: [list(s) for s in r["segs"]]
        for r in df.select(
            "id", SG.split_way_expr(F.col("node_ids"), F.col("corner_pos")).alias("segs")
        ).collect()
    }
    want = {i: _split_way_oracle(n, c) for i, (n, c) in enumerate(cases)}
    return got, want


def _run(spark, sf_dir):
    ways = datagen_osm.build_strip_world(spark, sf_dir)
    out = SG.segment_ways(ways)
    return sorted(
        (r["fp"], r["parents"], r["n_parents"], r["admin_level"], tuple(r["node_ids"]))
        for r in out.collect()
    )


def test_segment_output_byte_identical_across_parallelism(spark, sf_dir):
    """North rule: identical FULL rows — including the representative
    node_ids, which round 1 picked with first() and could vary with
    partitioning — at different shuffle parallelism."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = _run(spark, sf_dir)
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        b = _run(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b
    # representative is the lexicographically-min serialization of its
    # fingerprint class — recompute one group to pin the rule
    segs = {r[0]: r[4] for r in a}
    assert len(segs) == len(a)  # fp is unique per output row


def test_segment_representative_is_canonical_min(spark):
    """Two rotations/reversals of the same ring dedupe to ONE row whose
    node_ids is the min-serialization member."""
    # two ways (below the >=3-way corner threshold, so no splitting):
    # a ring and its rotated reversal share one fingerprint
    ways = spark.createDataFrame(
        [
            (1, [10, 20, 30, 40, 10], "9"),
            (2, [40, 30, 20, 10, 40], "9"),
        ],
        "way_id long, node_ids array<long>, admin_level string",
    )
    out = SG.segment_ways(ways).collect()
    assert len(out) == 1
    r = out[0]
    assert r["parents"] == "1,2"
    assert r["n_parents"] == 2
    cands = ["10,20,30,40,10", "40,30,20,10,40"]
    assert ",".join(str(x) for x in r["node_ids"]) == min(cands)


def test_lint_observed_metrics(spark):
    """translation.py:331-370 lint analogue: observed counters fire on
    duplicate consecutive nodes and one-node ways, stay zero on clean
    input — without an extra job."""
    from pyspark.sql import Observation

    clean = spark.createDataFrame(
        [(1, [1, 2, 3], "9"), (2, [3, 4], "9")],
        "way_id long, node_ids array<long>, admin_level string",
    )
    obs = Observation("lint")
    SG.segment_ways(clean, lint_observation=obs).collect()
    assert obs.get == {"n_ways": 2, "dup_nodes": 0, "one_node_ways": 0}

    dirty = spark.createDataFrame(
        [(1, [1, 1, 2, 2, 3], "9"), (2, [7], "9"), (3, [8, 9], "9")],
        "way_id long, node_ids array<long>, admin_level string",
    )
    obs2 = Observation("lint2")
    SG.segment_ways(dirty, lint_observation=obs2).collect()
    assert obs2.get == {"n_ways": 3, "dup_nodes": 2, "one_node_ways": 1}


def test_split_expr_matches_udf_edge_cases(spark):
    """split_way_expr (JVM) ≡ the plain-Python oracle on the full edge
    matrix: open/closed, corners at 0 / n-1 / adjacent / none / all,
    single-node ways, empty corner lists, corners past the core, and a
    closed ring the size of the sf0.1 strip perimeter."""
    n_big = 300_000
    big_ring = list(range(1, n_big)) + [1]  # n_big nodes, closed
    cases = [
        ([], []),
        ([1], []),
        ([1], [0]),
        ([1, 2], []),
        ([1, 2], [0]),
        ([1, 2], [1]),
        ([1, 2, 3, 4, 5], []),
        ([1, 2, 3, 4, 5], [0]),
        ([1, 2, 3, 4, 5], [4]),
        ([1, 2, 3, 4, 5], [2]),
        ([1, 2, 3, 4, 5], [1, 2]),
        ([1, 2, 3, 4, 5], [0, 2, 4]),
        ([1, 2, 3, 4, 5], [0, 1, 2, 3, 4]),
        ([1, 2, 3, 4, 5], [7]),  # past the core -> no valid corner
        ([1, 2, 3, 4, 1], []),  # closed, no corners
        ([1, 2, 3, 4, 1], [0]),
        ([1, 2, 3, 4, 1], [2]),
        ([1, 2, 3, 4, 1], [1, 3]),
        ([1, 2, 3, 4, 1], [0, 1, 2, 3]),
        ([1, 2, 3, 4, 1], [3, 1]),  # unsorted corner list
        ([5, 5], []),  # closed 2-node degenerate
        ([5, 5], [0]),
        (big_ring, [0, n_big // 2, n_big - 2]),  # long closed ring
    ]
    got, want = _expr_vs_oracle(spark, cases)
    assert got == want


def test_split_expr_randomized_vs_udf(spark):
    """Randomized differential: 200 random open/closed ways with random
    corner subsets — JVM expression equals the plain-Python oracle."""
    rng = random.Random(11)
    cases = []
    for wid in range(200):
        m = rng.randint(1, 15)
        nodes = [wid * 1000 + i for i in range(m)]
        if rng.random() < 0.4 and m >= 3:
            nodes.append(nodes[0])
        corners = sorted({rng.randrange(0, m + 2) for _ in range(rng.randint(0, 6))})
        cases.append((nodes, corners))
    got, want = _expr_vs_oracle(spark, cases)
    assert got == want


def _fingerprints(spark, lists):
    df = spark.createDataFrame(list(enumerate(lists)), "id long, node_ids array<long>")
    rows = df.select("id", SG.fingerprint_expr(F.col("node_ids")).alias("fp")).collect()
    return [r["fp"] for r in sorted(rows, key=lambda r: r["id"])]


def test_fingerprint_expr_matches_python_oracle(spark):
    """fingerprint_expr (JVM) ≡ canonical_node_fingerprint on a seeded
    batch: open lists and rings, duplicate ids, a minimum that repeats,
    1- and 2-id cores, large ids, and rotated/reversed ring copies."""
    rng = random.Random(13)
    lists = [[], [7], [7, 7], [3, 3, 3], [4, 9, 4], [9, 4, 9], [2, 1, 2, 1, 2], [10**12, 1, 10**12]]
    for _ in range(600):
        m = rng.randint(1, 10)
        scale = rng.choice([1, 10**12])
        ids = [rng.randint(1, rng.randint(1, 5)) * scale for _ in range(m)]
        if rng.random() < 0.6:
            k = rng.randrange(m)
            core = ids[k:] + ids[:k]
            if rng.random() < 0.5:
                core = core[::-1]
            lists += [ids + ids[:1], core + core[:1]]
        else:
            lists.append(ids)
    got = _fingerprints(spark, lists)
    assert got == [canonical_node_fingerprint(ids) for ids in lists]


def test_fingerprint_expr_long_ring(spark):
    """A 20,000-node ring and its rotated reversal share one fingerprint,
    equal to an O(n) min-anchored oracle (the ids are distinct, so the
    least rotation of each orientation starts at the unique minimum)."""
    core = list(range(1, 20_001))
    random.Random(5).shuffle(core)
    rev = core[::-1]
    rotated_rev = rev[777:] + rev[:777]

    def anchored(c):
        k = c.index(min(c))
        return c[k:] + c[:k]

    want = "R:" + ",".join(map(str, min(anchored(core), anchored(core[::-1]))))
    got = _fingerprints(spark, [core + core[:1], rotated_rev + rotated_rev[:1]])
    assert got == [want, want]


def test_segment_ways_plan_is_one_jvm_pass(spark):
    """segment_ways runs no Python worker, caches nothing, and reads its
    split segments once: no ArrowEvalPython, InMemoryRelation or Union
    node in the executed plan."""
    ways = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 1], "9"), (2, [3, 4, 5], "9"), (3, [4, 6, 3], "9")],
        "way_id long, node_ids array<long>, admin_level string",
    )
    out = SG.segment_ways(ways)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"ArrowEvalPython|InMemoryRelation|Union", plan), plan
