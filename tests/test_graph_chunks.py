"""Connected components (dedup clustering) and chunk-level text ops."""

import pyspark.sql.functions as F
import pytest

from osm_admin_boundary_conflation_spark.operators.graph import connected_components
from osm_admin_boundary_conflation_spark.queries import _chunks_col


def _cc(spark, node_ids, edge_pairs):
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id long")
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_pairs] or [(None, None)], "src long, dst long"
    )
    if not edge_pairs:
        edges = edges.filter(F.col("src").isNotNull())
    out = connected_components(nodes, edges).collect()
    return {r.id: r.cluster_id for r in out}


def test_cc_two_components_and_singleton(spark):
    # component {1,2,3} (chain), component {10,11}, singleton 99
    got = _cc(spark, [1, 2, 3, 10, 11, 99], [(2, 1), (3, 2), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_cc_long_chain_converges(spark):
    # diameter 9 chain labelled from the far end — needs >1 round
    ids = list(range(20, 30))
    edges = [(a, a + 1) for a in ids[:-1]]
    got = _cc(spark, ids, edges)
    assert set(got.values()) == {20}


def test_cc_orientation_invariant(spark):
    ids = [5, 6, 7]
    assert _cc(spark, ids, [(7, 6), (5, 6)]) == _cc(spark, ids, [(6, 7), (6, 5)])


def test_cc_no_edges(spark):
    got = _cc(spark, [1, 2], [])
    assert got == {1: 1, 2: 2}


@pytest.mark.parametrize(
    "text,expected",
    [
        ("a b c", ["a b c"]),
        (" ".join(f"w{i}" for i in range(10)), [" ".join(f"w{i}" for i in range(10))]),
        (
            " ".join(f"w{i}" for i in range(23)),
            [
                " ".join(f"w{i}" for i in range(10)),
                " ".join(f"w{i}" for i in range(10, 20)),
                "w20 w21 w22",
            ],
        ),
    ],
)
def test_chunks_col(spark, text, expected):
    row = spark.range(1).select(_chunks_col(F.lit(text)).alias("c")).first()
    assert row.c == expected


def test_chunks_roundtrip_rebuild(spark):
    # joining the chunks back with ' ' reproduces the normalized text
    text = " ".join(f"tok{i}" for i in range(37))
    row = (
        spark.range(1)
        .select(F.array_join(_chunks_col(F.lit("  " + text.upper() + " ")), " ").alias("t"))
        .first()
    )
    assert row.t == text.lower()


def test_zorder_roundtrip_and_profile_single_scan(spark):
    from osm_admin_boundary_conflation_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["zorder_encode"](spark, sf).collect()
    assert rows

    def deinterleave(z):
        cy = cx = 0
        for k in range(16):
            cy |= ((z >> (2 * k + 1)) & 1) << k
            cx |= ((z >> (2 * k)) & 1) << k
        return cy, cx

    for r in rows:
        assert deinterleave(r.zkey) == (r.cy, r.cx)

    plan = (
        QUERIES["profile_table"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, "profiler must not rescan per column"


def test_cc_matches_union_find(spark):
    """Differential vs a plain union-find on pseudo-random graphs."""
    for seed in (3, 11):
        n = 40
        ids = list(range(n))
        edges = [((i * seed) % n, (i * seed + seed * seed) % n) for i in range(25)]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(n))

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in ids}
        got = _cc(spark, ids, edges)
        assert got == want


def test_merge_aggregates_equals_direct(spark):
    """Merging partial aggregate states == one-pass aggregation."""
    import pyspark.sql.functions as F

    from osm_admin_boundary_conflation_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    merged = {r.source: (r.n_docs, r.sum_chars, r.min_chars, r.max_chars)
              for r in QUERIES["merge_aggregates"](spark, sf).collect()}
    direct = {
        r.source: (r.n_docs, r.sum_chars, r.min_chars, r.max_chars)
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .collect()
    }
    assert merged == direct and len(merged) > 0


def test_decile_scale_path_approximates_ntile(spark):
    """The 100-TB path promised in q_quality_deciles' docstring:
    approxQuantile cut points + codegen bucketing approximates the exact
    global-sort ntile distribution."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n = docs.count()
    cuts = docs.approxQuantile("n_chars", [i / 10 for i in range(1, 10)], 0.01)
    bucket = F.lit(1)
    for c in cuts:
        bucket = bucket + (F.col("n_chars") > c).cast("int")
    counts = (
        docs.select(bucket.alias("b")).groupBy("b").count().collect()
    )
    got = {r.b: r["count"] for r in counts}
    # every decile within 50% relative of the ideal n/10 (ties distort)
    assert set(got) <= set(range(1, 11))
    for b in range(1, 11):
        assert abs(got.get(b, 0) - n / 10) < n / 10 * 0.5 + 5


def test_ivf_postings_probe_is_partition_pruned(spark, tmp_path):
    """Reading one inverted list must prune to that label's partition."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "postings")
    df = spark.createDataFrame(
        [(i, i % 4, 0, float(i)) for i in range(40)], "vec_id long, label int, i int, v double"
    )
    df.write.partitionBy("label").parquet(path)
    probe = spark.read.parquet(path).filter(F.col("label") == 2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "label" in plan.split("PartitionFilters")[1][:80]
    assert probe.count() == 10


def test_chunks_col_matches_python_reference():
    """Hypothesis differential: _chunks_col ≡ the plain-python chunker
    on arbitrary word soups (spacing, case, length)."""
    import pyspark.sql.functions as F
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from osm_admin_boundary_conflation_spark.session import build_session
    from osm_admin_boundary_conflation_spark.queries import _chunks_col

    spark = build_session(app_name="hyp-chunks", master="local[2]", shuffle_partitions=2)

    def ref(text, size=10):
        words = text.strip().lower().split()
        if not words:
            return [""]
        return [" ".join(words[i : i + size]) for i in range(0, len(words), size)]

    word = st.text(alphabet="abcXYZ09", min_size=1, max_size=6)
    texts = st.lists(word, min_size=1, max_size=35).map(" ".join).map(
        lambda t: "  " + t + " "
    )

    @settings(max_examples=12, deadline=None)
    @given(texts)
    def check(text):
        got = spark.range(1).select(_chunks_col(F.lit(text)).alias("c")).first().c
        assert got == ref(text)

    check()


def test_approx_count_distinct_error_bound(spark):
    """Spark's HLL++ approx distinct lands within 5% of exact on the
    documents corpus (rsd default 0.05) — the built-in approximate path
    our deterministic sketch (hll_distinct_sketch) mirrors gateably."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    row = docs.agg(
        F.approx_count_distinct("text").alias("approx"),
        F.countDistinct("text").alias("exact"),
    ).first()
    assert abs(row.approx - row.exact) <= max(5, row.exact * 0.05)


def test_global_sort_uses_range_partitioning(spark):
    """A global orderBy must show a rangepartitioning Exchange (the
    distributed terasort shape), never a single-partition sort."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = (
        docs.orderBy("n_chars", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan


def test_cc_star_agrees_with_minlabel_random(spark):
    """Differential: large-star/small-star vs min-label on a random
    graph — identical labels (the fixpoint is unique)."""
    import random

    rng = random.Random(7)
    ids = list(range(200))
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    nodes = spark.createDataFrame([(i,) for i in ids], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    a = {r.id: r.cluster_id for r in connected_components(nodes, edf).collect()}
    b = {
        r.id: r.cluster_id
        for r in connected_components(nodes, edf, algorithm="star").collect()
    }
    assert a == b


def test_cc_star_deep_path_converges_fast(spark):
    """A depth-50 path: min-label needs ~50 rounds (raises at
    max_iter=10); star finishes well inside 10 rounds."""
    nodes = spark.createDataFrame([(i,) for i in range(51)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=10)
    got = {
        r.id: r.cluster_id
        for r in connected_components(
            nodes, edges, max_iter=10, algorithm="star"
        ).collect()
    }
    assert set(got.values()) == {0}


def test_cc_fixpoint_needs_no_extra_driver_action(spark, monkeypatch):
    """The convergence check rides the checkpoint job via observe — CC
    must issue NO separate count()/isEmpty() driver action per
    round (absolute job counts are AQE/broadcast-noisy; this asserts
    the action shape directly)."""
    from pyspark.sql import DataFrame

    def _boom(self, *a, **k):  # pragma: no cover - should never run
        raise AssertionError("driver-side count/isEmpty inside fixpoint loop")

    monkeypatch.setattr(DataFrame, "count", _boom)
    monkeypatch.setattr(DataFrame, "isEmpty", _boom)
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    out = connected_components(nodes, edges, max_iter=10)
    got = {r.id: r.cluster_id for r in out.collect()}
    assert set(got.values()) == {0}
