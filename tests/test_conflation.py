"""Conflation verdict battery vs the closed-form scenario expectations
(datagen_osm.py docstring; reference semantics conflate.py:358-560)."""

import pyspark.sql.functions as F
import pytest

from osm_admin_boundary_conflation_spark import datagen_osm
from osm_admin_boundary_conflation_spark.operators import conflation as CF

EXPECTED = {
    0: "CONFLATED",
    1: "CONFLATED",
    2: "CHECKED_POSSIBLE",
    3: "ERROR_END_POINTS_FAR_APART",
    4: "ERROR_WAY_NOT_FOUND",
    5: "ERROR_MULTIPLE_SINGLE_WAY",
    6: "ERROR_NATIONAL_BORDER",
    7: "ERROR_UNEXPECTED_TAG",
    8: "ERROR_NODES_WITH_TAGS",
    9: "ERROR_TOO_MANY_NODES",
    10: "ERROR_CLOSED_SHAPE",
    11: "ERROR_OVERLAPPING_WAYS",
    12: "CONFLATED",
    13: "ERROR_SHARED_WAY_NOT_FOUND",
    14: "ERROR_MULTIPLE_SHARED_WAYS",
    15: "ERROR_NODE_IN_OTHER_WAYS",
    16: "ERROR_NODE_IN_NATIONAL_BORDER",
    17: "ERROR_NODE_IN_OTHER_RELATION",
    18: "ERROR_NODE_IN_NATIONAL_RELATION",
    19: "ERROR_INVALID_SHAPE",
}


@pytest.fixture(scope="module")
def verdicts(spark, sf_dir):
    world = datagen_osm.build_osm_world(spark, sf_dir)
    out = CF.conflate(
        world["src_ways"],
        world["src_rels"],
        world["osm_ways"],
        world["osm_node_tags"],
        world["osm_rels"],
    )
    return out.withColumn("case", (F.col("way_id") % 20).cast("int")).cache()


def test_every_scenario_maps_to_expected_verdict(verdicts):
    rows = verdicts.groupBy("case", "verdict").count().collect()
    got = {}
    for r in rows:
        got.setdefault(r["case"], set()).add(r["verdict"])
    for case, verdict in EXPECTED.items():
        assert got.get(case) == {verdict}, f"case {case}: {got.get(case)} != {verdict}"


def test_error_context_formats(verdicts):
    by_case = {r["case"]: r for r in verdicts.dropDuplicates(["case"]).collect()}
    w5 = by_case[5]
    assert w5["error_context"] == f"{10_000_000 + w5['way_id']},{10_500_000 + w5['way_id']}"
    assert by_case[7]["error_context"] == "highway"
    w8 = by_case[8]
    assert w8["error_context"] == str(5_000_000_000 + w8["way_id"] * 10000 + 2)
    # case 3: the reference endpoint rule REVERSES (d(o0, s_last) <
    # d(o0, s0)), so the reported distance is hav(o_last, s0) — per-way.
    import numpy as np

    from osm_admin_boundary_conflation_spark.functions import geometry as G

    w3 = by_case[3]
    lat0 = (-400000 + w3["way_id"] % 800000) / 1e4
    lon0 = (-1700000 + (w3["way_id"] * 13) % 3400000) / 1e4
    d2 = float(G.haversine_m(lon0, lat0, lon0 + 28 / 1e4, (lat0 * 1e4 + 40) / 1e4 + 0.01))
    assert w3["error_context"] == str(int(np.floor(d2)))
    assert abs(w3["endpoint_dist_m"] - d2) < 0.01
    assert w3["endpoint_dist_m"] > 500.0


def test_exactly_one_row_per_way(verdicts, spark, sf_dir):
    n_ways = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey").distinct().count()
    assert verdicts.count() == n_ways
    assert verdicts.select("way_id").distinct().count() == n_ways


def test_conflated_pairs_have_small_hausdorff(verdicts):
    h = verdicts.filter(F.col("verdict") == "CONFLATED").agg(F.max("hausdorff_m")).collect()[0][0]
    assert h is not None and h <= 1.0
    far = verdicts.filter(F.col("case") == 3).agg(F.min("hausdorff_m")).collect()[0][0]
    assert far > 500.0


def test_parallelism_invariance(spark, sf_dir):
    """North rule: identical verdict rows at different shuffle
    parallelism (the conflation analogue of the geotag salting-invariance
    test), with every broadcast join swapped for a shuffle join, and with
    AQE off. Confs are set before ``conflate`` is called: its two
    checkpoint queries are planned and run at call time."""
    world = datagen_osm.build_osm_world(spark, sf_dir)

    def run(**conf):
        saved = {k: spark.conf.get(k) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            out = CF.conflate(
                world["src_ways"],
                world["src_rels"],
                world["osm_ways"],
                world["osm_node_tags"],
                world["osm_rels"],
            )
            return sorted(tuple(r) for r in out.collect())
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    base = run()
    assert len(base) > 0
    assert run(**{"spark.sql.shuffle.partitions": "3"}) == base
    assert run(**{"spark.sql.shuffle.partitions": "17"}) == base
    assert run(**{"spark.sql.autoBroadcastJoinThreshold": "-1"}) == base
    assert run(**{"spark.sql.adaptive.enabled": "false"}) == base


def test_plan_cuts_at_two_checkpoints(verdicts, spark, sf_dir, tmp_path):
    """The verdict query plans over two materialized leaves (the
    checkpointed candidate-resolved ways and sharing-pair flags), not
    over nested caches: its executed plan holds no InMemoryRelation, and
    one call adds exactly two persistent RDDs. The world tables are
    staged as parquet and read back, as conflate_engine.py's conflate
    job stages them, so no world cache enters the plan."""
    world = datagen_osm.build_osm_world(spark, sf_dir)
    staged = {}
    for name, df in world.items():
        df.write.parquet(str(tmp_path / name))
        staged[name] = spark.read.parquet(str(tmp_path / name))
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = CF.conflate(
        staged["src_ways"],
        staged["src_rels"],
        staged["osm_ways"],
        staged["osm_node_tags"],
        staged["osm_rels"],
    )
    added = set(jsc.getPersistentRDDs().keySet()) - before
    assert len(added) == 2, added
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan, plan
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        tuple(r) for r in verdicts.drop("case").collect()
    )


def test_world_builds_on_first_lookup(verdicts, spark, sf_dir, monkeypatch):
    """``build_osm_world`` starts no Spark job until a table is looked
    up, so a stage that resumes builds no world. The in-memory world
    caches no table: the executed plan of ``conflate`` over it holds no
    InMemoryRelation."""
    monkeypatch.setattr(datagen_osm, "_WORLD_CACHE", {})
    monkeypatch.delenv("SPARK_GRAFT_WORLD_DIR", raising=False)
    sc = spark.sparkContext
    sc.setJobGroup("world", "world")
    try:
        world = datagen_osm.build_osm_world(spark, sf_dir)
        assert list(world) == ["src_ways", "src_rels", "osm_ways", "osm_node_tags", "osm_rels"]
        assert "osm_rels" in world and len(world) == 5
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("world") == []
    assert datagen_osm.build_osm_world(spark, sf_dir) is world
    out = CF.conflate(*world.values())  # in conflate's argument order
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan, plan
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        tuple(r) for r in verdicts.drop("case").collect()
    )


def test_unglue_matrix(spark, sf_dir):
    """unglue_ways_as_needed=True (conflate.py:150-186,221-238): tagged
    sharers unglue (candidate side for mid nodes, other side for
    candidate endpoints); untagged sharers stay errors; unglue=False
    never duplicates nodes."""
    world = datagen_osm.build_osm_world(spark, sf_dir)
    args = (
        world["src_ways"],
        world["src_rels"],
        world["osm_ways"],
        world["osm_node_tags"],
        world["osm_rels"],
    )
    base = CF.conflate(*args)
    assert base.agg(F.max("n_unglued")).collect()[0][0] == 0

    out = CF.conflate(*args, unglue_ways_as_needed=True)
    c15 = (
        out.filter(F.col("way_id") % 20 == 15)
        .withColumn("v", (F.floor(F.col("way_id") / 20) % 3).cast("int"))
        .groupBy("v", "verdict", "n_unglued")
        .count()
        .collect()
    )
    got = {(r["v"]): (r["verdict"], r["n_unglued"]) for r in c15}
    assert got[0] == ("ERROR_NODE_IN_OTHER_WAYS", 0)
    assert got[1] == ("CHECKED_POSSIBLE", 1)
    assert got[2] == ("CHECKED_POSSIBLE", 1)
    # no other scenario gains unglue edits
    other = out.filter(F.col("way_id") % 20 != 15).agg(F.max("n_unglued")).collect()[0][0]
    assert other == 0


def _battery_frame(n_pairs, n_nodes, seed=7):
    """Build a pandas input batch of matched n_nodes-point way pairs."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    src, osm = [], []
    for i in range(n_pairs):
        base = rng.uniform(-50, 50, size=(n_nodes, 2)).cumsum(axis=0) * 1e-4
        jit = base + rng.uniform(-1e-6, 1e-6, size=base.shape)
        src.append(base.tolist())
        osm.append(jit.tolist())
    return pd.Series(src), pd.Series(osm), pd.Series([n_nodes] * n_pairs)


def test_battery_chunk_invariance():
    """geom_battery_udf output must not depend on the same-shape chunk
    size (VERDICT r02 #4 fix): forcing 1-row chunks == one big chunk."""
    import numpy as np

    fn = CF.geom_battery_udf.func
    s, o, n = _battery_frame(24, 120)
    big = fn(s, o, n)
    small = _run_with_max_elems(fn, s, o, n, 1)
    for c in big.columns:
        assert np.array_equal(
            big[c].to_numpy(), small[c].to_numpy(), equal_nan=(big[c].dtype.kind == "f")
        ), c


def _run_with_max_elems(fn, s, o, n, cap):
    """_MAX_ELEMS is local to the udf body; emulate a 1-row chunk cap by
    slicing the batch to single rows and concatenating — identical effect
    since chunks are independent."""
    import pandas as pd

    outs = [fn(s.iloc[[i]].reset_index(drop=True),
               o.iloc[[i]].reset_index(drop=True),
               n.iloc[[i]].reset_index(drop=True)) for i in range(len(s))]
    return pd.concat(outs, ignore_index=True)


def test_battery_big_batch_memory_bounded():
    """A batch of 32 matched 1500-node pairs must complete with bounded
    peak allocations: unchunked, the buffer-containment tensor alone is
    32*1500*1499*2*8 ≈ 1.15 GB; chunked (≤2^24 elems) it stays ~250 MB
    per tensor (VERDICT r02 #4)."""
    import tracemalloc

    fn = CF.geom_battery_udf.func
    s, o, n = _battery_frame(32, 1500)
    tracemalloc.start()
    out = fn(s, o, n)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert len(out) == 32
    # matched jittered pairs: all alive, tiny hausdorff
    assert (out["hausdorff_m"] >= 0).all()
    assert peak < 900 * 1024 * 1024, f"peak {peak/1e6:.0f} MB"


def test_should_reverse_is_the_endpoint_rule(verdicts, spark, sf_dir):
    """The verdicts carry the battery's G7 orientation: on every row
    that reaches the endpoint check it equals geometry.endpoint_match's
    decision (CHECKED_POSSIBLE, which edit_plan applies, and case 3,
    whose rule reverses); unmatched rows hold NULL."""
    import numpy as np

    from osm_admin_boundary_conflation_spark.functions import geometry as G

    world = datagen_osm.build_osm_world(spark, sf_dir)
    checked = verdicts.filter(
        F.col("verdict").isin("CHECKED_POSSIBLE", "ERROR_END_POINTS_FAR_APART")
    ).select("way_id", "osm_way_id", "verdict", "should_reverse")
    rows = (
        checked.join(world["src_ways"].select("way_id", "coords"), "way_id")
        .join(
            world["osm_ways"].select("osm_way_id", F.col("coords").alias("osm_coords")),
            "osm_way_id",
        )
        .collect()
    )
    assert {r["verdict"] for r in rows} == {"CHECKED_POSSIBLE", "ERROR_END_POINTS_FAR_APART"}
    for r in rows:
        want = G.endpoint_match(np.asarray(r["coords"]), np.asarray(r["osm_coords"]))[1]
        assert r["should_reverse"] is want, r["way_id"]
    assert {r["should_reverse"] for r in rows} == {True, False}

    unmatched = verdicts.filter(F.col("osm_way_id").isNull())
    assert unmatched.count() > 0
    assert unmatched.filter(F.col("should_reverse").isNotNull()).count() == 0


def test_edit_plan_runs_no_python(verdicts, spark, sf_dir):
    """edit_plan applies the verdicts' should_reverse instead of running
    the endpoint rule again: no ArrowEvalPython node in its executed plan
    (the verdict battery's own UDF is cut off by the checkpoint)."""
    import re

    from osm_admin_boundary_conflation_spark.operators.edit_plan import edit_plan

    world = datagen_osm.build_osm_world(spark, sf_dir)
    todo = verdicts.drop("case").localCheckpoint()
    plan_df = edit_plan(todo, world["src_ways"], world["osm_ways"])
    assert plan_df.count() > 0
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"ArrowEvalPython", plan), plan
