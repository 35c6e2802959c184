"""Round-6 batch-2 graph operators + snapshot refs: unit coverage."""

import pytest

from osm_admin_boundary_conflation_spark.operators.graph import temporal_reachability
from osm_admin_boundary_conflation_spark.sources import snapshot_table as ST


def test_temporal_reachability_respects_time(spark):
    # 0 -(t=5)-> 1 -(t=3)-> 2: edge into 2 is BEFORE arrival at 1, so 2
    # is unreachable; 1 -(t=9)-> 3 works
    edges = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 3), (1, 3, 9)], "src long, dst long, t long"
    )
    got = {(r.id, r.arr) for r in temporal_reachability(edges, source=0).collect()}
    assert got == {(0, -1), (1, 5), (3, 9)}


def test_temporal_reachability_earliest_of_two_paths(spark):
    edges = spark.createDataFrame(
        [(0, 1, 2), (0, 1, 7), (1, 2, 4), (0, 2, 9)], "src long, dst long, t long"
    )
    got = {(r.id, r.arr) for r in temporal_reachability(edges, source=0).collect()}
    assert got == {(0, -1), (1, 2), (2, 4)}


def test_snapshot_refs_tag_immutable_branch_moves(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    df1 = spark.range(3).select("id")
    df2 = spark.range(5).select("id")
    ST.write_snapshot(df1, loc, commit_ms=1)
    ST.create_ref(loc, "t1", "tag")
    ST.create_ref(loc, "b", "branch")
    ST.write_snapshot(df2, loc, commit_ms=2)
    # tag pinned at v1, branch still at v1 until advanced
    assert ST.read_snapshot_ref(spark, loc, "t1").count() == 3
    assert ST.read_snapshot_ref(spark, loc, "b").count() == 3
    ST.advance_branch(loc, "b")
    assert ST.read_snapshot_ref(spark, loc, "b").count() == 5
    with pytest.raises(ST.SnapshotConflictError):
        ST.create_ref(loc, "t1", "tag", version=2)
    with pytest.raises(ST.SnapshotConflictError):
        ST.advance_branch(loc, "t1")
    with pytest.raises(ValueError):
        ST.create_ref(loc, "x", "weird")
    with pytest.raises(ValueError):
        ST.create_ref(loc, "x", "tag", version=99)
    assert [(r["name"], r["kind"], r["version"]) for r in ST.list_refs(loc)] == [
        ("b", "branch", 2),
        ("t1", "tag", 1),
    ]
