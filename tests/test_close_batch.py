"""Close-batch operators: SNM blocking, result cache."""

import pytest

from osm_admin_boundary_conflation_spark.operators.entity_resolution import (
    sorted_neighborhood_pairs,
)
from osm_admin_boundary_conflation_spark.plans import result_cache as RC
from osm_admin_boundary_conflation_spark.sources import snapshot_table as ST


def test_snm_pairs_match_single_window(spark):
    # names engineered to span several prefix buckets
    rows = [(i, f"Customer#{i:017d}"[:17] + str(i % 10)) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r.ia, r.ib) for r in sorted_neighborhood_pairs(df, window=3).collect()
    }
    ranked = sorted(rows, key=lambda r: (r[1], r[0]))
    want = {
        (ranked[i][0], ranked[j][0])
        for i in range(len(ranked))
        for j in range(i + 1, min(i + 3, len(ranked)))
    }
    assert got == want


def test_result_cache_lifecycle(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    cache = str(tmp_path / "cache")
    ST.write_append_snapshot(spark.range(4), loc, commit_ms=1)
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return ST.read_snapshot(spark, loc).groupBy().count()

    df, st = RC.cached_result(spark, loc, cache, "k", compute)
    assert st == "miss" and df.collect()[0][0] == 4 and calls["n"] == 1
    df, st = RC.cached_result(spark, loc, cache, "k", compute)
    assert st == "hit" and df.collect()[0][0] == 4 and calls["n"] == 1
    ST.write_append_snapshot(spark.range(2), loc, commit_ms=2)
    df, st = RC.cached_result(spark, loc, cache, "k", compute)
    assert st == "stale" and df.collect()[0][0] == 6 and calls["n"] == 2
    df, st = RC.cached_result(spark, loc, cache, "k", compute)
    assert st == "hit" and calls["n"] == 2
    with pytest.raises(FileNotFoundError):
        RC.cached_result(spark, str(tmp_path / "nope"), cache, "x", compute)


def test_result_cache_concurrent_commit_retry(spark, tmp_path):
    # A commit landing between compute() and publish must NOT pin the
    # fresh result to the pre-compute version (ADVICE r06): the entry is
    # retried against the new head, and the final cached entry reflects
    # the post-commit table.
    loc = str(tmp_path / "tbl")
    cache = str(tmp_path / "cache")
    ST.write_append_snapshot(spark.range(4), loc, commit_ms=1)
    calls = {"n": 0}

    def racing_compute():
        calls["n"] += 1
        if calls["n"] == 1:  # simulate a commit racing the refresh
            ST.write_append_snapshot(spark.range(3), loc, commit_ms=2)
        return ST.read_snapshot(spark, loc).groupBy().count()

    df, st = RC.cached_result(spark, loc, cache, "k", racing_compute)
    # first attempt raced (head moved 1 -> 2) and was discarded; the
    # retry computed against the settled head and cached normally
    assert st == "miss" and calls["n"] == 2 and df.collect()[0][0] == 7
    df, st = RC.cached_result(spark, loc, cache, "k", racing_compute)
    assert st == "hit" and calls["n"] == 2


def test_result_cache_sweep(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    cache = str(tmp_path / "cache")
    ST.write_append_snapshot(spark.range(4), loc, commit_ms=1)
    compute = lambda: ST.read_snapshot(spark, loc).groupBy().count()
    RC.cached_result(spark, loc, cache, "k", compute)
    ST.write_append_snapshot(spark.range(2), loc, commit_ms=2)
    RC.cached_result(spark, loc, cache, "k", compute)  # stale refresh
    import os
    entry = os.path.join(cache, "k")
    assert sum(d.startswith("data-") for d in os.listdir(entry)) == 2
    assert RC.sweep_cache(cache) == 1
    assert sum(d.startswith("data-") for d in os.listdir(entry)) == 1
    # the surviving dir is the live one — the entry still serves a hit
    df, st = RC.cached_result(spark, loc, cache, "k", compute)
    assert st == "hit" and df.collect()[0][0] == 6
    assert RC.sweep_cache(cache) == 0
