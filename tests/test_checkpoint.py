"""Checkpoint/resume semantics (north rule; FIXTURES.md F5)."""

import os
import shutil

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from osm_admin_boundary_conflation_spark import datagen
from osm_admin_boundary_conflation_spark.operators import spatial_join as SJ
from osm_admin_boundary_conflation_spark.plans.checkpoint import StageRunner, resume_anti_join


@pytest.fixture()
def ckpt_dir(tmp_path):
    return str(tmp_path / "ckpt")


def stage_frames(spark, sf_dir, r):
    """{stage: DataFrame} of the three-stage pipeline run by `r`."""
    pages = r.stage("pages", lambda: datagen.build_pages(spark, sf_dir))
    b = r.stage("boundaries", lambda: datagen.build_boundaries(spark, sf_dir))
    return {"pages": pages, "boundaries": b, "geotag": r.stage("geotag", lambda: SJ.geotag_pages(pages, b))}


def run_pipeline(spark, sf_dir, ckpt_dir, run_id):
    r = StageRunner(spark, ckpt_dir, run_id=run_id)
    return r, stage_frames(spark, sf_dir, r)["geotag"]


def _job_ids(spark, group, fn):
    """Spark job ids started while `fn` runs, via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def _part_rows(stage_dir):
    """{write-task partition id: footer row count} of a stage's part files."""
    return {
        int(f.split("-")[1]): pq.read_metadata(os.path.join(stage_dir, f)).num_rows
        for f in os.listdir(stage_dir)
        if f.startswith("part-")
    }


def test_resume_skips_finished_stages(spark, sf_dir, ckpt_dir):
    r1 = StageRunner(spark, ckpt_dir, run_id="r1")
    frames1 = stage_frames(spark, sf_dir, r1)
    out1 = frames1["geotag"]
    assert r1.recomputed == ["pages", "boundaries", "geotag"]
    rows1 = sorted(map(tuple, out1.select("url", "level9_id", "verdict").collect()))
    ledger = r1.metrics_history()
    assert [h["rows"][0]["stage"] for h in ledger] == r1.recomputed
    n_rows = r1.metrics().count()

    # a torn ledger write leaves only a dot-prefixed temp file behind
    with open(os.path.join(ckpt_dir, "_metrics", ".00003-geotag.parquet.tmp"), "wb") as f:
        f.write(b"PAR1 torn")
    r2 = StageRunner(spark, ckpt_dir, run_id="r2")
    frames2 = {}
    resumed = _job_ids(spark, "resumed", lambda: frames2.update(stage_frames(spark, sf_dir, r2)))
    assert r2.recomputed == [] and r2.resumed == ["pages", "boundaries", "geotag"]
    # a resumed stage is read with its footer schema: no inference job
    assert len(resumed) == 0, resumed
    assert {k: df.schema for k, df in frames2.items()} == {k: df.schema for k, df in frames1.items()}
    out2 = frames2["geotag"]
    rows2 = sorted(map(tuple, out2.select("url", "level9_id", "verdict").collect()))
    assert rows1 == rows2
    # the resumed rerun adds no ledger file, and the temp file is not read
    assert r2.metrics_history() == ledger
    assert r2.metrics().count() == n_rows


def test_kill_mid_pipeline_recomputes_incomplete_stage(spark, sf_dir, ckpt_dir):
    r1, out1 = run_pipeline(spark, sf_dir, ckpt_dir, "r1")
    rows1 = sorted(map(tuple, out1.select("url", "level9_id").collect()))
    # simulate a crash mid-write of the last stage: drop its _SUCCESS marker
    os.remove(os.path.join(ckpt_dir, "stage=geotag", "_SUCCESS"))
    r2, out2 = run_pipeline(spark, sf_dir, ckpt_dir, "r2")
    assert r2.resumed == ["pages", "boundaries"]
    assert r2.recomputed == ["geotag"]
    rows2 = sorted(map(tuple, out2.select("url", "level9_id").collect()))
    assert rows1 == rows2


def test_metrics_lineage_rows(spark, sf_dir, ckpt_dir, tmp_path):
    r1, out1 = run_pipeline(spark, sf_dir, ckpt_dir, "r1")
    pages = datagen.build_pages(spark, sf_dir).repartition(8)
    # neither the ledger nor the read-back adds a Spark job: a stage
    # costs what writing the DataFrame costs
    bare = str(tmp_path / "bare")
    plain = _job_ids(spark, "plain", lambda: pages.write.parquet(bare))
    got = []
    staged = _job_ids(spark, "staged", lambda: got.append(r1.stage("pages8", lambda: pages)))
    assert len(staged) == len(plain)
    # the schema-given read sees what an inferred read of the stage sees
    for stage, df in (("pages8", got[0]), ("geotag", out1)):
        assert df.schema == spark.read.parquet(os.path.join(ckpt_dir, f"stage={stage}")).schema
    # Spark writes one part file for an empty stage: one row, rows_out 0
    r1.stage("empty", lambda: pages.limit(0))

    m = r1.metrics()
    assert set(m.columns) == {"run_id", "stage", "partition_id", "rows_out", "stage_wall_ms"}
    per_stage = {r["stage"]: r["total"] for r in m.groupBy("stage").agg(F.sum("rows_out").alias("total")).collect()}
    assert per_stage["geotag"] == out1.count()
    assert per_stage["pages"] == datagen.build_pages(spark, sf_dir).count()
    # each row is one part file: its write-task index and footer row count
    rows = m.collect()
    for stage in r1.recomputed:
        got = {r["partition_id"]: r["rows_out"] for r in rows if r["stage"] == stage}
        assert got == _part_rows(os.path.join(ckpt_dir, f"stage={stage}")), stage
    assert len(_part_rows(os.path.join(ckpt_dir, "stage=pages8"))) == 8
    assert [(r["partition_id"], r["rows_out"]) for r in rows if r["stage"] == "empty"] == [(0, 0)]


def test_row_level_resume_anti_join(spark, sf_dir):
    work = datagen.build_pages(spark, sf_dir).select("url")
    done = work.limit(100)
    remaining = resume_anti_join(work, done, ["url"])
    assert remaining.count() == work.count() - 100
