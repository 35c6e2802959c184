"""One benchmark job process: build the session, then run the workload's
staged pipeline as a cold, warm and resume pass (and, traced, once more).

    python3 perfbench/job.py --workload W --work DIR --seconds S --trace 0|1

Started by perfbench/run.py in a fresh process per run, so the cold pass
is the first Spark action after ``build_session``. Every pass writes its
stages with ``StageRunner`` into a fresh checkpoint directory
(``DIR/ckpt/<pass>``); run.py checks the stage outputs afterwards. The
pass timings go to ``DIR/result.json``, the spans of a traced run to
``DIR/spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F  # noqa: E402

from osm_admin_boundary_conflation_spark import datagen, datagen_osm  # noqa: E402
from osm_admin_boundary_conflation_spark.functions.udfs import cell_expr  # noqa: E402
from osm_admin_boundary_conflation_spark.operators.conflation import conflate  # noqa: E402
from osm_admin_boundary_conflation_spark.operators.edit_plan import edit_plan  # noqa: E402
from osm_admin_boundary_conflation_spark.operators.segmentation import segment_ways  # noqa: E402
from osm_admin_boundary_conflation_spark.operators.spatial_join import (  # noqa: E402
    VERDICT_MATCHED,
    extract_pages_geo,
    geotag_points,
)
from osm_admin_boundary_conflation_spark.plans.checkpoint import StageRunner  # noqa: E402
from osm_admin_boundary_conflation_spark.report import write_report  # noqa: E402
from osm_admin_boundary_conflation_spark.session import build_session  # noqa: E402
from osm_admin_boundary_conflation_spark.sources.io import read_table  # noqa: E402
from tracing import NullTracer, Tracer  # noqa: E402


def geotag_crawl(spark, runner, base, out_dir, T):
    """pages → extract_pages_geo (Arrow extract UDFs) → broadcast geotag."""
    bounds = T.stage(runner, "boundaries", lambda: datagen.build_boundaries(spark, base))
    geo = T.stage(
        runner,
        "geo",
        lambda: T.layer(
            "spatial_join.extract_pages_geo",
            lambda: extract_pages_geo(
                T.layer("sources.read_table", lambda: read_table(spark, f"{base}/pages.parquet")),
                res=datagen.CELL_RES,
            ),
        ).select("url", "lat", "lon", "cell_id", F.md5("text").alias("text_md5")),
    )
    T.stage(
        runner,
        "geotag",
        lambda: T.layer(
            "spatial_join.geotag_points",
            lambda: geotag_points(geo.drop("text_md5"), bounds, broadcast_boundaries=True),
        ),
    )
    return {}


def geotag_skewed_shuffle(spark, runner, base, out_dir, T):
    """Zipfian points → salted shuffle geotag (n_salt=32) → matched counts."""
    bounds = T.stage(runner, "boundaries", lambda: datagen.build_boundaries(spark, base))
    points = T.stage(
        runner,
        "points",
        lambda: T.layer("sources.read_table", lambda: read_table(spark, f"{base}/points")).withColumn(
            "cell_id", cell_expr(F.col("lon"), F.col("lat"), datagen.CELL_RES)
        ),
    )
    T.stage(
        runner,
        "counts",
        lambda: T.layer(
            "spatial_join.geotag_points",
            lambda: geotag_points(points, bounds, broadcast_boundaries=False, n_salt=32),
        )
        .filter(F.col("verdict") == VERDICT_MATCHED)
        .groupBy("level9_id")
        .agg(F.count("*").alias("n_points")),
    )
    return {}


def conflate_osm(spark, runner, base, out_dir, T):
    """conflate → edit_plan → segment_ways → write_report over the OSM world
    and the strip world, both built in memory from orders as
    conflate_engine.py's report job builds them."""
    world = datagen_osm.build_osm_world(spark, base)
    verdicts = T.stage(
        runner,
        "verdicts",
        lambda: T.layer(
            "conflation.conflate",
            lambda: conflate(
                world["src_ways"], world["src_rels"], world["osm_ways"], world["osm_node_tags"], world["osm_rels"]
            ),
        ),
    )
    T.stage(
        runner,
        "edit_plan",
        lambda: T.layer(
            "edit_plan.edit_plan", lambda: edit_plan(verdicts, world["src_ways"], world["osm_ways"])
        ),
    )
    T.stage(
        runner,
        "segments",
        lambda: T.layer(
            "segmentation.segment_ways", lambda: segment_ways(datagen_osm.build_strip_world(spark, base))
        ),
    )
    stats = T.call(
        "report.write_report",
        lambda: write_report(verdicts, os.path.join(out_dir, "report.html")),
        rows=lambda s: s["total_ways"],
    )
    return {"report_total_ways": stats["total_ways"]}


JOBS = {
    "geotag_crawl": (geotag_crawl, "geotag"),
    "geotag_skewed_shuffle": (geotag_skewed_shuffle, "counts"),
    "conflate_osm": (conflate_osm, "segments"),
}


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def clear_caches(spark) -> None:
    """Drop everything an earlier pass left cached, so a pass measures
    compute rather than relations leaked by ``.persist()``: cached
    relations, persisted and locally checkpointed RDDs, and the OSM
    world memo (it holds DataFrames over the dropped RDDs)."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in list(rdds.keySet()):
        rdds.get(rdd_id).unpersist(True)
    datagen_osm._WORLD_CACHE.clear()


class Passes:
    """Runs and records the passes of one job process."""

    def __init__(self, spark, workload: str, work: str):
        self.spark = spark
        self.job, self.last_stage = JOBS[workload]
        self.work = work
        self.base = os.path.join(work, "inputs")
        self.records: list[dict] = []

    def run(self, name: str, kind: str, t0: float | None = None, T=None, resume_from: str | None = None) -> dict:
        if kind != "cold":
            clear_caches(self.spark)
        ckpt = os.path.join(self.work, "ckpt", name)
        out_dir = os.path.join(self.work, "out", name)
        os.makedirs(out_dir)
        if resume_from:
            # every stage but the last is already checkpointed
            for d in os.listdir(resume_from):
                if d.startswith("stage=") and d != f"stage={self.last_stage}":
                    shutil.copytree(os.path.join(resume_from, d), os.path.join(ckpt, d))
        at_start = persisted_rdds(self.spark)
        T = T or NullTracer()
        t_start = time.perf_counter() if t0 is None else t0
        with T.run_pass(name):
            runner = StageRunner(self.spark, ckpt, run_id=name)
            extra = self.job(self.spark, runner, self.base, out_dir, T)
        wall = time.perf_counter() - t_start
        rec = {
            "name": name,
            "kind": kind,
            "wall_s": wall,
            "ckpt": ckpt,
            "persisted_at_start": at_start,
            "persisted_after": persisted_rdds(self.spark),
            "resumed": runner.resumed,
            "recomputed": runner.recomputed,
            **extra,
        }
        self.records.append(rec)
        return rec

    def repeat(self, kind: str, seconds: float, **kw) -> list[dict]:
        """Passes of one kind, at least one, until ``seconds`` have passed."""
        start, recs = time.perf_counter(), []
        while not recs or time.perf_counter() - start < seconds:
            recs.append(self.run(f"{kind}{len(recs)}", kind, **kw))
        return recs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(JOBS))
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    local = os.path.join(args.work, "spark-local")
    t0, t0_wall = time.perf_counter(), time.time()
    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={local}",
        },
    )
    session_s = time.perf_counter() - t0
    passes = Passes(spark, args.workload, args.work)
    passes.run("cold", "cold", t0=t0)

    warm = passes.repeat("warm", args.seconds)
    spans = reader_jobs = None
    if not args.trace:
        # resume passes are short: repeat them for a third of the warm time
        resume = passes.repeat("resume", args.seconds / 3, resume_from=warm[-1]["ckpt"])
    else:
        tracer = Tracer(spark)
        tracer.record("session.build_session", t0_wall, t0_wall + session_s)
        traced = passes.run("traced", "traced", T=tracer)
        passes.run("traced_resume", "traced_resume", T=tracer, resume_from=traced["ckpt"])
        spans = os.path.join(args.work, "spans.jsonl")
        tracer.dump(spans)
        reader_jobs = tracer.reader.reader_jobs
    spark.stop()

    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(
            {
                "session_s": session_s,
                "warm_median_s": statistics.median(r["wall_s"] for r in warm),
                "resume_median_s": None if args.trace else statistics.median(r["wall_s"] for r in resume),
                "passes": passes.records,
                "spans": spans,
                "reader_jobs": reader_jobs,
            },
            f,
        )


if __name__ == "__main__":
    main()
