"""spark-submit entry point for the conflation engine.

    spark-submit --py-files engine.zip conflate_engine.py <job> [options]

Jobs (each is a checkpoint-resumable staged pipeline; re-running with
the same --checkpoint dir resumes from finished stages):

  geotag    pages × boundaries spatial join → geo_tags table
  conflate  OSM conflation verdict battery → verdicts table
  segment   boundary segmentation/tiling → segments table
  measure   IoU quality metrics → quality_results table
  report    conflation verdicts → HTML report (<output>.html)

On a cluster, pass --master spark://... (or rely on spark-submit) and
--parallelism to size shuffle partitions; locally defaults to
local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm_admin_boundary_conflation_spark import datagen, datagen_osm  # noqa: E402
from osm_admin_boundary_conflation_spark.plans.checkpoint import StageRunner  # noqa: E402
from osm_admin_boundary_conflation_spark.session import build_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("job", choices=["geotag", "conflate", "segment", "measure", "report"])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--output", default="/tmp/engine_out")
    ap.add_argument("--checkpoint", default="/tmp/engine_cli_ckpt")
    ap.add_argument("--master", default=None)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--salted", type=int, default=0, help="salt factor for the shuffle cell join (0 = broadcast)")
    args = ap.parse_args()

    spark = build_session(
        app_name=f"conflate-engine-{args.job}",
        master=args.master,
        shuffle_partitions=args.parallelism,
    )
    runner = StageRunner(spark, args.checkpoint, run_id=args.job)

    if args.job == "geotag":
        from osm_admin_boundary_conflation_spark.operators.spatial_join import geotag_pages

        pages = runner.stage("pages", lambda: datagen.build_pages(spark, args.sf_dir))
        bounds = runner.stage("boundaries", lambda: datagen.build_boundaries(spark, args.sf_dir))
        out = runner.stage(
            "geotag",
            lambda: geotag_pages(
                pages, bounds, broadcast_boundaries=args.salted == 0, n_salt=args.salted
            ),
        )
    elif args.job == "conflate":
        from osm_admin_boundary_conflation_spark.operators.conflation import conflate

        # look tables up inside the stage lambdas: world.items() would
        # build the world even when every table stage resumes
        world = datagen_osm.build_osm_world(spark, args.sf_dir)
        staged = {k: runner.stage(k, lambda k=k: world[k]) for k in world}
        out = runner.stage(
            "verdicts",
            lambda: conflate(
                staged["src_ways"],
                staged["src_rels"],
                staged["osm_ways"],
                staged["osm_node_tags"],
                staged["osm_rels"],
            ),
        )
    elif args.job == "segment":
        from osm_admin_boundary_conflation_spark.operators.segmentation import segment_ways

        ways = runner.stage("strip_ways", lambda: datagen_osm.build_strip_world(spark, args.sf_dir))
        out = runner.stage("segments", lambda: segment_ways(ways))
    elif args.job == "report":
        # S12: conflate + render the HTML report artifact
        from osm_admin_boundary_conflation_spark.operators.conflation import conflate
        from osm_admin_boundary_conflation_spark.report import write_report

        world = datagen_osm.build_osm_world(spark, args.sf_dir)
        verdicts = runner.stage(
            "verdicts",
            lambda: conflate(
                world["src_ways"],
                world["src_rels"],
                world["osm_ways"],
                world["osm_node_tags"],
                world["osm_rels"],
            ),
        )
        html_path = args.output if args.output.endswith(".html") else args.output + ".html"
        stats = write_report(verdicts, html_path)
        print(f"job=report rows={stats['total_ways']} output={html_path} stats={stats}")
        spark.stop()
        return
    else:  # measure
        from osm_admin_boundary_conflation_spark.queries import q_measure_quality

        out = runner.stage("quality", lambda: q_measure_quality(spark, args.sf_dir))

    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(
        f"job={args.job} rows={n} output={args.output} "
        f"stages_recomputed={runner.recomputed} stages_resumed={runner.resumed}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
