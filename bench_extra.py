"""Round-8 optimization harness (bench.py stays FROZEN for measurement).

Modes:
  python bench_extra.py --plans [suffix]       # dump explain("formatted") for
                                               # every headline query to
                                               # plans/r08/<q>_<suffix>.txt
  python bench_extra.py --time <q1,q2,...>     # min-of-3 noop timings for a
                                               # subset (fast iteration loop)

Methodology is the guide's §1: noop sink so the computation, not the sink,
is timed; jobs labelled via setJobDescription; min of 3 runs (same policy
as the frozen bench.py).

Per-layer timing: ``python3 perfbench/run.py --workload <name> --trace 1``
calls the real operators and records per-span counters (wall, rows,
shuffle, spill, Python worker init/run) for ``conflate``, ``edit_plan``,
``segment_ways`` and ``geotag_points``. The MinHash sub-stage breakdown
(signatures / bands / candidate pairs) has no replacement until the
per-operator ledger (ROADMAP.md direction 1) covers dedup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

HEADLINE = [
    "geotag", "geotag_verdicts", "extract_text_md5", "measure_quality",
    "conflate_verdicts", "segment_tiles", "pricing_summary", "snapshot_diff",
    "dedup_exact", "dedup_minhash_lsh", "ann_cosine_topk", "token_stats",
    "asof_join", "events_sessionize", "edit_plan_summary",
    "geotag_skewed_salted", "geotag_from_warc", "point_in_polygon",
    "kendall_tau_inversions", "suffix_array_doubling",
]

WORLD_DIR = os.environ.get("BENCH_WORLD_PATH", "/tmp/bench_osm_world")


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _session():
    from osm_admin_boundary_conflation_spark.session import build_session

    return build_session(app_name="bench-extra", master=f"local[{CPUS}]")


def _worlds(spark):
    """Same setup as bench.py main_bench (not measured)."""
    from osm_admin_boundary_conflation_spark import datagen_osm

    world_dir = f"{WORLD_DIR}_{_sf_from_dir(SF_DIR)}"
    if not os.path.exists(os.path.join(world_dir, "src_ways", "_SUCCESS")):
        datagen_osm.materialize_osm_world(spark, SF_DIR, world_dir)
    os.environ["SPARK_GRAFT_WORLD_DIR"] = world_dir
    strip_dir = f"{WORLD_DIR}_strip_{_sf_from_dir(SF_DIR)}"
    if not os.path.exists(os.path.join(strip_dir, "_SUCCESS")):
        datagen_osm.materialize_strip_world(spark, SF_DIR, strip_dir)
    os.environ["SPARK_GRAFT_STRIP_DIR"] = strip_dir


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _t3(spark, label, df, n=3):
    spark.sparkContext.setJobDescription(label)
    runs = []
    for _ in range(n):
        t0 = time.time()
        _noop(df)
        runs.append(time.time() - t0)
    spark.sparkContext.setJobDescription(None)
    print(f"{label:45s} min={min(runs):7.3f}  runs={[round(r, 3) for r in runs]}")
    return min(runs)


def dump_plans(suffix: str = "before") -> None:
    from osm_admin_boundary_conflation_spark import queries as Q

    spark = _session()
    _worlds(spark)
    qs = Q.queries()
    os.makedirs("plans/r08", exist_ok=True)
    for name in HEADLINE:
        df = qs[name](spark, SF_DIR)
        p = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(f"plans/r08/{name}_{suffix}.txt", "w") as f:
            f.write(p)
        print(f"wrote plans/r08/{name}_{suffix}.txt ({len(p)} bytes)")
    spark.stop()


def time_subset(names: list[str]) -> None:
    from osm_admin_boundary_conflation_spark import queries as Q

    spark = _session()
    _worlds(spark)
    qs = Q.queries()
    out = {}
    for name in names:
        df = qs[name](spark, SF_DIR)
        out[name] = round(_t3(spark, name, df), 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1] == "--plans":
        dump_plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    elif sys.argv[1] == "--time":
        time_subset(sys.argv[2].split(","))
