"""Benchmark entry point: cold, warm and resume passes of one engine workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Closed loop: one client, one job at a time, Spark at local[nproc], one
driver process. A run

1. sets up the inputs and the expected output digests from the seed
   (DuckDB only; done several times, ``setup_s`` is the median);
2. starts perfbench/job.py in a fresh process, which runs the job cold,
   then warm for ``--seconds`` (caches cleared and a fresh checkpoint
   directory before each pass), then resumed from checkpointed stages,
   and with ``--trace 1`` once more traced;
3. samples the resident memory of the job's process tree (driver Python,
   JVM, Python workers) while it runs;
4. checks the stage outputs of every pass against the oracle digests.

The last stdout line is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics (from the traced pass) with ``--trace 1``.
Work files live under ``.perfbench_work/`` in the checkout and are removed
at exit. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "osm_admin_boundary_conflation_spark")

# set-up repeats: at least SETUP_MIN_REPEATS, then more until
# SETUP_MIN_SECONDS are spent (small set-ups take milliseconds, and the
# median of a few such samples is noise)
SETUP_MIN_REPEATS = 3
SETUP_MIN_SECONDS = 1.0
SETUP_MAX_REPEATS = 25
JOB_TIMEOUT_S = 165
DRIVER_MEMORY = "1g"

# stage outputs checked after every pass, per workload
CHECKED = {
    "geotag_crawl": ("geo", "geotag"),
    "geotag_skewed_shuffle": ("counts",),
    "conflate_osm": ("verdicts", "edit_plan", "segments"),
}

LAYERS = (
    "sources.read_table",
    "spatial_join.extract_pages_geo",
    "spatial_join.geotag_points",
    "conflation.conflate",
    "edit_plan.edit_plan",
    "segmentation.segment_ways",
    "report.write_report",
    "checkpoint.StageRunner.stage",
)


def _procs() -> list[tuple[int, int, int]]:
    """(pid, parent pid, process group) of every live, non-zombie process."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                state, ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except (OSError, ValueError):
            continue
        if state != "Z":
            out.append((int(d), int(ppid), int(pgrp)))
    return out


def _tree_pss_bytes(root_pid: int) -> int:
    """Resident bytes of root_pid and all its descendants, as the sum of
    their proportional set sizes: a page shared by several processes (a
    forked Python worker's libraries, a JVM child between fork and exec)
    counts once, split between its sharers."""
    children: dict[int, list[int]] = {}
    for pid, ppid, _ in _procs():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError):  # exited meanwhile
            continue
    return total


def run_job(args, work: str) -> tuple[int, float]:
    """Run job.py to completion; returns (exit code, peak tree memory MiB)."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=local,
        # every JVM (launcher and driver) keeps its temp files in the work
        # directory and writes no hsperfdata under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    cmd = [
        sys.executable, os.path.join(HERE, "job.py"),
        "--workload", args.workload, "--work", work,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    peak = 0
    with open(os.path.join(work, "job.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        deadline = time.monotonic() + JOB_TIMEOUT_S
        try:
            while proc.poll() is None and time.monotonic() < deadline:
                peak = max(peak, _tree_pss_bytes(proc.pid))
                time.sleep(0.2)
        finally:
            # the JVM and Python workers share the job's process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            stop = time.monotonic() + 30
            while any(g == proc.pid for _, _, g in _procs()) and time.monotonic() < stop:
                time.sleep(0.1)
    return proc.returncode, peak / (1 << 20)


def setup(args, work: str) -> tuple[dict, float]:
    """Set up several times; keep the last inputs, report the median."""
    from inputs import SETUP, SIZES

    size = SIZES[args.size][args.workload]
    times: list[float] = []
    while len(times) < SETUP_MIN_REPEATS or (sum(times) < SETUP_MIN_SECONDS and len(times) < SETUP_MAX_REPEATS):
        base = os.path.join(work, "inputs")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        t = time.perf_counter()
        info = SETUP[args.workload](base, args.seed, size)
        times.append(time.perf_counter() - t)
    return info, statistics.median(times)


def check_pass(rec: dict, workload: str, info: dict) -> list[str]:
    """Reasons the pass failed its output check (empty when it passed)."""
    from inputs import output_digest

    errors = []
    for stage in CHECKED[workload]:
        got = output_digest(os.path.join(rec["ckpt"], f"stage={stage}"), stage)
        if got != tuple(info["expect"][stage]):
            errors.append(f"{stage}: got {got}, expected {tuple(info['expect'][stage])}")
    if workload == "conflate_osm" and rec["report_total_ways"] != info["input_rows"]:
        errors.append(f"report: {rec['report_total_ways']} ways, expected {info['input_rows']}")
    if rec["kind"] != "cold" and rec["persisted_at_start"] != 0:
        errors.append(f"{rec['persisted_at_start']} persisted RDDs at the start of the pass")
    return errors


def layer_metrics(result: dict) -> dict:
    """Per-layer metrics from the traced pass's spans, after checking
    that every span lies inside its parent."""
    with open(result["spans"]) as f:
        spans = [json.loads(line) for line in f]
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None and not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
            raise RuntimeError(f"span {s['name']} ({s['id']}) does not nest in {p['name']} ({p['id']})")

    def self_s(s):
        return (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in children.get(s["id"], []))

    m: dict[str, tuple[float, str]] = {}
    traced = [s for s in spans if s["pass"] == "traced"]
    for layer in LAYERS:
        mine = [s for s in traced if s["name"] == layer]
        c = [s["counters"] for s in mine]
        m[f"{layer}.wall_s"] = (sum(self_s(s) for s in mine), "s")
        m[f"{layer}.rows_out"] = (sum(s.get("rows_out", 0) for s in mine), "count")
        m[f"{layer}.spark_jobs"] = (sum(x["spark_jobs"] for x in c), "count")
        m[f"{layer}.shuffle_bytes"] = (sum(x["shuffle_bytes"] for x in c), "B")
        m[f"{layer}.spill_bytes"] = (sum(x["spill_bytes"] for x in c), "B")
        m[f"{layer}.py_init_s"] = (sum(x["py_init_s"] for x in c), "s")
        m[f"{layer}.py_run_s"] = (sum(x["py_run_s"] for x in c), "s")
        m[f"{layer}.task_skew"] = (max([x["task_skew"] for x in c], default=0.0), "ratio")
    pip = [s["counters"] for s in traced if s["name"] == "spatial_join.geotag_points"]
    join_rows = sum(x["join_rows"] for x in pip)
    m["spatial_join.geotag_points.pip_rows_frac"] = (
        sum(x["pip_rows"] for x in pip) / join_rows if join_rows else 0.0, "ratio")
    m["conflation.conflate.node_rows"] = (
        sum(s["counters"]["node_rows"] for s in traced if s["name"] == "conflation.conflate"), "count")
    resumed = [s for s in spans if s["pass"] == "traced_resume" and s["name"] == "checkpoint.StageRunner.stage"]
    m["checkpoint.StageRunner.stage.resumed_frac"] = (
        sum(s["resumed"] for s in resumed) / len(resumed), "ratio")
    m["checkpoint.StageRunner.stage.resume_read_s"] = (
        sum(self_s(s) for s in resumed if s["resumed"]), "s")
    (session,) = [s for s in spans if s["name"] == "session.build_session"]
    m["session.build_session.wall_s"] = (session["end"] - session["start"], "s")
    traced_pass = next(p for p in result["passes"] if p["kind"] == "traced")
    m["operators.persisted_rdds.count"] = (traced_pass["persisted_after"], "count")
    m["trace.overhead_s"] = (traced_pass["wall_s"] - result["warm_median_s"], "s")
    m["trace.reader_spark_jobs"] = (result["reader_jobs"], "count")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(CHECKED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "selftest"), default="bench")
    args = ap.parse_args()
    if not os.path.isdir(ENGINE):
        print(f"engine package not found at {ENGINE}: run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        info, setup_s = setup(args, work)
        code, peak_mb = run_job(args, work)
        if code != 0:
            with open(os.path.join(work, "job.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            print(f"job process exited with code {code}", file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        failed = 0
        for rec in result["passes"]:
            errors = check_pass(rec, args.workload, info)
            failed += bool(errors)
            for e in errors:
                print(f"FAILED {rec['name']}: {e}", file=sys.stderr)
        passes = {p["kind"]: p for p in result["passes"]}
        warm_s = result["warm_median_s"]
        n_warm = sum(p["kind"] == "warm" for p in result["passes"])
        n_resume = sum(p["kind"] == "resume" for p in result["passes"])
        attempted = len(result["passes"])
        print(
            f"workload={args.workload} seed={args.seed} input_rows={info['input_rows']} "
            f"passes={attempted} warm_samples={n_warm} resume_samples={n_resume} failed_frac={failed / attempted:.3f} "
            f"persisted_after={[p['persisted_after'] for p in result['passes']]}"
        )
        print("  pass walls: " + " ".join(f"{p['name']}={p['wall_s']:.2f}" for p in result["passes"]))
        if args.trace:
            metrics = layer_metrics(result)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cold_s": (passes["cold"]["wall_s"], "s"),
                "warm_s": (warm_s, "s"),
                "resume_s": (result["resume_median_s"], "s"),
                "rows_per_s": (info["input_rows"] / warm_s, "rows/s"),
                "peak_rss_mb": (peak_mb, "MiB"),
            }
        for name, (value, unit) in metrics.items():
            print(f"  {name} = {value:.6g} {unit}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
