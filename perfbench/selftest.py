"""Benchmark self-test at sf0.001 sizes.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at the "selftest" input
sizes, and checks that each run
- exits 0 with every pass's output matching its oracle digest
  (``failed_frac=0``, ``"correct": true``);
- prints every metric BENCHMARK.json names, end-to-end untraced and
  per-layer traced, with the unit BENCHMARK.json gives it;
- (traced) wrote spans that nest inside their parents: run.py refuses to
  report per-layer metrics otherwise.
Takes about ten minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("geotag_crawl", "geotag_skewed_shuffle", "conflate_osm")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for workload in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
                   "--seconds", "0", "--trace", str(trace), "--size", "selftest"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{workload} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            if not result["correct"] or result["failed"] or "failed_frac=0.000" not in proc.stdout:
                problems.append(f"{tag}: failed passes\n{proc.stderr[-3000:]}")
            for m in bench[key]:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} missing or not in {m['unit']}: {got}")
                elif not any(line.startswith(f"  {m['name']} = ") and line.endswith(f" {m['unit']}") for line in lines):
                    problems.append(f"{tag}: metric {m['name']} not printed with its unit")
            print(f"{tag}: {'ok' if not problems else 'see problems'}", flush=True)
    for p in problems:
        print("PROBLEM", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
