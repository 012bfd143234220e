"""Sizing sweep: where a pass's time goes as the inputs grow.

    python3 perfbench/sweep.py reference_tabs [--seed 1] [SIDExCOPIES ...]
    python3 perfbench/sweep.py llm_curation [--seed 1] [SCALE ...]

For reference_tabs a sizing ``SIDExCOPIES`` multiplies every side of the
image plan by SIDE (the too-small image stays small) and repeats the
plan COPIES times (default: 1x1 2x1 3x1 1x2; the benchmark uses
``gen.IMAGE_SIDE``x1). For llm_curation a sizing is the factor on the
table sizes (default: 1 1.5 2; the hot key stays under the LSH bucket
cap up to 2). Each sizing is one traced run and one table row:

- ``in_mb``, ``pass_s``: input size and median untraced pass;
- ``py_run``: pyworker.run_s (summed over tasks) over the pass's core
  time (cores x median traced pass);
- ``write``, ``driver``: sinks.write_s and pipeline.driver_s over the
  median traced pass;
- ``jobs``, ``tasks``, ``shuffle_mb``: Spark jobs, tasks and shuffle
  writes per pass;
- then the three slowest ops of the last traced pass.

Records go to .perfbench_out/ as usual, marked ``standard: false`` so
compare.py refuses them.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SIZES = {"reference_tabs": ["1x1", "2x1", "3x1", "1x2"],
                 "llm_curation": ["1", "1.5", "2"]}


def sizing_args(workload: str, size: str) -> list[str]:
    if workload == "reference_tabs":
        side, copies = size.split("x")
        return ["--image-side", side, "--image-copies", copies]
    return ["--scale", size]


def run(workload: str, seed: int, size: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "1",
           *sizing_args(workload, size)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{size}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-2])


def row(size: str, rec: dict) -> str:
    L = {k: v["value"] for k, v in rec["per_layer"].items()}
    wall = statistics.median(p["wall_s"] for p in rec["passes"] if p["traced"])
    core_s = int(rec["host"]["SPARK_GRAFT_CPUS"]) * wall
    top = sorted(rec["per_op"].items(), key=lambda kv: -kv[1]["wall_s"])[:3]
    return (f"{size:8s} {rec['input']['mb']:6.2f} {rec['metrics']['pass_s']['value']:7.2f} "
            f"{L['pyworker.run_s'] / core_s:6.1%} {L['sinks.write_s'] / wall:6.1%} "
            f"{L['pipeline.driver_s'] / wall:6.1%} {L['pipeline.jobs']:4.0f} "
            f"{L['spark.tasks']:5.0f} {L['operators.shuffle_write_mb']:10.2f}  "
            + ", ".join(f"{op} {d['wall_s']:.2f}" for op, d in top)
            + ("" if not rec["failed_ops"] else f"  FAILED {rec['failed_ops']}"))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("workload", choices=sorted(DEFAULT_SIZES))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("sizes", nargs="*")
    args = p.parse_intermixed_args(argv)
    print("sizing    in_mb  pass_s py_run  write driver jobs tasks shuffle_mb  slowest ops")
    for size in args.sizes or DEFAULT_SIZES[args.workload]:
        print(row(size, run(args.workload, args.seed, size)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
