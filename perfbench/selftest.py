"""Self-test of the benchmark at a small input size.

    python3 perfbench/selftest.py

For every workload, one traced run (tables at a fifth of their size,
images at a third of their side, one second) with the
expected output of one op deliberately altered and the output of
another op deleted. It passes when each run

- exits 0 and ends with a result line in the documented format
  (``correct``, ``attempted``, ``failed``, ``metrics``);
- reports every end-to-end and per-layer metric of BENCHMARK.json with
  its unit, and every metric manifest.json describes;
- reports the two altered ops, and no other op, as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

# (op whose expected output is altered, op whose output is deleted)
VICTIMS = {
    "reference_tabs": ("prepare_images", "split_text_file"),
    "llm_curation": ("dedup_exact_docs", "simhash_signatures"),
}


def check_run(workload: str, manifest: dict, spec: dict) -> list[str]:
    altered, deleted = VICTIMS[workload]
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", "1",
           "--scale", "0.2", "--image-side", "1",
           "--tamper", altered, "--tamper", f"{deleted}:missing"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(result)}")
    if result["attempted"] < 1 or result["failed"] < 1 or result["correct"]:
        errs.append(f"altered output not reported: {result}")
    if record["failed_ops"] != sorted([altered, deleted]):
        errs.append(f"failed ops {record['failed_ops']}, want {altered} and {deleted}")
    have = dict(record["metrics"], **record["per_layer"])
    for m in spec["end_to_end"] + spec["per_layer"]:
        got = have.get(m["name"])
        if got is None or got.get("unit") != m["unit"] \
                or not isinstance(got.get("value"), (int, float)):
            errs.append(f"metric {m['name']} missing or without unit {m['unit']}: {got}")
    for name in manifest["metrics"]:
        if name not in have:
            errs.append(f"manifest.json describes {name}, which the run does not report")
    want = [m["name"] for m in spec["per_layer"]]
    if sorted(result["metrics"]) != sorted(want):
        errs.append("result line metrics differ from BENCHMARK.json per_layer")
    return errs


def main() -> int:
    with open(os.path.join(HERE, "manifest.json")) as fh:
        manifest = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failed = False
    for w in workloads.WORKLOADS:
        errs = check_run(w, manifest, spec)
        print(f"{w}: {'ok' if not errs else 'FAIL'}")
        for e in errs:
            print("  " + e)
        failed |= bool(errs)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
