"""Compare benchmark records of two commits.

    python3 perfbench/compare.py BASE.json [BASE2.json ...] -- NEW.json [NEW2.json ...]

Each file is a record ``run.py`` wrote to ``.perfbench_out/``. Records
whose host blocks differ in the configuration that decides speed
(nproc, SPARK_GRAFT_CPUS, Spark, Java and Python versions, op list)
are refused, not normalized, and so are self-test and sizing-sweep
records (``standard`` false). For each workload it prints both sides'
failed ops and, per end-to-end metric, both sides' medians and
quartiles and whether the change stays within the metric's bound from
BENCHMARK.json. A side with an op failing that does not fail on the
base side gets no "ok": a broken op can make a pass faster.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HOST_KEYS = ("nproc", "SPARK_GRAFT_CPUS", "spark", "java", "python", "ops")
HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def host_key(rec: dict) -> tuple:
    return tuple(json.dumps(rec["host"].get(k), sort_keys=True) for k in HOST_KEYS)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def compare(base: list[dict], new: list[dict], bounds: dict) -> int:
    odd = [r for r in base + new if not r.get("standard")]
    if odd:
        print(f"refused: {len(odd)} record(s) from a self-test or sizing run "
              "(tamper or sizing set)")
        return 2
    keys = {host_key(r) for r in base + new}
    if len({k[:-1] for k in keys}) > 1:
        print("refused: records come from different host configurations:")
        for k in sorted(keys):
            print("  " + ", ".join(f"{n}={v}" for n, v in zip(HOST_KEYS[:-1], k)))
        return 2
    worse = 0
    for wl in sorted({r["workload"] for r in base + new}):
        b = [r for r in base if r["workload"] == wl]
        n = [r for r in new if r["workload"] == wl]
        if not b or not n:
            print(f"{wl}: missing on one side, skipped")
            continue
        if {host_key(r) for r in b} != {host_key(r) for r in n}:
            print(f"{wl}: refused, the op lists differ")
            return 2
        b_failed = sorted({op for r in b for op in r["failed_ops"]})
        n_failed = sorted({op for r in n for op in r["failed_ops"]})
        newly = [op for op in n_failed if op not in b_failed]
        print(f"{wl:15s} failed ops: base {b_failed or 'none'}, new {n_failed or 'none'}")
        if newly:
            print(f"{wl:15s} FAILED: {newly} fail only on the new side; timings not judged")
            worse += 1
            continue
        for name, (better, bound) in bounds.items():
            bv = [r["metrics"][name]["value"] for r in b]
            nv = [r["metrics"][name]["value"] for r in n]
            bq, nq = quartiles(bv), quartiles(nv)
            change = nq[1] / bq[1] - 1.0 if bq[1] else 0.0
            regress = change > bound if better == "lower" else change < -bound
            spread = (bq[2] - bq[0]) / bq[1] if bq[1] else 0.0
            if regress:
                verdict = "WORSE"
                worse += 1
            elif spread > bound:
                verdict = "unresolved (parent spread above bound)"
            else:
                verdict = "ok"
            print(f"{wl:15s} {name:14s} base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}] "
                  f"new {nq[1]:.4g} [{nq[0]:.4g}, {nq[2]:.4g}] "
                  f"{change:+.1%} (bound {bound:.0%}) {verdict}")
    return 1 if worse else 0


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__)
        return 2
    i = argv.index("--")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    return compare(load(argv[:i]), load(argv[i + 1:]), bounds)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
