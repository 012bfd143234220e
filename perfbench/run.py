"""Repo benchmark: one workload, one seed, closed loop, one client.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed`` under ``.perfbench_work/`` (removed at exit), starts Spark on
``local[$SPARK_GRAFT_CPUS]`` (default: nproc) and then:

1. set-up (``setup_s``): ``get_spark()``, the warm builds the workload's
   ops consume, and one warm-up pass whose outputs are kept for the
   checks; its time is not a pass sample;
2. checks, outside every timed region: query ops against
   ``oracle_sql()`` on DuckDB over the same tables, reference tabs
   against truth the generator computed;
3. timed passes over the workload's ops in a fixed order until
   ``--seconds`` have elapsed (at least one), ``clearCache()`` after
   each pass. With ``--trace 1`` untraced and traced passes alternate
   (untraced first and last) and the traced ones are read out per
   layer.

Prints the full record as one JSON line (also written to
``.perfbench_out/``) and, as the last line, the result line
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads as wl  # noqa: E402

MB = 1024 * 1024
# matcache.materialize_once -> dbp_<kind>_XXXX/<kind>;
# matcache.staged_once -> dbp_<kind>_stage_XXXX/stage
_BUILD_DIR = re.compile(r"^dbp_(.+?)_(stage_)?[a-z0-9_]{8}$")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test (perfbench/selftest.py) and sizing sweeps (perfbench/sweep.py)
    # only: altered checks and other input sizes than the benchmark's
    p.add_argument("--tamper", action="append", default=[], help=argparse.SUPPRESS)
    p.add_argument("--scale", type=float, default=None, help=argparse.SUPPRESS)
    p.add_argument("--image-side", type=int, default=None, help=argparse.SUPPRESS)
    p.add_argument("--image-copies", type=int, default=None, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _source_sha() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "dataset_batch_processor_spark",
                                          "**", "*.py"), recursive=True))
    for f in files + [os.path.join(ROOT, "__spark_entry__.py")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True, timeout=30)
    return r.stdout.strip() or None


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _scratch_builds(root: str) -> set[str]:
    """Top-level matcache build/staging dirs under the scratch root."""
    out = set()
    for d in os.listdir(root):
        m = _BUILD_DIR.match(d)
        if m and os.path.isdir(os.path.join(root, d, "stage" if m.group(2) else m.group(1))):
            out.add(d)
    return out


def _files(paths: list[str]) -> dict[str, int]:
    out = {}
    for p in paths:
        for d, _, fs in os.walk(p):
            for f in fs:
                fp = os.path.join(d, f)
                try:
                    out[fp] = os.path.getsize(fp)
                except OSError:
                    pass
    return out


class Run:
    """One benchmark run: session, inputs, passes, checks, record."""

    def __init__(self, args, work: str) -> None:
        self.args, self.work = args, work
        self.ops = wl.WORKLOADS[args.workload]
        for sub in ("tmp", "local", "warehouse", "scratch", "out"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        self.scratch = os.path.join(work, "scratch")
        self.spans = tracing.Spans()
        self.sampler = tracing.RssSampler()
        self.tr: tracing.Tracers | None = None  # set for --trace 1
        self.spark = None
        self.jvm_pid: int | None = None
        self.errors: dict[str, str] = {}
        self.n_attempted = 0
        self.failed_runs = 0

    # ----------------------------------------------------------- set-up
    def start(self) -> dict:
        from dataset_batch_processor_spark import matcache
        from dataset_batch_processor_spark.session import get_spark

        matcache.set_scratch_root(self.scratch)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
        start_s = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.java = self.spark._jvm.System.getProperty("java.version")
        self.sampler.start(self.jvm_pid)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        warm = {"matcache": 0.0, "streaming": 0.0}
        builds = {}
        for layer, label, fn in wl.warm_builds(self.args.workload, self.spark,
                                               self.inp.data):
            t = time.perf_counter()
            fn()
            builds[label] = time.perf_counter() - t
            warm[layer] += builds[label]
        return {"start_s": start_s, "warm": warm, "builds": builds}

    # -------------------------------------------------------------- ops
    def run_op(self, name: str, out: str, capture: bool, traced: bool) -> dict:
        from dataset_batch_processor_spark import matcache

        rec: dict = {"op": name}
        spans, tr = (self.spans, self.tr) if traced else (None, None)
        if name in wl.OWN_RESULT_CACHE:
            matcache.invalidate_exact(wl.OWN_RESULT_CACHE[name])
        if traced:
            tr.progress.drain()  # forget batches of earlier, untraced ops
            tr.status.mark()
            tr.plans.drain()
            files0 = _files([out, self.scratch])
        self.n_attempted += 1
        t0, wall0 = time.perf_counter(), time.time()
        execute = None
        try:
            with _span(spans, "op", op=name):
                if name in wl.WORKLOADS["reference_tabs"]:
                    with _span(spans, "execute", op=name) as execute:
                        res = wl.facade(name, self.spark, self.inp, out)
                    rec["result"] = res.metrics
                else:
                    with _span(spans, "build", op=name):
                        df = self.queries[name](self.spark, self.inp.data)
                    # planning happens inside the action; a traced pass
                    # reads it back from the execution (tracing.PlanPhases)
                    with _span(spans, "execute", op=name) as execute:
                        if capture:
                            rows = df.collect()
                            rec["result"] = {"rows": len(rows),
                                             "cols": sorted(df.columns),
                                             "hash": wl.value_hash(rows, df.columns)}
                        else:
                            df.write.format("noop").mode("overwrite").save()
        except Exception:  # the op failed: record it, keep the workload going
            self.errors.setdefault(name, traceback.format_exc(limit=4))
            self.failed_runs += 1
            rec["error"] = True
        t1 = time.perf_counter()
        rec["wall_s"] = t1 - t0
        if traced:
            rec["layers"] = tr.status.collect(t0, t1, wall0)  # drains the bus
            plans = tr.plans.drain()
            rec["plan_s"] = sum(p["s"] for p in plans)
            for p in plans:  # epoch stamps -> the spans' perf_counter clock
                spans.add("plan", execute.id if execute else None,
                          p["start"] - wall0 + t0, p["end"] - wall0 + t0, op=name)
            batches = tr.progress.drain()
            rec["layers"]["batches"] = len(batches)
            rec["layers"]["add_batch_s"] = sum(b.get("addBatch", 0) for b in batches) / 1e3
            rec["layers"]["stream_overhead_s"] = sum(
                b.get("triggerExecution", 0) - b.get("addBatch", 0) for b in batches) / 1e3
            files1 = _files([out, self.scratch])
            new = {f: s for f, s in files1.items() if files0.get(f) != s}
            rec["layers"]["files_written"] = len(new)
            rec["layers"]["written_b"] = sum(new.values())
        return rec

    def run_pass(self, k: int, capture=False, traced=False) -> dict:
        out = os.path.join(self.work, "out", f"p{k}")
        before = _scratch_builds(self.scratch)
        recs = []
        if traced:
            self.tr.plans.register()
        try:
            for name in self.ops:
                recs.append(self.run_op(name, os.path.join(out, name), capture, traced))
        finally:
            if traced:
                self.tr.plans.unregister()
        built = sorted(_scratch_builds(self.scratch) - before)
        own = set(wl.OWN_RESULT_CACHE.values())
        cached = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.spark.catalog.clearCache()
        return {"k": k, "traced": traced, "out": out,
                "wall_s": sum(r["wall_s"] for r in recs), "ops": recs,
                "cached_rdds": cached,
                "builds": [b for b in built if _BUILD_DIR.match(b).group(1) not in own]}

    # ----------------------------------------------------------- checks
    def check(self, warm: dict) -> dict[str, list[str]]:
        """Errors per op for the warm-up pass's outputs."""
        failures: dict[str, list[str]] = {}
        want = {}
        if self.args.workload != "reference_tabs":
            oracle = wl.Oracle(self.inp.data)
            for name in self.ops:
                try:
                    want[name] = oracle.expect(name)
                except Exception:
                    failures[name] = ["oracle error: " + traceback.format_exc(limit=2)]
        truth = self.inp.truth
        for spec in self.args.tamper:
            wl.tamper(truth, want, warm, spec)
        for rec in warm["ops"]:
            name = rec["op"]
            if rec.get("error"):
                failures.setdefault(name, []).append("raised: " + self.errors[name])
                continue
            if name in failures:  # no oracle result
                continue
            try:
                if name in want:
                    errs = wl.check_query(rec.get("result"), want[name])
                else:
                    errs = wl.check_facade(name, rec["result"],
                                           os.path.join(warm["out"], name), truth)
            except Exception:
                errs = ["check raised: " + traceback.format_exc(limit=4)]
            if errs:
                failures[name] = errs
        return failures

    # -------------------------------------------------------------- stop
    def stop(self) -> None:
        """Stop Spark, the JVM, its Python workers and the sampler, and
        wait for each to end."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        kids = tracing.process_tree(self.jvm_pid) if self.jvm_pid else []
        if self.spark is not None:
            self.spark.stop()
        self.sampler.stop()
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()  # the gateway server exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while kids and time.monotonic() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")
                    and _state(p) != "Z"]
            time.sleep(0.05)
        for p in kids:
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "Z"


class _NoSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _span(spans, name, **attrs):
    return spans.span(name, **attrs) if spans is not None else _NoSpan()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(run: Run, setup: dict, traced: list[dict], untraced: list[dict],
              check_rows: dict[str, int]) -> tuple[dict, dict]:
    """Per-layer metrics (median over traced passes) and the per-op
    breakdown of the last traced pass."""
    def pass_metrics(p: dict) -> dict:
        L = [o["layers"] for o in p["ops"]]
        s = lambda k: sum(x[k] for x in L)  # noqa: E731
        yields = [(check_rows[o["op"]], o["layers"]["max_rows"]) for o in p["ops"]
                  if o["op"] in check_rows and o["layers"]["max_rows"] > 0]
        return {
            "matcache.builds_in_pass": len(p["builds"]),
            "streaming.batches": s("batches"),
            "streaming.add_batch_s": s("add_batch_s"),
            "streaming.overhead_s": s("stream_overhead_s"),
            "pipeline.jobs": s("jobs"),
            "pipeline.driver_s": s("driver_s"),
            "sources.scan_s": s("scan_s"),
            "sources.read_mb": s("read_b") / MB,
            "sources.files": s("files_read"),
            "operators.codegen_s": s("codegen_s"),
            "operators.shuffle_write_mb": s("shuffle_write_b") / MB,
            "operators.fetch_wait_s": s("fetch_wait_s"),
            "operators.spill_mb": s("spill_b") / MB,
            "operators.task_skew": max(x["task_skew"] for x in L),
            "operators.row_yield": (sum(a for a, _ in yields) / sum(b for _, b in yields)
                                    if yields else 0.0),
            "pyworker.start_s": s("start_s"),
            "pyworker.init_s": s("init_s"),
            "pyworker.run_s": s("run_s"),
            "pyworker.sent_mb": s("sent_b") / MB,
            "pyworker.returned_mb": s("returned_b") / MB,
            "pyworker.sent_per_input": s("sent_b") / run.inp.input_bytes,
            "sinks.write_s": s("sql_write_s") + s("job_write_s"),
            "sinks.files": s("files_written"),
            "sinks.written_mb": s("written_b") / MB,
            "spark.plan_s": sum(o.get("plan_s", 0.0) for o in p["ops"]),
            "spark.tasks": s("tasks"),
            "spark.gc_s": s("gc_s"),
            "spark.cached_rdds": p["cached_rdds"],
        }

    per_pass = [pass_metrics(p) for p in traced]
    out = {k: _median([m[k] for m in per_pass]) for k in per_pass[0]}
    out.update({
        "session.start_s": setup["start_s"],
        "matcache.warm_s": setup["warm"]["matcache"],
        "streaming.stage_s": setup["warm"]["streaming"],
        "peak_rss_mb": run.sampler.peak_total / MB,
        "pyworker.worker_peak_rss_mb": run.sampler.peak_workers / MB,
        "spark.jvm_peak_rss_mb": run.sampler.peak_jvm / MB,
        "trace.overhead_frac": (_median([p["wall_s"] for p in traced])
                                / _median([p["wall_s"] for p in untraced]) - 1.0),
    })
    per_op = {o["op"]: dict(o["layers"], wall_s=o["wall_s"], plan_s=o.get("plan_s", 0.0))
              for o in traced[-1]["ops"]}
    return out, per_op


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    rec_dir = os.path.join(ROOT, ".perfbench_out")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        import dataset_batch_processor_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "manifest.json")) as fh:
        manifest = json.load(fh)
    # names, units and directions live in BENCHMARK.json; manifest.json
    # gives a unit only for a recorded metric that is not listed there
    units = {n: m["unit"] for n, m in manifest["metrics"].items() if "unit" in m}
    units.update({m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]})
    run = Run(args, work)  # creates the work dirs the env above names
    try:
        t = time.perf_counter()
        sizing = {k: v for k, v in (("scale", args.scale), ("image_side", args.image_side),
                                    ("image_copies", args.image_copies)) if v is not None}
        run.inp = wl.Inputs(args.workload, args.seed, os.path.join(work, "in"), **sizing)
        gen_s = time.perf_counter() - t
        input_files = len(_files([run.inp.data]))
        t = time.perf_counter()
        setup = run.start()
        run.tr = tracing.Tracers(run.spark) if args.trace else None
        warm = run.run_pass(0, capture=True)
        setup_s = time.perf_counter() - t
        t = time.perf_counter()
        failures = run.check(warm)
        check_s = time.perf_counter() - t
        check_rows = {o["op"]: o["result"]["rows"] for o in warm["ops"]
                      if "rows" in o.get("result", {})}
        shutil.rmtree(warm["out"], ignore_errors=True)
        passes: list[dict] = []
        t_meas = time.perf_counter()
        k = 1
        while True:
            traced = bool(args.trace) and k % 2 == 0
            p = run.run_pass(k, traced=traced)
            shutil.rmtree(p["out"], ignore_errors=True)
            passes.append(p)
            k += 1
            # traced runs bracket every traced pass with untraced ones
            # (U T U ...), so JIT warm-up drift cancels in the overhead
            bracketed = not args.trace or (len(passes) >= 3 and not traced)
            if time.perf_counter() - t_meas >= args.seconds and bracketed:
                break
        measure_s = time.perf_counter() - t_meas
    finally:
        try:
            run.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    untraced = [p for p in passes if not p["traced"]]
    traced_p = [p for p in passes if p["traced"]]
    pass_s = _median([p["wall_s"] for p in untraced])
    input_mb = run.inp.input_bytes / MB
    # an op execution that raised, or an op whose output check failed
    failed = run.failed_runs + len([n for n in failures if n not in run.errors])
    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "pass_mb_per_s": input_mb / pass_s,
        "peak_rss_mb": run.sampler.peak_total / MB,
        "failed_frac": failed / run.n_attempted,
    }
    failed_ops = sorted(set(failures) | set(run.errors))
    host = {
        "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark": pyspark.__version__,
        "java": run.java,
        "python": platform.python_version(),
        "git_sha": _git_sha(),
        "source_sha": _source_sha(),
        "seed": args.seed,
        "input_mb": input_mb,
        "ops": run.ops,
    }
    record = {
        "workload": args.workload, "host": host, "trace": args.trace,
        "tamper": args.tamper, "sizing": sizing,
        # only standard records are compared (perfbench/compare.py)
        "standard": not (args.tamper or sizing),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
        "samples": {"setup_s": 1, "pass_s": len(untraced),
                    "pass_mb_per_s": len(untraced), "peak_rss_mb": 1,
                    "failed_frac": run.n_attempted},
        "input": {"mb": input_mb, "files": input_files},
        "gen_s": gen_s, "check_s": check_s, "measure_s": measure_s, "setup": setup,
        "warmup_op_wall_s": {o["op"]: o["wall_s"] for o in warm["ops"]},
        "failed_ops": failed_ops, "check_errors": failures,
        "passes": [{"k": p["k"], "traced": p["traced"], "wall_s": p["wall_s"],
                    "cached_rdds": p["cached_rdds"], "builds": p["builds"],
                    "op_wall_s": {o["op"]: o["wall_s"] for o in p["ops"]}}
                   for p in passes],
    }
    if args.trace:
        layers, per_op = per_layer(run, setup, traced_p, untraced, check_rows)
        record["per_layer"] = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
        record["per_op"] = per_op
    os.makedirs(rec_dir, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    with open(os.path.join(rec_dir, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        with open(os.path.join(rec_dir, stem + ".spans.json"), "w") as fh:
            json.dump(run.spans.items, fh)
    for name in failed_ops:
        print(f"perfbench: FAILED {name}: {'; '.join(failures.get(name, ['raised']))}",
              file=sys.stderr)
    print(json.dumps(record, separators=(",", ":")))
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    src = record["per_layer"] if args.trace else record["metrics"]
    print(json.dumps({
        "correct": not failed_ops,
        "attempted": run.n_attempted,
        "failed": failed,
        "metrics": {n: src[n] for n in names},
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
