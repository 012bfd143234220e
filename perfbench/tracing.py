"""Tracing for the benchmark: spans, Spark status-store readout, a
query-planning listener, a streaming progress listener and an outside
RSS sampler (``python3 tracing.py rss PID INTERVAL``, used by
:class:`RssSampler`).

Nothing here changes the engine. Spans are recorded by the benchmark
around its own calls into the engine's public functions; per-node SQL
metrics and stage/task data are read afterwards from the status stores
Spark keeps even with the UI disabled.
"""

from __future__ import annotations

import json
import os
import re
import select
import subprocess
import sys
import threading
import time
import uuid

PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024
_SIZE = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PY_METRICS = {
    "time to start Python workers": "start_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "returned_b",
}
WRITE_NODES = ("InsertIntoHadoopFsRelationCommand", "WriteFiles")


def metric_total(text: str) -> float:
    """Total from a formatted SQL metric: '1,234', '5.6 KiB' or
    'total (min, med, max ...)\\n1.2 s (...)'. Sizes in bytes, times
    in seconds."""
    line = text.split("\n", 1)[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


class Spans:
    """In-memory span log; every span of one run shares ``run_id``."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex
        self.items: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, name: str, parent: int, start: float, end: float, **attrs) -> None:
        """Log a span that was timed elsewhere (perf_counter stamps)."""
        self.items.append({"run": self.run_id, "id": len(self.items), "parent": parent,
                           "name": name, **attrs, "start": start, "end": end})


class _Span:
    def __init__(self, log: Spans, name: str, attrs: dict) -> None:
        self.log, self.name, self.attrs = log, name, attrs

    def __enter__(self):
        self.id = len(self.log.items)
        parent = self.log._stack[-1] if self.log._stack else None
        self.rec = {"run": self.log.run_id, "id": self.id, "parent": parent,
                    "name": self.name, **self.attrs,
                    "start": time.perf_counter(), "end": None}
        self.log.items.append(self.rec)
        self.log._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.log._stack.pop()
        return False


def process_tree(root: int) -> list[int]:
    """Pids of every process below ``root`` (from /proc)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def sample_rss(root: int, interval: float, rescan: float = 0.5) -> dict:
    """Sampler loop (run as its own process, beside the measured tree):
    every ``interval`` s sum the RSS of ``root`` (the driver JVM) and
    every process below it (the Python worker daemon and workers),
    re-listing the tree every ``rescan`` s, until stdin closes. Returns
    the peaks in bytes."""
    peak = {"total": 0, "jvm": 0, "workers": 0}
    kids: list[int] = []
    last_scan = 0.0
    while True:
        now = time.monotonic()
        if now - last_scan >= rescan:
            kids, last_scan = process_tree(root), now
        jvm = _rss(root)
        workers = sum(_rss(p) for p in kids)
        peak["jvm"] = max(peak["jvm"], jvm)
        peak["workers"] = max(peak["workers"], workers)
        peak["total"] = max(peak["total"], jvm + workers)
        if select.select([sys.stdin], [], [], interval)[0] and not sys.stdin.read(1):
            return peak


class RssSampler:
    """Peak RSS of the driver JVM and its Python workers, sampled from a
    separate process so the sampling takes no time from the measured
    driver process (python3 tracing.py rss PID INTERVAL)."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.proc: subprocess.Popen | None = None
        self.peak_total = self.peak_jvm = self.peak_workers = 0

    def start(self, jvm_pid: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "rss", str(jvm_pid),
             str(self.interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def stop(self) -> None:
        """Close the sampler's stdin, wait for it and read its peaks."""
        if self.proc is None:
            return
        out, _ = self.proc.communicate(timeout=60)
        self.proc = None
        peak = json.loads(out)
        self.peak_total, self.peak_jvm, self.peak_workers = (
            peak["total"], peak["jvm"], peak["workers"])


class StreamProgress:
    """Per-batch ``durationMs`` from every streaming query the twins
    start, via ``spark.streams.addListener``."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.batches: list[dict] = []
        self.started = self.terminated = 0
        self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer.started += 1

            def onQueryProgress(self, event):
                d = dict(event.progress.durationMs)
                with outer._lock:
                    outer.batches.append(d)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated += 1

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def drain(self, timeout: float = 10.0) -> list[dict]:
        """Wait until every started query's termination was delivered,
        then hand over (and forget) the batches seen so far."""
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            with self._lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.02)
        with self._lock:
            out, self.batches = self.batches, []
        return out


class PlanPhases:
    """Analysis, optimization and planning time of every SQL execution,
    taken from the execution's own QueryExecution (its planning
    tracker) by a QueryExecutionListener, so nothing is planned twice.
    Registered only while a traced pass runs."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.manager = spark._jsparkSession.listenerManager()
        self.plans: list[dict] = []
        self._lock = threading.Lock()
        outer = self

        class _L:
            def onSuccess(self, func, qe, duration_ns):
                outer._record(qe)

            def onFailure(self, func, qe, exc):
                outer._record(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self.listener = _L()

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        got = [phases.apply(p) for p in self.PHASES if phases.contains(p)]
        if not got:
            return
        plan = {"s": sum(p.durationMs() for p in got) / 1e3,
                "start": min(p.startTimeMs() for p in got) / 1e3,
                "end": max(p.endTimeMs() for p in got) / 1e3}
        with self._lock:
            self.plans.append(plan)

    def register(self) -> None:
        self.manager.register(self.listener)

    def unregister(self) -> None:
        self.manager.unregister(self.listener)

    def drain(self) -> list[dict]:
        """Executions planned since the last drain (call after the
        listener bus is empty): planning seconds ``s`` and the epoch
        ``start``/``end`` of the phases."""
        with self._lock:
            out, self.plans = self.plans, []
        return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StatusReader:
    """Reads what Spark recorded for the executions, jobs and stages an
    op started. Call :meth:`mark` before the op and :meth:`collect`
    after it."""

    def __init__(self, spark) -> None:
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self.gw = spark.sparkContext._gateway
        self.codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions \
            .codegen.CodeGenerator
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self._exec0 = self._job0 = 0  # next ids not yet seen
        self._cg0 = 0

    def _new_execs(self) -> list:
        """SQL executions with ids from the mark on, in id order."""
        out = []
        while True:
            rec = self.sql.execution(self._exec0 + len(out))
            if not rec.isDefined():
                return out
            out.append(rec.get())

    def _new_jobs(self) -> list:
        """Jobs with ids from the mark on, in id order."""
        out = []
        while True:
            try:
                out.append(self.app.job(self._job0 + len(out)))
            except Exception:  # py4j: NoSuchElementException, no such job yet
                return out

    def mark(self) -> None:
        """Remember where the op starts: the next execution and job ids
        and the codegen compile-time counter."""
        self.bus.waitUntilEmpty()
        self._exec0 += len(self._new_execs())
        self._job0 += len(self._new_jobs())
        self._cg0 = self.codegen.compileTime()

    def collect(self, op_start: float, op_end: float, wall0: float) -> dict:
        """Layer counters for the executions/jobs/stages started since
        :meth:`mark`. ``op_start``/``op_end`` are perf_counter stamps of
        the op and ``wall0`` the epoch time at ``op_start``."""
        cg = (self.codegen.compileTime() - self._cg0) / 1e9
        self.bus.waitUntilEmpty()
        execs = self._new_execs()
        jobs = self._new_jobs()
        m = {"jobs": len(jobs), "codegen_s": cg, "scan_s": 0.0, "files_read": 0,
             "start_s": 0.0, "init_s": 0.0, "run_s": 0.0, "sent_b": 0.0,
             "returned_b": 0.0, "max_rows": 0.0, "sql_write_s": 0.0,
             "tasks": 0, "gc_s": 0.0, "read_b": 0, "shuffle_write_b": 0,
             "fetch_wait_s": 0.0, "spill_b": 0, "task_skew": 1.0,
             "job_write_s": 0.0}
        sql_jobs: set[int] = set()
        for e in execs:
            sql_jobs.update(int(k) for k in _seq(e.jobs().keySet().toSeq()))
            values = self.sql.executionMetrics(e.executionId())
            graph = self.sql.planGraph(e.executionId())
            writes = False
            for node in _seq(graph.allNodes()):
                name = node.name()
                writes |= any(w in name for w in WRITE_NODES)
                for mt in _seq(node.metrics()):
                    v = values.get(mt.accumulatorId())
                    if not v.isDefined():
                        continue
                    label, val = mt.name(), metric_total(v.get())
                    if label in PY_METRICS:
                        m[PY_METRICS[label]] += val
                    elif label == "scan time":
                        m["scan_s"] += val
                    elif label == "number of files read":
                        m["files_read"] += int(val)
                    elif label == "number of output rows":
                        m["max_rows"] = max(m["max_rows"], val)
            end = _opt_ms(e.completionTime())
            if writes and end is not None:
                m["sql_write_s"] += end - e.submissionTime() / 1000.0
        intervals = []
        q = self.gw.new_array(self.gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        for j in jobs:
            t0, t1 = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if t0 is not None and t1 is not None:
                intervals.append((t0, t1))
                if j.jobId() not in sql_jobs:  # RDD writers (foreachPartition)
                    m["job_write_s"] += t1 - t0
            for sid in _seq(j.stageIds()):
                try:
                    sd = self.app.lastStageAttempt(sid)
                except Exception:  # stage never attempted (skipped)
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                m["tasks"] += sd.numTasks()
                m["gc_s"] += sd.jvmGcTime() / 1000.0
                m["read_b"] += sd.inputBytes()
                m["shuffle_write_b"] += sd.shuffleWriteBytes()
                m["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1000.0
                m["spill_b"] += sd.diskBytesSpilled()
                if sd.numTasks() >= 2:
                    s = self.app.taskSummary(sid, sd.attemptId(), q)
                    if s.isDefined():
                        d = s.get().duration()
                        med, mx = d.apply(0), d.apply(1)
                        if med > 0:
                            m["task_skew"] = max(m["task_skew"], mx / med)
        # driver time: op wall not covered by any running job
        covered, cur = 0.0, None
        lo, hi = wall0, wall0 + (op_end - op_start)
        for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        m["driver_s"] = max(0.0, (op_end - op_start) - covered)
        return m



class Tracers:
    """The readers a traced run uses."""

    def __init__(self, spark) -> None:
        self.status = StatusReader(spark)
        self.progress = StreamProgress(spark)
        self.plans = PlanPhases(spark)


if __name__ == "__main__" and sys.argv[1:2] == ["rss"]:
    print(json.dumps(sample_rss(int(sys.argv[2]), float(sys.argv[3]))))
