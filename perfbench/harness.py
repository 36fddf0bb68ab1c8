"""Timing, tracing and reporting shared by the three workloads.

Every op is timed from outside the package: the harness calls the public
entry point (``build``), then the action that hands every output column
to the caller (``act``), and checks the result afterwards, outside the
timed region. With tracing on, it also records spans around those calls
and reads Spark's own counters for the op's job group: the status
tracker and status store (jobs, stages, tasks, executor time, shuffle
bytes), the SQL status store (Python-worker metrics) and the op's
``QueryExecution`` planning tracker (Catalyst phases). Around the entry
call it reads Catalyst's rule-time meter, which covers every DataFrame
the package analyses while building its result, and the time spent
waiting on Py4J calls into the driver JVM. Nothing inside
``cassandra_pmem_spark`` is changed or patched.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from py4j.protocol import Py4JError

CLK_TCK = os.sysconf("SC_CLK_TCK")

# Spark 4.1 SQL metrics of the Arrow/Python worker boundary, by display name
PYTHON_METRICS = {
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / CLK_TCK


def cpu_ms(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * 1000.0 / CLK_TCK


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). Below twenty samples no percentile
    at or above the median has ten beyond it, and the maximum is
    reported as p100."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def timing_stat(values: list[float], kind: str, unit: str) -> dict:
    """A timing metric with the statistic used and its sample count."""
    if kind == "p50":
        return {"value": median(values), "unit": unit, "stat": "p50", "n": len(values)}
    v, pct, n = tail(values)
    return {"value": v, "unit": unit, "stat": f"p{pct:.1f}", "n": n}


def host_speed_probe() -> float:
    """Single-thread host speed in million loop iterations per second,
    measured fresh in this process (never read from a stored snapshot)."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t)
    return 0.3 / best


def source_tree(root: str) -> str:
    """The git tree of the checkout, or, outside a git repository, a
    SHA-1 over the package sources (path and bytes of every file)."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD^{tree}"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return "git:" + out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    pkg = os.path.join(root, "cassandra_pmem_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return "sha1:" + h.hexdigest()


def host_facts(root: str) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "tree": source_tree(root),
        "loadavg_start": os.getloadavg(),
        "speed_probe_mips": host_speed_probe(),
        "python": platform.python_version(),
    }


@dataclass
class Op:
    """One timed operation. ``build`` calls the layer's public entry
    point; ``act`` consumes every output column (defaults to identity for
    ops whose entry point already returns rows); ``check`` compares the
    result with the expected answer and runs outside the timed region."""

    type: str
    template: str
    build: Callable[[], Any]
    act: Callable[[Any], Any] = lambda x: x
    check: Callable[[Any], bool] = lambda r: True
    info: dict = field(default_factory=dict)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    # a sum of scattered intervals, laid out from ``start`` as one block
    aggregate: bool = False


class Recorder:
    """Runs ops, keeps per-op records, and (with tracing) spans and Spark
    counters. Spans stay in memory until ``write_spans`` at the end."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.records: list[dict] = []
        self.spans: list[Span] = []
        self._sql_seen = 0
        self._acc_last: dict[int, float] = {}
        if trace:
            self._rules = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
            self._py4j = Py4jClock(self.sc._gateway._gateway_client)
            # take in the set-up and warm-up executions, so only timed ops count
            self._python_metrics()

    # -- running ops ------------------------------------------------------

    def run(self, op: Op, layer: str) -> dict:
        idx = len(self.records)
        gid = f"bench-op-{idx}"
        self.sc.setJobGroup(gid, op.template)
        rec: dict = {"i": idx, "type": op.type, "template": op.template, **op.info}
        built = out = None
        build_jobs: list[int] = []
        if self.trace:
            rules0, py4j0 = self._rule_ns(), self._py4j.ms
        t0 = time.perf_counter()
        t1 = t2 = None
        try:
            built = op.build()
            t1 = time.perf_counter()
            if self.trace:
                jvm_ms = self._py4j.ms - py4j0
                rules_ms = (self._rule_ns() - rules0) / 1e6
                build_jobs = list(self.sc.statusTracker().getJobIdsForGroup(gid))
            out = op.act(built)
            t2 = time.perf_counter()
            if isinstance(out, list):
                rec["result_rows"] = len(out)
        except Exception as exc:  # an op that raises counts as failed
            t2 = time.perf_counter()
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        rec["ms"] = (t2 - t0) * 1000.0
        rec["build_ms"] = ((t1 or t2) - t0) * 1000.0
        rec["exec_ms"] = (t2 - (t1 or t2)) * 1000.0
        if "error" not in rec:
            try:
                rec["ok"] = bool(op.check(out))
            except Exception as exc:
                rec["ok"] = False
                rec["error"] = f"check {type(exc).__name__}: {str(exc)[:300]}"
        else:
            rec["ok"] = False
        if self.trace:
            rec["build_jobs"] = len(build_jobs)
            build_span = len(self.spans) + 1
            self._trace_op(rec, gid, layer, built, t0, t1 or t2, t2)
            if t1 is not None:
                self._split_build(rec, build_span, build_jobs, jvm_ms, rules_ms, t0)
        self.records.append(rec)
        return rec

    # -- tracing ----------------------------------------------------------

    def _rule_ns(self) -> int:
        """Nanoseconds Catalyst has spent in analyzer and optimizer rules
        since the JVM started, over every query of the session."""
        return int(self._rules.getCurrentMetrics().time())

    def _trace_op(self, rec, gid, layer, built, t0, t1, t2) -> None:
        off = time.time() - time.perf_counter()
        root = len(self.spans)
        self.spans.append(Span(f"op:{rec['template']}", "bench", t0 + off, t2 + off, None))
        self.spans.append(Span("build", layer, t0 + off, t1 + off, root))
        exec_idx = len(self.spans)
        self.spans.append(Span("exec", "spark.exec", t1 + off, t2 + off, root))
        qe = _query_execution(built)
        if qe is not None:
            try:
                phases = qe.tracker().phases()
                for ph in ("analysis", "optimization", "planning"):
                    opt = phases.get(ph)
                    if opt.isDefined():
                        s = opt.get()
                        rec[f"catalyst.{ph}_ms"] = float(s.durationMs())
                        # a phase inside build is already in the rules span
                        start, end = s.startTimeMs() / 1000.0, s.endTimeMs() / 1000.0
                        if start >= t1 + off - 0.002:
                            self.spans.append(Span(ph, "spark.catalyst", start, end, exec_idx))
                rec["catalyst.plan_chars"] = len(qe.optimizedPlan().toString())
            except Py4JError as exc:
                rec["trace_error"] = f"catalyst: {exc}"
        self._spark_counters(rec, gid)

    def _split_build(self, rec: dict, build_span: int, jobs: list[int], jvm_ms: float,
                     rules_ms: float, t0: float) -> None:
        """Split the time the entry call spent waiting on the driver JVM
        into the Spark jobs it launched (``spark.exec``), Catalyst rules
        (``spark.catalyst``: analysis and optimization of every DataFrame
        it built, not only the one it returns) and the rest of the JVM
        work (``jvm``: Dataset API, analysis checks, cache lookup, Py4J).
        What is left of the build is the layer's own Python. The parts are
        sums of scattered intervals, so each becomes one aggregate span
        under the build span; a part is capped at what the earlier parts
        leave, since rules that run inside a job are also job time."""
        store = self.sc._jsc.sc().statusStore()
        job_ms = 0.0
        for j in jobs:
            try:
                jd = store.job(j)
                job_ms += jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()
            except Py4JError:  # evicted from the status store, or still running
                continue
        exec_ms = min(job_ms, jvm_ms)
        rules_ms = min(rules_ms, jvm_ms - exec_ms)
        rest_ms = jvm_ms - exec_ms - rules_ms
        rec.update({"exec.build_ms": exec_ms, "catalyst.build_ms": rules_ms,
                    "jvm.build_ms": rest_ms})
        start = t0 + time.time() - time.perf_counter()
        for name, layer, ms in (("jobs", "spark.exec", exec_ms), ("rules", "spark.catalyst", rules_ms),
                                ("driver", "jvm", rest_ms)):
            if ms > 0:
                self.spans.append(Span(name, layer, start, start + ms / 1000.0, build_span,
                                       aggregate=True))
                start += ms / 1000.0

    def _spark_counters(self, rec: dict, gid: str) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        deadline = time.time() + 5.0
        jobs = list(tracker.getJobIdsForGroup(gid))
        while time.time() < deadline:
            infos = [tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.02)
        stages = tasks = failed = 0
        run_ms = cpu_ms_ = in_rows = sh_r = sh_w = spill = 0.0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JError:  # evicted from the status store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += sd.numTasks()
                failed += sd.numFailedTasks()
                run_ms += sd.executorRunTime()
                cpu_ms_ += sd.executorCpuTime() / 1e6
                in_rows += sd.inputRecords()
                sh_r += sd.shuffleReadBytes()
                sh_w += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        rec.update({
            "exec.jobs": len(jobs), "exec.stages": stages, "exec.tasks": tasks,
            "exec.tasks_failed": failed, "exec.executor_run_ms": run_ms,
            "exec.executor_cpu_ms": cpu_ms_, "exec.input_rows": in_rows,
            "exec.shuffle_read_bytes": sh_r, "exec.shuffle_write_bytes": sh_w,
            "exec.spill_bytes": spill,
        })
        rec.update(self._python_metrics())

    def _python_metrics(self) -> dict:
        """Sum the Python-worker SQL metrics of every SQL execution that
        started since the previous op (one client, so they are this op's).
        A cached plan's accumulators are shared by every execution that
        reuses it, so each accumulator counts once, as its growth since
        it was last read."""
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = int(sql.executionsCount())
        if n <= self._sql_seen:
            return out
        execs = sql.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        acc_ctx = self.spark._jvm.org.apache.spark.util.AccumulatorContext
        seen: set[int] = set()
        for i in range(execs.size()):
            metrics = execs.apply(i).metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = PYTHON_METRICS.get(m.name())
                acc_id = m.accumulatorId()
                if key is None or acc_id in seen:
                    continue
                seen.add(acc_id)
                acc = acc_ctx.get(acc_id)
                if not acc.isDefined():
                    continue
                v = float(acc.get().value())
                delta = v - self._acc_last.get(acc_id, 0.0)
                self._acc_last[acc_id] = v
                # nsTiming metrics hold nanoseconds
                out[key] += delta / 1e6 if m.metricType() == "nsTiming" else delta
        return out

    # -- end of run -------------------------------------------------------

    def jvm_facts(self) -> dict:
        jvm = self.spark._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        gc = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
        pid = int(jvm.java.lang.ProcessHandle.current().pid())
        return {
            "jvm.gc_ms": float(gc),
            "jvm.cpu_ms": cpu_ms(pid),
            "py.cpu_ms": cpu_ms(),
            "spark.persisted_rdds_end": int(self.sc._jsc.getPersistentRDDs().size()),
            "peak_rss_mb": vm_hwm_mb() + vm_hwm_mb(pid),
        }

    def layer_self_ms(self) -> dict:
        """Self time per layer: each span's duration minus the part of it
        that its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = 0.0
            cursor = s.start
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start - covered) * 1000.0
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")


class Py4jClock:
    """Wall time the calling thread spends waiting on Py4J calls into the
    driver JVM, from a wrapper around the gateway client's send. A call
    made inside another (a finalizer releasing a JVM object) and calls
    from other threads are not counted again."""

    def __init__(self, client):
        self.ms = 0.0
        send = client.send_command
        owner = threading.get_ident()
        depth = 0

        def timed_send(*args, **kwargs):
            nonlocal depth
            if depth or threading.get_ident() != owner:
                return send(*args, **kwargs)
            depth += 1
            t = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                depth -= 1
                self.ms += (time.perf_counter() - t) * 1000.0

        client.send_command = timed_send


def _query_execution(built):
    """The JVM QueryExecution of a DataFrame result, if the op has one."""
    jdf = getattr(built, "_jdf", None)
    if jdf is None:
        return None
    return jdf.queryExecution()


def layer_sums(records: list[dict]) -> dict:
    """Per-layer metrics common to every workload, from traced records."""
    def total(key: str) -> float:
        return float(sum(r.get(key, 0.0) or 0.0 for r in records))

    out = {
        "build_ms": total("build_ms"),
        "build_jobs": total("build_jobs"),
        "exec_ms": total("exec_ms"),
        "catalyst.build_ms": total("catalyst.build_ms"),
        "jvm.build_ms": total("jvm.build_ms"),
        "exec.build_ms": total("exec.build_ms"),
        "catalyst.analysis_ms": total("catalyst.analysis_ms"),
        "catalyst.optimization_ms": total("catalyst.optimization_ms"),
        "catalyst.planning_ms": total("catalyst.planning_ms"),
        "catalyst.plan_chars": float(max([r.get("catalyst.plan_chars", 0) for r in records] or [0])),
    }
    for key in (
        "exec.jobs", "exec.stages", "exec.tasks", "exec.tasks_failed",
        "exec.executor_run_ms", "exec.executor_cpu_ms", "exec.input_rows",
        "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
        *PYTHON_METRICS.values(),
    ):
        out[key] = total(key)
    rows = total("result_rows")
    out["exec.rows_per_result"] = out["exec.input_rows"] / rows if rows else 0.0
    return out


def emit(record: dict, final: dict) -> None:
    """Print the detail record, then the one-line result as the last line."""
    sys.stdout.write(json.dumps({"record": record}, default=str) + "\n")
    sys.stdout.write(json.dumps(final) + "\n")
    sys.stdout.flush()
