"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cql_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it is the
full record: every metric of the workload by name, unit, statistic and
sample count, the host facts, and each op's result. Exits 2 without a
result when the package is not next to this directory.
"""

from __future__ import annotations

import argparse
import ctypes
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# End-to-end metrics every workload reports (bounded in BENCHMARK.json)
GATED_E2E = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "peak_rss_mb": "MB",
}
# Per-layer metrics every workload reports with --trace 1
PER_LAYER = {
    "build_ms": "ms", "build_jobs": "count",
    "catalyst.build_ms": "ms", "jvm.build_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.plan_chars": "count",
    "exec_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.tasks_failed": "count",
    "exec.executor_run_ms": "ms", "exec.executor_cpu_ms": "ms",
    "exec.input_rows": "count", "exec.rows_per_result": "ratio",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "python.bytes_sent": "B", "python.bytes_returned": "B",
    "cql.frame_reuse_ratio": "ratio", "cql.mutations_at_read": "count",
    "cql.tombstones_at_read": "count", "cql.page_jobs": "count",
    "sstable.bytes_per_row": "B",
    "jvm.gc_ms": "ms", "jvm.cpu_ms": "ms", "py.cpu_ms": "ms",
    "spark.persisted_rdds_end": "count",
    "known_defects_ok": "count",
}
# Per-layer times that are zero by construction on some workload; they
# are in the record of every traced run, not in the result line
PER_LAYER_RECORD_ONLY = {
    "exec.build_ms": "ms", "python.run_ms": "ms", "python.start_ms": "ms", "python.init_ms": "ms",
    "sstable.write_ms": "ms", "sstable.read_ms": "ms", "sstable.point_read_ms": "ms",
}


def _workloads():
    from perfbench import wl_cql_read, wl_cql_write_read, wl_llm_pipeline

    return {m.NAME: m for m in (wl_cql_read, wl_cql_write_read, wl_llm_pipeline)}


# Driver heap, initial = maximum, touched at JVM start. With the package
# default (8 GiB maximum, small initial heap) G1 grew the heap differently
# in every run: peak RSS moved by +-20 % and buffer-read latency by +-15 %
# between runs of one seed. With a fixed but untouched heap, peak RSS
# still took one of two values 300 MB apart (3 of 9 llm_pipeline runs low).
DRIVER_HEAP = "2g"


def _isolate(work_dir: str) -> None:
    """Keep every file Spark and Python write inside the checkout, fix the
    driver heap, and let Python workers import the package from any
    working directory."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
        f" -Dderby.system.home={tmp} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
    ).strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def _adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: the
    Spark JVM, its Python daemon and the workers the daemon forks (which
    moves itself to a process group of its own) are re-parented here, not
    to init, when their parent exits, so _stop_processes can wait for each."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark JVM and wait until every process this run started has
    ended. The JVM exits by itself when its stdin closes, but only after its
    shutdown hooks; Python exiting first would leave it running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception as exc:  # the JVM is stopped below all the same
        print(f"perfbench: stopping Spark: {exc!r}", file=sys.stderr)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the daemon and its workers end when the JVM does; signal what lingers
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        _reap()
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            deadline = time.monotonic() + 5.0
        if sig is not None:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cassandra_pmem_spark", "__init__.py")):
        print(f"perfbench: no cassandra_pmem_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_dir = os.path.join(HERE, "_work")
    _isolate(work_dir)
    _adopt_orphans()
    # SIGTERM unwinds through the finally blocks, so Spark is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = _measure(args, work_dir)
    finally:
        _stop_processes()
    if result is None:
        return 2
    # printed once every process has ended, so nothing writes after it
    from perfbench import harness

    harness.emit(*result)
    return 0


def _measure(args, work_dir: str):
    """Run the workload; return (record, final), or None on a usage error."""
    from perfbench import harness

    t_proc = harness.process_start_epoch()
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return None
    # host facts and the benchmark's own input generation are not set-up time
    t = time.perf_counter()
    facts = harness.host_facts(ROOT)
    wl = workloads[args.workload].Workload(work_dir, args.seed)
    wl.generate_inputs()
    excluded = time.perf_counter() - t

    from cassandra_pmem_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl.prepare(spark)
        wl.warmup(spark)
        setup_s = time.time() - t_proc - excluded

        rec = harness.Recorder(spark, bool(args.trace))
        timed = 0.0
        for op in wl.ops(spark):
            r = rec.run(op, wl.layer(op))
            timed += r["ms"] / 1000.0
            if timed >= args.seconds and wl.may_stop(rec.records):
                break
        jvm = rec.jvm_facts()
        # known failures at HEAD run after the timed loop, outside the result
        try:
            defects = wl.known_defects(spark)
        except Exception as exc:  # a probe that raises is reported, not fatal
            defects = [{"name": "known_defects", "ok": False, "error": repr(exc)[:300]}]
        return _report(args, wl, rec, facts, jvm, setup_s, timed, excluded, defects)
    finally:
        spark.stop()
        wl.cleanup()


def _report(args, wl, rec, facts, jvm: dict, setup_s: float, timed: float, excluded: float,
            defects: list[dict]):
    from perfbench import harness

    records = rec.records
    failed = sum(1 for r in records if not r["ok"])
    reads = [r["ms"] for r in records if r["type"] == "read"]
    facts["loadavg_end"] = os.getloadavg()
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": len(records) / timed, "unit": "1/s", "n": len(records)},
        "read_p50_ms": harness.timing_stat(reads, "p50", "ms"),
        "read_tail_ms": harness.timing_stat(reads, "tail", "ms"),
        "peak_rss_mb": {"value": jvm.pop("peak_rss_mb"), "unit": "MB"},
        "error_rate": {"value": failed / len(records), "unit": "ratio",
                       "n": len(records)},
        **wl.end_to_end(records),
    }
    record = {
        "workload": wl.name, "loop": wl.loop, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "host": facts,
        "end_to_end": e2e,
        "timed_s": timed, "excluded_from_setup_s": excluded,
        "known_defects": defects,
        "known_defects_ok": sum(1 for d in defects if d["ok"]),
        "failed_ops": [
            {k: r.get(k) for k in ("i", "type", "template", "error")}
            for r in records if not r["ok"]
        ],
    }
    if args.trace:
        layers = {**harness.layer_sums(records), **jvm, **wl.per_layer(records),
                  "known_defects_ok": record["known_defects_ok"]}
        for name in (*PER_LAYER, *PER_LAYER_RECORD_ONLY):
            layers.setdefault(name, 0.0)
        record["per_layer"] = {
            k: {"value": v, "unit": {**PER_LAYER, **PER_LAYER_RECORD_ONLY}.get(k, "")}
            for k, v in layers.items()
        }
        record["self_ms"] = rec.layer_self_ms()
        record["ops"] = records
        span_path = os.path.join(HERE, "_work", f"spans-{wl.name}-{args.seed}.jsonl")
        rec.write_spans(span_path)
        record["spans_file"] = os.path.relpath(span_path, ROOT)
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]["value"]), "unit": u} for k, u in GATED_E2E.items()}
    final = {"correct": failed == 0, "attempted": len(records), "failed": failed,
             "metrics": metrics}
    return record, final


if __name__ == "__main__":
    sys.exit(main())
