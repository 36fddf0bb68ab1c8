"""Run the benchmark over several seeds and summarize its steadiness.

    python3 perfbench/sweep.py --workloads cql_read,llm_pipeline --seeds 1-10
    python3 perfbench/sweep.py --workloads cql_read --seeds 1-10 --trace-seed 11

For each workload and end-to-end metric it prints the median, the
quartiles (``statistics.quantiles(n=4)``) and the spread (quartile
distance over median) against the metric's bound in BENCHMARK.json.
With ``--trace-seed`` it also makes one traced run, keeps its record and
spans, and reports the tracing overhead: the traced run's end-to-end value over the untraced
median. Results go to ``perfbench/results/c<nproc>/``, so results from
hosts with different core counts are never compared or overwritten.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict, float]:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t = time.time()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1]), wall


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace-seed", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    nproc = len(os.sched_getaffinity(0))
    out_dir = os.path.join(HERE, "results", f"c{nproc}")
    os.makedirs(out_dir, exist_ok=True)

    for wl in args.workloads.split(","):
        runs, walls, records = [], [], []
        for seed in seeds_of(args.seeds):
            record, final, wall = run_once(bench, wl, seed, 0)
            runs.append(final)
            walls.append(wall)
            records.append({"seed": seed, "wall_s": wall, "host": record["host"],
                            "correct": final["correct"], "failed": final["failed"],
                            "attempted": final["attempted"],
                            "end_to_end": record["end_to_end"]})
            print(f"{wl} seed {seed}: {wall:.1f}s correct={final['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in final["metrics"].items()),
                  flush=True)
        summary = {
            "workload": wl, "nproc": nproc, "seeds": args.seeds,
            "run_seconds": bench["run_seconds"], "wall_s": spread(walls),
            "metrics": {}, "runs": records,
        }
        for name, bound in bounds.items():
            s = spread([r["metrics"][name]["value"] for r in runs])
            s["bound"] = bound
            s["within_third_of_bound"] = s["spread"] is not None and s["spread"] < bound / 3
            summary["metrics"][name] = s
            print(f"  {name}: median={s['median']:.4g} spread={s['spread']:.3f} bound={bound}"
                  f" {'ok' if s['within_third_of_bound'] else 'WIDE'}", flush=True)
        if args.trace_seed is not None:
            record, final, wall = run_once(bench, wl, args.trace_seed, 1)
            overhead = {
                k: record["end_to_end"][k]["value"] / summary["metrics"][k]["median"] - 1.0
                for k in bounds
            }
            shutil.copy(os.path.join(ROOT, record["spans_file"]),
                        os.path.join(out_dir, f"spans-{wl}.jsonl"))
            record["spans_file"] = os.path.relpath(os.path.join(out_dir, f"spans-{wl}.jsonl"), ROOT)
            trace_path = os.path.join(out_dir, f"trace-{wl}.json")
            with open(trace_path, "w") as f:
                json.dump({"record": record, "result": final, "wall_s": wall,
                           "tracing_overhead_vs_untraced_median": overhead}, f, indent=1,
                          default=str)
            print(f"  traced seed {args.trace_seed}: {wall:.1f}s overhead "
                  + " ".join(f"{k}={v:+.3f}" for k, v in overhead.items()), flush=True)
        # one directory per core count: results of different hosts never mix
        with open(os.path.join(out_dir, f"sweep-{wl}.json"), "w") as f:
            json.dump(summary, f, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
