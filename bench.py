#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = total wall seconds across the headline set (lower is better). Each
query is fully materialized via a count-collect (no driver-side row
transfer beyond the count — what a cluster run would do).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "cql_per_partition_limit",
    "cql_upsert_lww_cells",
    "analytics_window_rank",
    "analytics_events_hourly",
    "streaming_session_batch",
    "dedup_exact_docs",
    "dedup_minhash_jaccard",
    "sim_bruteforce_topk",
    "text_langid",
    "text_quality",
    # round-1 additions: join-shape coverage + IVF ANN
    "tpch_q4_order_priority",
    "tpch_q9_product_profit",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume_customer",
    "tpch_q21_waiting_supplier",
    "sim_ivf_topk",
    "tpch_q11_important_parts",
    "dedup_cascade_docs",
    "streaming_tumbling_real",
    # round-8 additions: the round-6 operator tier (graph components,
    # substring dedup, perceptual image dedup, as-of join)
    "dedup_components_star",
    "dedup_substring_spans",
    "multimodal_image_dedup",
    "temporal_asof_join",
    # round-9 additions: the new DISTRIBUTED stages (MPEG-1 Layer I
    # decode over mapInPandas, the train_cap'd BPE trainer). The other
    # r9 operators (UDT cells, ALTER TYPE, system_schema) live on the
    # statement path — correctness-gated, but their wall time is
    # driver-side statement machinery, not engine throughput, so they
    # stay out of the throughput suite like the rest of that tier.
    "multimodal_audio_mp1_subband",
    "text_bpe_train",
]

# Second tier (round 10): the heaviest operators with no wall-time trend
# line — measured and recorded in BENCH_DETAIL.json (tier2/tier2_median)
# but NOT in the headline total, so `value` stays continuous across
# rounds. Future rounds rotate this list toward whatever tier lacks
# trend data; the final stdout line never carries it (driver tail
# budget, <1,900 chars).
TIER2 = [
    "graph_pagerank_exact",
    "temporal_rollup_cascade",
    "text_dsir_weights",
    "source_snapshot_timetravel",
    "source_snapshot_incremental",
    "source_snapshot_merge",
    "dedup_lsh_pairs",
    "dedup_connected_components",
    "sim_pq_adc_topk",
    "sim_sq8_topk",
    "multimodal_audio_flac",
    "multimodal_video_gif_frames",
    "text_ngram_lm_ppl",
    "text_bpe_encode",
    "sketch_runtime_filtered_join",
    "analytics_salted_join",
    # round-10 second-session operators: the sstable codec round trip
    # (compressed write + split read of the whole events table), the
    # paged-query tier, and the trigger tier
    "source_sstable_roundtrip",
    "cql_paging",
    "cql_trigger_audit",
    # round-12: the cross-version sstable read path (na/md/ma compressed
    # write + read, 3x the events slice) gets a trend line
    "source_sstable_version_interop",
    # round-13: the token-range-pruned distributed scan (8-sstable bulk
    # write + bisected split planning + pruned read)
    "source_sstable_pruned_scan",
]


def _cpu_probe_s(iters: int = 20_000_000) -> float:
    """Fixed single-thread busy loop (~0.8 s on this box at full clocks
    at the default length): a host-speed calibration constant stored
    with every snapshot. The loadavg gate can only see GUEST contention;
    this catches what it can't — virtualization-host contention /
    frequency windows, which measured 1.05 s vs 1.9 s for this exact
    loop across two same-day windows (a uniform ~1.8x wall-clock skew on
    otherwise identical runs). Compare snapshots' cpu_probe_s before
    comparing their seconds. ``iters`` scales the loop down for the
    between-queries mid-run probes (quarter length, ~0.2 s) so probing
    51 queries costs ~10 s of untimed wall, not ~40."""
    import time as _t

    t0 = _t.perf_counter()
    s = 0
    for i in range(iters):
        s += i
    return round(_t.perf_counter() - t0, 3)


# the stored comparison snapshot (written by a clean run, read by the gate)
_DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
)


def _max_probe_gate(fresh_probe: float | None = None) -> float:
    """The probe gate threshold. SPARK_GRAFT_BENCH_MAX_PROBE_S overrides;
    otherwise 1.1 s (this box runs the loop in ~0.8 s at full clocks),
    auto-raised to 1.4x the best probe on record — the minimum of the
    stored snapshot's probes and ``fresh_probe``, one taken by this run —
    so on a slower machine the gate calibrates itself instead of parking
    every run in the 600 s quiet-wait and branding it contaminated
    (ADVICE r13). The minimum keeps one slow stored snapshot from
    raising the gate for every later run: a fast fresh probe pulls it
    back down. The calibration never tightens the gate below 1.1."""
    env = os.environ.get("SPARK_GRAFT_BENCH_MAX_PROBE_S")
    if env:
        return float(env)
    probes = [fresh_probe]
    try:
        with open(_DETAIL_PATH) as f:
            load = json.load(f).get("load", {})
        probes += [
            load.get("cpu_probe_s"),
            load.get("quiet_wait", {}).get("probe_s"),
        ]
    except (OSError, ValueError, AttributeError):
        pass
    probes = [p for p in probes if p]
    gate = max(1.1, 1.4 * min(probes)) if probes else 1.1
    return round(gate, 3)


def _machine_load() -> dict:
    """Measurement-hygiene metadata: loadavg + how many OTHER runnable
    processes compete for the CPUs. Two rounds produced load-contaminated
    snapshots (r10 driver-concurrent, r11 quiet-tree ~30% skew), so every
    snapshot now records the conditions it was taken under."""
    me = os.getpid()
    runnable = 0
    try:
        for p in os.listdir("/proc"):
            if not p.isdigit() or int(p) == me:
                continue
            try:
                with open(f"/proc/{p}/stat") as fh:
                    # field 3 is the state; the comm field may contain
                    # spaces but is parenthesized — split after ')'
                    state = fh.read().rsplit(")", 1)[1].split()[0]
                if state == "R":
                    runnable += 1
            except OSError:
                continue
    except OSError:
        pass
    la1, la5, la15 = os.getloadavg()
    return {
        "loadavg": [round(la1, 2), round(la5, 2), round(la15, 2)],
        "runnable_others": runnable,
    }


def _wait_for_quiet(max_load: float, timeout_s: float) -> dict:
    """Block until the box is quiet, polling every 15 s up to timeout_s.
    Two independent gates:

    - 1-minute loadavg below max_load — GUEST contention (BENCH_r12's
      official number was flagged contaminated by its own gate; waiting
      fixes what annotating could not);
    - the single-thread cpu probe under SPARK_GRAFT_BENCH_MAX_PROBE_S
      (default 1.1 s; the loop runs ~0.8 s at this box's full clocks)
      — HOST contention, which loadavg cannot see. Round-13 measured
      identical code at 17.3 s vs 29-39 s across same-day windows with
      loadavg clean both times; the probe is the only observable that
      catches it.

    Returns {waited_s, timed_out, probe_s, max_probe_s} for the hygiene
    record; max_probe_s is the gate, calibrated with this run's first
    probe, that the end-of-run and mid-run probes are judged against."""
    t0 = time.time()
    timed_out = False
    probe = _cpu_probe_s()
    max_probe = _max_probe_gate(probe)
    while os.getloadavg()[0] > max_load or probe > max_probe:
        if time.time() - t0 >= timeout_s:
            timed_out = True
            break
        time.sleep(15)
        probe = _cpu_probe_s()
    # measured at exit so the timeout path reports the true block time,
    # not the duration as of the poll before the break
    return {
        "waited_s": round(time.time() - t0, 1),
        "timed_out": timed_out,
        "probe_s": probe,
        "max_probe_s": max_probe,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # load gate: above this 1-min loadavg the run WAITS (bounded) for
    # the box to go quiet; if it never does, the run still prints its
    # JSON (the driver needs a line every round) but REFUSES to
    # overwrite BENCH_DETAIL.json, so a contaminated run can never
    # become the stored comparison snapshot
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "4.0"))
    wait_timeout = float(
        os.environ.get("SPARK_GRAFT_BENCH_QUIET_TIMEOUT", "600")
    )
    quiet_wait = _wait_for_quiet(max_load, wait_timeout)
    load_start = _machine_load()
    from cassandra_pmem_spark.session import get_spark
    from cassandra_pmem_spark.queries import all_queries

    spark = get_spark("cassandra-pmem-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    # warm the JVM + file metadata cache once (not counted)
    registry["cql_point_lookup"][0](spark, sf_dir).collect()
    # warm the Structured Streaming machinery too (state-store provider,
    # sink/checkpoint classes): the measured real-streaming run then
    # reflects steady-state micro-batch cost, not one-time class loading —
    # the component that actually scales with cluster workload
    registry["streaming_tumbling_real"][0](spark, sf_dir).count()

    # 3 repeats per query: `queries`/`value` keep reporting the min (the
    # signal least polluted by scheduler/GC noise, continuous with prior
    # rounds); the medians quantify run-to-run dispersion so a single noisy
    # run (e.g. round-3's +38% tpch_q3 with unchanged code) is visibly
    # noise, not a regression.
    REPEATS = 3
    # Mid-run host probes (r13 postmortem: a run can pass the START gate
    # and then absorb a sustained host-contention burst mid-run while
    # still being recorded clean — BENCH_r13 measured min 56 s vs median
    # 115 s that way). A quarter-length probe lands after each query's
    # repeats — OUTSIDE every timed region — and is recorded scaled to
    # full-loop units so the hygiene block can count how many windows of
    # the run were contended.
    MID_ITERS = 5_000_000
    mid_probes: dict[str, float] = {}

    def _timed_block(names, timings, medians, runs_out):
        for name in names:
            fn, _ = registry[name]
            runs: list[float] = []
            for _ in range(REPEATS):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                n = df.count()
                runs.append(time.perf_counter() - t0)
                assert n >= 0
            runs_out[name] = [round(r, 4) for r in runs]
            runs.sort()
            timings[name] = round(runs[0], 4)
            medians[name] = round(runs[len(runs) // 2], 4)
            mid_probes[name] = round(
                _cpu_probe_s(MID_ITERS) * (20_000_000 / MID_ITERS), 3
            )

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    runs_detail: dict[str, list] = {}
    _timed_block(HEADLINE, timings, medians, runs_detail)
    total = round(sum(timings.values()), 4)
    tier2: dict[str, float] = {}
    tier2_med: dict[str, float] = {}
    _timed_block(TIER2, tier2, tier2_med, runs_detail)
    # The driver keeps only the LAST ~2,000 chars of bench output and
    # parses the final line as JSON (BENCH_r08 failed to parse because the
    # 28-query point+median maps pushed the single line past that tail).
    # So: full-precision detail goes to a side file + an earlier stdout
    # line, and the LAST line is a compact summary — point map only,
    # 2-decimal values — sized to stay <1,900 chars even at ~40 queries.
    detail = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "repeats": REPEATS,
        "value_median": round(sum(medians.values()), 4),
        "queries_median": medians,
        "tier2_total": round(sum(tier2.values()), 4),
        "tier2": tier2,
        "tier2_median": tier2_med,
    }
    load_end = _machine_load()
    end_probe = _cpu_probe_s()
    max_probe = quiet_wait["max_probe_s"]
    # Contamination verdict — r13's gate only sampled host speed at
    # START and recorded a mid-run-hammered snapshot as clean. Now:
    # - start conditions as before (loadavg gate, quiet-wait timeout);
    # - END full probe over the gate = the run finished contended;
    # - min/median dispersion > 1.5 = repeats of identical queries in
    #   one JVM differed beyond any plan property (BENCH_r13: 56 vs
    #   115 s — a contention signature by construction);
    # - >= 2 mid-run probes over the gate = sustained mid-run burst
    #   (two, not "any": a single quarter-length probe can hiccup on a
    #   scheduler blip without the timed queries being touched).
    dispersion = round(
        (sum(medians.values()) + sum(tier2_med.values()))
        / max(1e-9, total + sum(tier2.values())), 3,
    )
    mid_over = [k for k, v in mid_probes.items() if v > max_probe]
    reasons = []
    if load_start["loadavg"][0] > max_load:
        reasons.append("start_load")
    if quiet_wait["timed_out"]:
        reasons.append("quiet_wait_timeout")
    if end_probe > max_probe:
        reasons.append("end_probe")
    if dispersion > 1.5:
        reasons.append("dispersion")
    if len(mid_over) >= 2:
        reasons.append("mid_probes")
    contaminated = bool(reasons)
    detail["load"] = {
        "start": load_start,
        "end": load_end,
        "max_load_gate": max_load,
        "max_probe_gate": max_probe,
        "quiet_wait": quiet_wait,
        "cpu_probe_s": end_probe,
        "mid_probes": mid_probes,
        "mid_probes_over_gate": mid_over,
        "dispersion": dispersion,
        "contaminated": contaminated,
        "contaminated_reasons": reasons,
    }
    detail["queries_runs"] = runs_detail
    try:
        import subprocess

        detail["tree"] = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:
        detail["tree"] = None
    # Snapshot policy: FIRST gated-clean run per code tree, not best-of-N
    # (VERDICT r13: best-of-N selection is a bias the probe gate should
    # make unnecessary). The stored snapshot is the sf0.1 trend line: a
    # quick sf0.01 CLI check must not overwrite it (sf gate), a low-core
    # control run gets its own file (cpus suffix), and a later clean run
    # of the SAME tree does not displace the first one unless forced via
    # SPARK_GRAFT_BENCH_DETAIL=force.
    if not contaminated and detail["sf"] == 0.1:
        here = os.path.dirname(os.path.abspath(__file__))
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        fname = (
            "BENCH_DETAIL.json"
            if cpus == (os.cpu_count() or cpus)
            else f"BENCH_DETAIL_c{cpus}.json"
        )
        path = os.path.join(here, fname)
        keep_existing = False
        if os.environ.get("SPARK_GRAFT_BENCH_DETAIL") != "force":
            try:
                with open(path) as f:
                    prev = json.load(f)
                keep_existing = (
                    not prev.get("load", {}).get("contaminated", True)
                    and prev.get("tree") is not None
                    and prev.get("tree") == detail["tree"]
                )
            except (OSError, ValueError):
                pass
        if not keep_existing:
            try:
                with open(path, "w") as f:
                    json.dump(detail, f, indent=1)
            except OSError:
                pass
    print(json.dumps(detail))
    compact = {
        "metric": "headline_suite_seconds",
        "value": round(total, 2),
        "unit": "sec",
        "sf": detail["sf"],
        "repeats": REPEATS,
        "value_median": round(detail["value_median"], 2),
        "load1": load_start["loadavg"][0],
        "load_ok": not contaminated,
        # host-speed calibration for cross-round comparison: this exact
        # single-thread loop runs ~0.8 s at full clocks; identical code
        # measured 17.3 s vs ~29 s across host windows (r13), so compare
        # rounds' seconds only after comparing their probes
        "probe_s": detail["load"]["cpu_probe_s"],
        **({"quiet_wait_s": quiet_wait["waited_s"]}
           if quiet_wait["waited_s"] else {}),
        "queries": {k: round(v, 2) for k, v in timings.items()},
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # belt-and-braces: never exceed the driver tail
        compact.pop("queries")
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
