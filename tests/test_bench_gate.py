"""bench.py host-probe gate calibration: a slow stored snapshot must not
raise the gate for every later run when this run's own probe is fast."""

from __future__ import annotations

import json

import bench


def _stored(tmp_path, monkeypatch, cpu_probe_s, wait_probe_s):
    path = tmp_path / "BENCH_DETAIL.json"
    path.write_text(json.dumps({"load": {
        "cpu_probe_s": cpu_probe_s,
        "quiet_wait": {"probe_s": wait_probe_s},
    }}))
    monkeypatch.setattr(bench, "_DETAIL_PATH", str(path))
    monkeypatch.delenv("SPARK_GRAFT_BENCH_MAX_PROBE_S", raising=False)


def test_fast_fresh_probe_undoes_slow_snapshot(tmp_path, monkeypatch):
    _stored(tmp_path, monkeypatch, 3.0, 2.5)
    # without a fresh probe the slow snapshot sets the gate (1.4 x 2.5)
    assert bench._max_probe_gate() == 3.5
    # a fast fresh probe wins the minimum: back to the 1.1 floor
    assert bench._max_probe_gate(0.7) == 1.1
    # a middling one calibrates from itself
    assert bench._max_probe_gate(1.0) == 1.4


def test_slow_fresh_probe_cannot_raise_past_stored(tmp_path, monkeypatch):
    _stored(tmp_path, monkeypatch, 0.9, None)
    assert bench._max_probe_gate(5.0) == 1.26


def test_no_snapshot_and_env_override(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "_DETAIL_PATH", str(tmp_path / "missing.json"))
    monkeypatch.delenv("SPARK_GRAFT_BENCH_MAX_PROBE_S", raising=False)
    assert bench._max_probe_gate() == 1.1
    assert bench._max_probe_gate(1.5) == 2.1
    monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_PROBE_S", "9")
    assert bench._max_probe_gate(0.5) == 9.0
