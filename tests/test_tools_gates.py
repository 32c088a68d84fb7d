"""The gate tools share one implementation: ``tools/cluster_gate.py``
runs ``tools/check.py``'s oracle gate (driver canon probe included)
and ``bench.py``'s timing loop, and the bench's baseline gate only
compares runs on the pin's own scale factor and core count."""

from __future__ import annotations

import json
import sys

from tests.conftest import REPO_ROOT, SF_DIR

sys.path.insert(0, str(REPO_ROOT / "tools"))

import bench  # noqa: E402
import check  # noqa: E402
import cluster_gate  # noqa: E402


def test_cluster_gate_reuses_the_check_gate_and_bench_loop():
    assert cluster_gate.gate is check.gate
    assert cluster_gate.bench_set is bench.bench_set


def test_gate_passes_a_query_against_its_oracle(spark):
    results = check.gate(spark, SF_DIR, {"q_agg_count"})
    assert results == {"q_agg_count": "pass"}
    assert check.tally(results) == (1, 0, 0)


def test_baseline_gate_skips_on_core_count_mismatch(monkeypatch):
    pin = json.loads((REPO_ROOT / "BENCH_BASELINE.json").read_text())
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", f"/data/sf{pin['sf']}")
    other = bench.baseline_gate({}, pin["cpus"] + 1)
    assert "skipped" in other and "cpus" in other["skipped"]
    # on the pin's own count the gate proceeds (and here finds no
    # calibration queries)
    assert "error" in bench.baseline_gate({}, pin["cpus"])
