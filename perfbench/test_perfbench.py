"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark, at sf0.001, for a few seconds each.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import run  # noqa: E402
import short_reads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "3", "--trace", str(trace),
         "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    detail, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(detail)["detail"], json.loads(result)


def test_names_match_benchmark_json():
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert tuple(w["name"] for w in SPEC["workloads"]) == run.WORKLOADS
    assert all(len(w["why"]) <= 200 for w in SPEC["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


def test_catalog_names_exist_and_pool_is_frozen():
    from healthcare_data_lakehouse_spark.queries.catalog import load_all

    catalog = load_all()
    assert set(run.WARMUP) <= set(catalog)
    expected = json.loads((HERE / "expected.json").read_text())
    for name in short_reads.POOL:
        assert name in catalog
        assert all(name in by_sf for by_sf in expected.values())


def test_sample_is_seeded_and_stratified():
    cost = {n: float(i) for i, n in enumerate(short_reads.POOL)}
    strata = -(-len(short_reads.POOL) // short_reads.STRATUM)
    rounds = short_reads.rounds(3, cost, 2)
    assert rounds == short_reads.rounds(3, cost, 2)
    assert rounds != short_reads.rounds(4, cost, 2)
    for names in rounds:
        picked = sorted(cost[n] // short_reads.STRATUM for n in names)
        assert picked == list(range(strata))


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_traced_run_reports_every_layer(workload):
    detail, result = bench(workload, 1)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1 and detail["failed_frac"] == 0.0
    metrics = result["metrics"]
    assert [(k, v["unit"]) for k, v in metrics.items()] == [
        (m["name"], m["unit"]) for m in SPEC["per_layer"]]
    assert detail["rounds"] == 1


def test_smoke_untraced_run_reports_end_to_end_metrics():
    _, result = bench("zone_ingest", 0)
    assert result["correct"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_injected_failure_is_counted_not_fatal():
    detail, result = bench("zone_ingest", 0, "--fail-op", "append")
    assert not result["correct"]
    assert result["failed"] >= 1
    assert 0 < detail["failed_frac"] <= 1


def test_times_are_scaled_to_the_reference_probe():
    ref = run.REF_PROBE_S
    # a host twice as slow reads the probe twice as long
    assert run.normalise([2.0, 0.5], [(2 * ref, 2 * ref), (ref / 2, ref * 1.5)]
                         ) == pytest.approx([1.0, 0.5])


def test_harrell_davis_median():
    assert run.hd_median([3.0]) == 3.0
    assert run.hd_median([4.0, 1.0, 3.0, 2.0]) == pytest.approx(2.5)
    x = [1.0, 2.0, 3.0, 10.0, 11.0]
    assert run.hd_median(x) == pytest.approx(-run.hd_median([-v for v in x]))
    skewed = [0.3, 0.4, 0.5, 0.6, 0.7, 4.0]
    assert 0.5 < run.hd_median(skewed) < 0.7
