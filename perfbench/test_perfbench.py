"""Self-tests of the benchmark at the tiny size.

Run with ``python3 -m pytest perfbench/test_perfbench.py -q`` from the
repository root (a few minutes: every workload starts its own JVM).
They check that every metric prints by name with its unit, that a planted
wrong expected answer shows up as failed operations, that the input
generators are byte-identical per seed, and that the benchmark refuses to
run outside a checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import aq_oracle  # noqa: E402
import gen  # noqa: E402
import run as bench  # noqa: E402
import spec  # noqa: E402
import workloads  # noqa: E402


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _generate(root: str, seed: int) -> str:
    locs = gen.locations(seed, 5)
    for hour in range(3):
        gen.write_raw_hour(os.path.join(root, "raw"), seed, hour, locs)
    gen.write_tables(os.path.join(root, "tables"), seed, 0.001)
    return _digest(root)


def test_generators_are_byte_identical_per_seed(tmp_path):
    a = _generate(str(tmp_path / "a"), 5)
    b = _generate(str(tmp_path / "b"), 5)
    c = _generate(str(tmp_path / "c"), 6)
    assert a == b
    assert a != c


def test_raw_zone_has_the_dirty_cases():
    lines = [json.loads(x) for h in range(24) for x in gen.raw_hour_lines(3, h, gen.locations(3, 20))]
    params = {r["parameter"] for r in lines}
    assert "PM2.5" in params
    assert any("T99:" in r["datetime"] for r in lines)
    assert any(r["datetime"].endswith("+07:00") for r in lines)
    assert any(r["city"] is None for r in lines)
    keys = [(r["location_id"], r["datetime"], r["parameter"]) for r in lines]
    dup_share = 1 - len(set(keys)) / len(keys)
    assert 0.02 < dup_share < 0.08


def test_benchmark_json_is_generated_from_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec.benchmark_json()


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "aq_pipeline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.parametrize("workload", list(spec.WORKLOADS))
def test_every_metric_prints_with_its_unit(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "2",
         "--seconds", "2", "--trace", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    units = {**spec.REPORT_METRICS["common"], **spec.REPORT_METRICS[workload]}
    for name, unit in units.items():
        assert any(l.startswith(f"{workload} {name} ") and l.endswith(f" {unit}") for l in lines), name
    record = json.loads(next(l for l in lines if l.startswith('{"record"')))["record"]
    for name in units:
        value = record["report"][name]
        if name.endswith("_p90_s"):
            n = record["report"][name.replace("_p90_s", "_n")]
            assert (value is None) == (n < spec.P90_MIN_SAMPLES), (name, value, n)
        else:
            assert isinstance(value, (int, float)) and value == value, (name, value)
    assert all(v > 0 for v in record["contract"].values()), record["contract"]
    assert len(record["report"]["setup_runs_s"]) == spec.SIZES["tiny"]["setups"]
    assert set(spec.LAYER_METRICS) <= set(record["layers"]), set(spec.LAYER_METRICS) - set(record["layers"])
    assert set(record["contract"]) == {m["name"] for m in spec.END_TO_END}
    assert record["spans"] and {"name", "op", "parent", "start", "end"} == set(record["spans"][0])
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(spec.CONTRACT_LAYER_METRICS)
    for m in spec.CONTRACT_LAYER_METRICS:
        assert result["metrics"][m]["unit"] == spec.LAYER_METRICS[m][0]


def _registry():
    from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY, queries

    queries()
    return REGISTRY


def _failed(workload: str) -> list[str]:
    out, _, _, _ = bench.run_workload(workload, 4, 1.0, False, "tiny")
    assert out.attempted > 0
    return out.failures


def test_planted_wrong_dashboard_answer_is_a_failure(monkeypatch):
    real = aq_oracle.dashboards

    def planted(*a):
        return [
            (n, s, d.replace("COUNT(*) AS n", "COUNT(*) + 1 AS n")) for n, s, d in real(*a)
        ]

    monkeypatch.setattr(aq_oracle, "dashboards", planted)
    failures = _failed("aq_pipeline")
    assert failures and all("row_count" in f for f in failures)


def test_planted_wrong_oracles_are_failures_in_registry_mix(monkeypatch):
    registry = _registry()
    monkeypatch.setattr(workloads, "stratified_sample", lambda *a: ["rollup_orders"])
    monkeypatch.setattr(workloads, "STREAM_LEGS", ("streaming_dedup",))
    monkeypatch.setattr(registry["rollup_orders"], "oracle", "SELECT 1 AS wrong")
    monkeypatch.setattr(registry["streaming_dedup"], "oracle", "SELECT 1 AS wrong")
    failures = _failed("registry_mix")
    # The query is checked once, in the untimed pass; the leg on every run.
    assert sum(f.startswith("rollup_orders") for f in failures) == 1
    assert any(f.startswith("streaming_dedup") for f in failures)
    assert all(f.startswith(("rollup_orders", "streaming_dedup")) for f in failures)
