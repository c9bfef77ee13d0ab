"""Smoke test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs in both modes and must report every metric that
BENCHMARK.json names; a tampered output must fail its check; and without the
program next to it the benchmark must exit non-zero without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.workloads import (
    WORKLOADS,
    CheckFailed,
    Workload,
    build_input,
    check_anomaly_output,
    check_routed_output,
    run_once,
)

TINY = {name: Workload(w.name, w.kind, 24) for name, w in WORKLOADS.items()}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    session = run.start_session(work)
    yield session
    run.stop_session(session)


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(TINY))
def test_every_metric_reported(spark, spec, tmp_path, monkeypatch, name, trace):
    monkeypatch.setattr(run, "WARMUP_REPS", 1)
    metrics, attempted, failed, record = run.measure(
        spark, TINY[name], 7, 0.0, bool(trace), str(tmp_path)
    )
    assert failed == 0 and attempted >= 2
    wanted = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert wanted <= set(metrics), wanted - set(metrics)
    assert all(isinstance(metrics[m], (int, float)) for m in wanted)
    if trace:
        assert metrics["trace.unattributed_frac"] < 0.5
        run_span = [s for s in record["spans"] if s["name"] == "run"]
        assert run_span and all(s["end"] is not None for s in record["spans"])


def test_tampered_manifest_fails_the_check(spark, tmp_path):
    w = TINY["pages_web"]
    inp = build_input(spark, w, 3)
    out = str(tmp_path / "out")
    summary = run_once(spark, w, inp, out)
    assert summary["rows"] == inp.lines

    path = os.path.join(out, "routed", "_lineage_manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    sink = max(manifest["sinks"], key=manifest["sinks"].get)
    manifest["sinks"][sink] -= 1
    manifest["total_rows"] -= 1
    with open(path, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(CheckFailed):
        check_routed_output(out, inp.lines)
    inp.df.unpersist()


def test_anomaly_check_rejects_lost_rows():
    row = {"rows": 99, "flagged": 3, "unmatched": 0}
    with pytest.raises(CheckFailed):
        check_anomaly_output(row, 5, 100)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".*", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pages_web", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
