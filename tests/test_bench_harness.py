"""bench.run_scaling without Spark: the scaling workers are replaced by a
fake ``subprocess.run`` that prints canned ``WORKER_RESULT`` lines, so
these tests check the harness arithmetic and argv, not the engine."""

import json
import subprocess
import types

import pytest

import bench

REP = 3
N2_SEC = [10.0, 9.0, 11.0]  # per pass, local[2]
N8_SEC = [3.0, 2.8, 2.5]  # per pass, local[8]


def _result(cpus: int, sec: float) -> str:
    return "WORKER_RESULT " + json.dumps(
        {
            "cpus": cpus,
            "replicate": REP,
            "pipeline_sec": sec,
            "pipeline_runs": [sec + 0.5, sec],
            "pages_per_sec": round(bench.N_PAGES * REP / sec, 1),
        }
    )


@pytest.fixture
def fake_workers(monkeypatch):
    """Run every scaling pass against canned results; record each argv."""
    calls = []
    secs = {2: iter(N2_SEC), 8: iter(N8_SEC)}

    def run(argv, **kwargs):
        calls.append(list(argv))
        cpus = int(argv[-1])
        out = "worker log line\n" + _result(cpus, next(secs[cpus])) + "\n"
        return types.SimpleNamespace(stdout=out, stderr="", returncode=0)

    monkeypatch.setenv("SPARK_GRAFT_SCALING_PASSES", str(len(N2_SEC)))
    monkeypatch.setattr(subprocess, "run", run)
    return calls


def test_eff_is_ratio_of_per_level_minima(fake_workers):
    compact, detail = bench.run_scaling()
    assert compact["eff_2_to_8"] == round((min(N2_SEC) / min(N8_SEC)) / 4.0, 3)
    assert compact["pps_n2"] == round(bench.N_PAGES * REP / min(N2_SEC), 1)
    assert compact["pps_n8"] == round(bench.N_PAGES * REP / min(N8_SEC), 1)
    assert sorted(detail) == ["pass0", "pass1", "pass2"]


def test_effs_holds_one_value_per_pass(fake_workers):
    compact, _ = bench.run_scaling()
    assert len(compact["effs"]) == len(N2_SEC)
    for eff, n2, n8 in zip(compact["effs"], N2_SEC, N8_SEC):
        assert eff == pytest.approx((n2 / n8) / 4.0, abs=1e-3)


def test_worker_without_result_returns_its_stderr(monkeypatch):
    def run(argv, **kwargs):
        return types.SimpleNamespace(stdout="no result here\n", stderr="java.lang.OutOfMemoryError", returncode=1)

    monkeypatch.setattr(subprocess, "run", run)
    compact, detail = bench.run_scaling()
    assert compact is None
    assert "OutOfMemoryError" in detail["pass0_worker_2_stderr"]


def test_pinning_follows_taskset_availability(fake_workers, monkeypatch):
    monkeypatch.setattr(bench.shutil, "which", lambda name: None)
    bench.run_scaling()
    assert fake_workers and all("taskset" not in argv for argv in fake_workers)
    assert all(argv[-2:] == ["--scaling-worker", argv[-1]] for argv in fake_workers)


def test_pinned_argv_confines_each_level_to_its_core_count(fake_workers, monkeypatch):
    monkeypatch.setattr(bench.shutil, "which", lambda name: "/usr/bin/taskset")
    monkeypatch.setattr(bench.os, "cpu_count", lambda: 32)
    bench.run_scaling()
    pins = {int(argv[-1]): argv[:3] for argv in fake_workers}
    assert pins == {2: ["taskset", "-c", "30-31"], 8: ["taskset", "-c", "24-31"]}
