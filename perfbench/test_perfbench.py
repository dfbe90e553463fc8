"""Self-test of the benchmark: every workload runs briefly at sf0.01, traced
and untraced, and must print every metric ``BENCHMARK.json`` names, with
its unit; a wrong expected digest must count as a failed operation.

    python3 -m pytest perfbench -q

Takes a few minutes: each run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(out: subprocess.CompletedProcess) -> dict:
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_prints_every_named_metric_with_its_unit(workload, trace):
    res = result(bench(workload, trace))
    assert res["correct"] is True and res["failed"] == 0, res
    assert res["attempted"] >= 1
    named = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in named
    }
    values = [v["value"] for v in res["metrics"].values()]
    assert all(isinstance(v, (int, float)) for v in values)
    if not trace:
        assert all(v > 0 for v in values), res["metrics"]


@pytest.fixture
def restored_environ():
    saved = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(saved)


def test_wrong_expected_digest_counts_as_failed(monkeypatch, capsys, restored_environ):
    sys.path[:0] = [str(HERE), str(ROOT)]
    import run
    import workloads

    first_pass = workloads.QueryWorkload.first_pass
    victim = workloads.PIPELINE_QUERIES[0]

    def first_pass_then_corrupt(self, spark, tracer, ledger):
        engine_s = first_pass(self, spark, tracer, ledger)
        n, h = self.expected[victim]
        self.expected[victim] = (n, h + 1)
        return engine_s

    monkeypatch.setattr(workloads.QueryWorkload, "first_pass", first_pass_then_corrupt)
    assert run.main(["--workload", "query_pipeline", "--seed", "3", "--seconds", "1",
                     "--trace", "0"]) == 0
    out = capsys.readouterr()
    res = json.loads(out.out.strip().splitlines()[-1])
    assert res["correct"] is False
    assert res["failed"] >= 1
    assert f"FAILED digest:{victim}" in out.err
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tmp", "out"))
    out = bench(WORKLOADS[0], 0, cwd=tmp_path)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
