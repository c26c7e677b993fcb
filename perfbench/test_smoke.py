"""Smoke test of the benchmark harness: every workload, untraced and traced,
at the tiny ``--size smoke`` (3,000 docs, one query cycle, 20-query
batches), with all output checks on. Takes a few minutes:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["build", "query_mixed", "query_batch"])
def test_smoke_run(workload: str, trace: int) -> None:
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    *_, detail_line, result_line = p.stdout.strip().splitlines()
    result = json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    detail = json.loads(detail_line)["perfbench"]
    assert detail["cores"] >= 1 and "idle_pct" in detail
    if trace:
        assert detail["absent_layers"] == []
        assert 0.0 <= result["metrics"]["trace.unattributed_frac"]["value"] <= 0.1
    if workload == "query_mixed":
        assert detail["class_mix"] == {"rare": 4, "hot": 4, "oov": 2, "exhaustive": 2}
    if workload == "query_batch":
        assert detail["batch_term_union"] > 0


def test_refuses_without_the_engine(tmp_path) -> None:
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "build", 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
