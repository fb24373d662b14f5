"""Smoke runs of the harness: each workload on a two-query list, plus one
traced run, must exit 0 and print a well-formed result as the last line.

Each case starts its own Spark JVM, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
RUN = HERE.parent / "run.py"
sys.path.insert(0, str(HERE.parent))

SMOKE = {
    "analytics": "pricing_summary,range_event_pairs",
    "curation": "ml_pred_sql,source_csv_roundtrip",
}


def _bench() -> dict:
    return json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--queries", SMOKE[workload]],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] == 2
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-4000:]
    return result


@pytest.mark.parametrize("workload", sorted(SMOKE))
def test_workload_smoke(workload):
    metrics = _run(workload, trace=0)["metrics"]
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert all(v["value"] > 0 for v in metrics.values())


def test_traced_smoke():
    metrics = _run("analytics", trace=1)["metrics"]
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert metrics["sched.jobs.cold"]["value"] >= 2
    assert metrics["exec.run_s.cold"]["value"] > 0
    assert metrics["scan.mb.cold"]["value"] > 0


def test_missing_engine_exits_nonzero(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in ("run.py", "gen.py", "eventlog.py", "workloads.py"):
        (tmp_path / "perfbench" / f).write_text((HERE.parent / f).read_text())
    proc = subprocess.run(
        [sys.executable, str(tmp_path / "perfbench" / "run.py"), "--workload", "analytics",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=120, cwd=tmp_path,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
