"""Smoke test of the benchmark: every workload, traced and untraced, on
tiny inputs with every oracle check on. Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _java_pids() -> set[int]:
    pids = set()
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/cmdline", "rb") as f:
                    if b"org.apache.spark.deploy.SparkSubmit" in f.read():
                        pids.add(int(name))
            except OSError:
                pass
    return pids


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke(workload, trace):
    before = _java_pids()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = set(res["metrics"])
    if trace:
        # every traced run reports every per-layer metric
        assert names == {m["name"] for m in SPEC["per_layer"]}
    else:
        assert names == {m["name"] for m in SPEC["end_to_end"]}
        assert all(m["value"] > 0 for m in res["metrics"].values())
    assert not (_java_pids() - before), "a Spark JVM outlived the run"


def test_refuses_without_program(tmp_path):
    """Outside a checkout of the program it fails fast and prints no
    result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
        timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
