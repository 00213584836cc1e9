"""Smoke test of the benchmark: every workload at sf0.001, one timed pass,
untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own engine, so the four cases take a few minutes.
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

# spans each workload's traced run must contain, by layer
LAYER_SPANS = {
    "session": ("session.start", "session.catalog", "session.warmup"),
    "operators": ("operators.build",),
    "catalyst": ("catalyst.plan",),
    "exec": ("exec",),
    "hqlscript": ("hqlscript.rewrite",),
    "engine": ("engine.sql",),
    "plans": ("plans.cte_spool",),
}
# the script statements, the dml samples and the star writer run only here
ETL_ONLY_SPANS = ("hqlscript.stmt", "star.build")


def _run(workload: str, trace: int) -> tuple[dict, str]:
    seed = 7
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", "0",
            "--trace", str(trace),
            "--sf", "0.001",
            "--min-passes", "1",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    tag = f"{workload}-s{seed}-t{trace}"
    return result, os.path.join(ROOT, ".perfbench_out", tag)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload: str, trace: int) -> None:
    result, out = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0  # error_rate = failed / attempted = 0
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        for m in SPEC["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]
        return
    with open(out + ".spans.json") as f:
        names = {s["name"] for s in json.load(f)}
    for layer, spans in LAYER_SPANS.items():
        for span in spans:
            assert span in names, f"{layer}: no {span} span"
    if workload == "etl_hiveql":
        for span in ETL_ONLY_SPANS:
            assert span in names
        assert result["metrics"]["dml.files_written"]["value"] > 0
