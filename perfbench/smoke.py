"""Smoke test for the benchmark at sf0.01 (60k docs), a few minutes:

    python -m pytest perfbench/smoke.py -q

Every workload runs without an error or a wrong answer and prints every
metric BENCHMARK.json names, with its unit; the traced runs show the layer
relations the workloads are built around; and the seed changes the inputs
but not their schema.  The file name keeps it out of a plain ``pytest`` run,
which it would slow by minutes of Spark sessions; name it to run it.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import inputs  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = sorted(run.SIZES)


def _bench(workload: str, trace: int, seed: int = 1) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
         "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    *_, describe, result = out.stdout.strip().splitlines()
    return json.loads(describe)["perfbench"], json.loads(result)


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_is_correct_and_prints_every_metric(workload):
    describe, result = _bench(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert describe["error_rate"] == 0
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _units("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_range_join_layers():
    """No row crosses into Python, and the pipeline only narrows:
    candidates >= rows into the dedup >= result rows."""
    _, result = _bench("range_join", trace=1)
    assert result["correct"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == set(_units("per_layer"))
    assert m["refine.arrow_rows"] == 0
    assert m["probe.candidates"] >= m["merge.pre_dedup_rows"] >= m["merge.result_rows"] > 0


def test_traced_pip_join_refines_in_python():
    _, result = _bench("pip_join", trace=1)
    assert result["correct"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["refine.arrow_rows"] > 0
    assert m["refine.kernel_ms_per_mrow"] > 0


@pytest.mark.parametrize("workload, measured, unmeasured", [
    ("stream_window", ["route.broadcast_mb", "driver.jobs_per_op", "stream.trigger_s_p50"],
     ["upsert.files_rewritten", "probe.candidates"]),
    ("landed_upsert", ["upsert.files_rewritten", "landed.files_scanned", "driver.jobs_per_op"],
     ["stream.trigger_s_p50", "refine.kernel_ms_per_mrow"]),
])
def test_traced_layers_measured_or_zero(workload, measured, unmeasured):
    """Layers a workload runs through are measured; the others read 0."""
    _, result = _bench(workload, trace=1)
    assert result["correct"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(m[k] > 0 for k in measured), {k: m[k] for k in measured}
    assert all(m[k] == 0.0 for k in unmeasured)


def _workload_inputs(seed: int) -> dict[str, pd.DataFrame]:
    """The first op's inputs of each workload, as frames."""
    points = inputs.derived_points(10_000)
    polys = inputs.polygon_batch(points, inputs.rng(seed, inputs.POLY), 5, 0)
    return {
        "rects": inputs.rect_batch(points, inputs.rng(seed, inputs.RANGE), 20, 0),
        "polygons": pd.DataFrame(
            [(q, v[:, 0].tolist(), v[:, 1].tolist()) for q, v in polys],
            columns=["query_id", "vx", "vy"]),
        "stream_chunk": inputs.stream_chunk(points, inputs.rng(seed, inputs.STREAM), 0, 50),
        "moved": inputs.moved_batch(points.x, points.y, inputs.rng(seed, inputs.MOVE),
                                    np.arange(len(points)), 30, 30.0),
    }


def test_seed_changes_inputs_not_schema():
    one, again, two = _workload_inputs(1), _workload_inputs(1), _workload_inputs(2)
    for name in one:
        assert one[name].equals(again[name]), name
        assert list(one[name].dtypes.items()) == list(two[name].dtypes.items()), name
        assert not one[name].equals(two[name]), name
