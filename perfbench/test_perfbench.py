"""The benchmark's own tests.

    python -m pytest perfbench -q            # about 6 minutes: every workload
                                             # at smoke size, untraced, traced
                                             # and with a corrupted output

Each run goes through ``perfbench/run.py`` in a subprocess from the checkout
root, exactly as the benchmark is invoked.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from checks import compare_features, same_float  # noqa: E402
from tracing import Tracer  # noqa: E402

WORKLOADS = ["tokens_extract", "long_grouped_extract", "rollup_cascade"]
# the layers each workload calls, whose per-layer metrics must be non-zero
EXERCISED = {
    "tokens_extract": ("sources.", "kernels.ms_per_series", "extract.", "plans.task_s",
                       "plans.stages", "plans.speedup_1core"),
    "long_grouped_extract": ("sources.", "kernels.ms_per_series", "extract.", "plans.task_s",
                             "plans.shuffle_bytes"),
    "rollup_cascade": ("sources.", "kernels.ms_per_series", "codec.", "rollup.",
                       "manifest.", "plans.task_s", "plans.shuffle_bytes"),
}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str], str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines(), proc.stderr


def smoke(workload: str, trace: int, *extra: str, seconds: str = "1") -> dict:
    rc, lines, err = bench("--workload", workload, "--seed", "3", "--seconds", seconds,
                           "--trace", str(trace), "--size", "smoke", *extra)
    assert rc == 0, err[-2000:]
    return json.loads(lines[-1])


def assert_reported(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert math.isfinite(got["value"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_end_to_end_metric(workload):
    result = smoke(workload, 0)
    assert_reported(result, spec()["end_to_end"])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_smoke_prints_every_per_layer_metric(workload):
    result = smoke(workload, 1)
    assert_reported(result, spec()["per_layer"])
    assert result["correct"]
    for name, m in result["metrics"].items():
        if name.startswith(EXERCISED[workload]):
            assert m["value"] > 0, name


def test_traced_rollup_run_may_end_on_an_untraced_job():
    # jobs 0 and 2 untraced, job 1 traced: job 2 removes job 1's tiers from
    # disk before the probes run
    result = smoke("rollup_cascade", 1, "--min-jobs", "3", seconds="0")
    assert_reported(result, spec()["per_layer"])
    assert result["correct"] and result["attempted"] == 4
    for name, m in result["metrics"].items():
        if name.startswith(EXERCISED["rollup_cascade"]):
            assert m["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_is_counted_as_failed(workload):
    result = smoke(workload, 0, "--corrupt-job", "0")
    assert not result["correct"]
    assert result["failed"] == 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines, _ = bench("--workload", "tokens_extract", "--seed", "1", "--seconds", "1",
                         cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith("{") for line in lines)


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    selfs = tr.self_times()
    assert inner["parent"] == outer["id"]
    assert selfs[outer["id"]] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )
    assert selfs[inner["id"]] == pytest.approx(inner["end"] - inner["start"])


def test_feature_comparison_is_bitwise_with_nan_equal():
    assert same_float(float("nan"), None)
    assert not same_float(0.0, -0.0)
    assert not same_float(1.0, 1.0 + 2**-52)
    assert compare_features("s", {"a": 1.0, "b": None}, {"a": 1.0, "b": float("nan")}) == []
    assert compare_features("s", {"a": 2.0}, {"a": 1.0})
    assert compare_features("s", {"a": 1.0}, {"a": 1.0, "b": 1.0})
