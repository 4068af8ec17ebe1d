"""The benchmark's own tests, run at a tiny row count through the real
command: every metric BENCHMARK.json names is printed with its unit on every
workload, a damaged chunk is reported as a failed operation, and the traced
replay's layer self times add up to the replay's wall.

    python3 -m pytest perfbench/tests -q

Each case starts Spark (about 30-60 s each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.run import per_layer_units  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

ROWS = "256"
SEED = 3

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(workload: str, *extra: str) -> tuple[list[str], dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--rows", ROWS, *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def assert_printed(lines: list[str], result: dict, specs: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        assert any(ln.startswith(f"metric {m['name']} ") and ln.endswith(f" {m['unit']}")
                   for ln in lines), m["name"]


def test_spec_lists_the_workloads_and_layers():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == per_layer_units()


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_every_end_to_end_metric_is_printed_with_its_unit(workload):
    lines, result = bench(workload)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert_printed(lines, result, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_a_corrupted_chunk_is_a_failed_operation_not_a_throughput():
    lines, result = bench("read_path", "--corrupt-chunk")
    assert result["correct"] is False
    assert result["failed"] >= 1
    # the full decode and the verify fail on every pass, so no cycle and no
    # median of those kinds exists to turn into a speed
    assert "cycle_vs_reference" not in result["metrics"]
    assert not any(ln.startswith(("detail tokens_per_s ", "detail decode_tokens_per_s "))
                   for ln in lines)
    assert any(ln.startswith("detail ops_failed_share ") and float(ln.split()[2]) > 0
               for ln in lines)


def _self_times(spans: list[dict]) -> tuple[float, float]:
    """(root span wall, summed self time of every non-root span)."""
    covered = [0.0] * len(spans)
    for s in spans:
        if s["parent"] >= 0:
            covered[s["parent"]] += s["end"] - s["start"]
    root = [s for s in spans if s["parent"] < 0]
    assert len(root) == 1
    layers = sum(s["end"] - s["start"] - c
                 for s, c in zip(spans, covered) if s["parent"] >= 0)
    return root[0]["end"] - root[0]["start"], layers


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_layer_self_times_add_up_to_the_replay_wall(workload):
    lines, result = bench(workload, "--trace", "1")
    assert result["correct"] is True
    assert_printed(lines, result, SPEC["per_layer"])
    path = os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed{SEED}.json")
    with open(path) as f:
        trace = json.load(f)
    wall, layers = _self_times(trace["spans"])
    assert wall > 0
    assert abs(layers - wall) <= 0.10 * wall
    assert result["metrics"]["trace.layer_share"]["value"] == pytest.approx(layers / wall)
    assert trace["native_codecs_executor"]
