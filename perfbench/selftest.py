"""Benchmark self-test at tiny scale.

    python3 perfbench/selftest.py

From the root of a source checkout, runs every workload end to end on
small inputs (1,000-row days; the star mix keeps its sf0.01 tables) and
asserts that:

- ``BENCHMARK.json`` names exactly the metrics and units the code prints;
- an untraced run is correct and prints every end-to-end metric, each
  with its unit and a value above 0;
- a traced run prints every per-layer metric with its unit;
- a planted wrong answer fails the workload's output check;
- with no program next to it, the benchmark exits non-zero and prints
  no result.

Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.common import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("retail_daily_etl", "star_query_mix")


def _run(*extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
         "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if proc.returncode == 0 and result is None:
        raise AssertionError(f"no result line:\n{proc.stderr[-2000:]}")
    return proc.returncode, result


def _units(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def check_manifest() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    assert [w["name"] for w in manifest["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in manifest["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in manifest["per_layer"]} == PER_LAYER


def check_workload(workload: str) -> None:
    rc, res = _run("--workload", workload, "--trace", "0")
    assert rc == 0 and res["correct"] and res["failed"] == 0, res
    assert _units(res) == END_TO_END, res
    assert all(v["value"] > 0 for v in res["metrics"].values()), res

    rc, res = _run("--workload", workload, "--trace", "1")
    assert rc == 0 and res["correct"], res
    assert _units(res) == PER_LAYER, res
    layer = {k: v["value"] for k, v in res["metrics"].items()}
    assert layer["trace.overhead_frac"] > 0, layer
    if workload == "retail_daily_etl":
        # the four DAG spans cover the day, up to what tracing itself costs
        assert layer["trace.unattributed_frac"] <= layer["trace.overhead_frac"], layer

    rc, res = _run("--workload", workload, "--trace", "0", "--plant-fault")
    assert rc == 0 and not res["correct"] and res["failed"] >= 1, res
    print(f"ok {workload}", flush=True)


def check_no_program() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, res = _run("--workload", WORKLOADS[0], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and res is None, (rc, res)
    print("ok no-program exit", flush=True)


def main() -> int:
    check_manifest()
    check_no_program()
    for workload in WORKLOADS:
        check_workload(workload)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
