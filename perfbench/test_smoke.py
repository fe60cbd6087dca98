"""Smoke test of the benchmark at a tiny input size.

Run from the root of a checkout (a few minutes; it starts four Spark
sessions):

    python -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run as bench  # noqa: E402
import tracing  # noqa: E402

SCALE = "0.05"


def _run(workload: str, trace: int) -> tuple[dict, dict[str, str]]:
    """Run the benchmark; return the result line and the printed
    ``name value unit`` lines as name → unit."""
    proc = subprocess.run(
        [
            sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
            "--seconds", "0", "--trace", str(trace), "--scale", SCALE,
        ],
        cwd=bench.ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    printed = {}
    for line in lines:
        parts = line.split()
        if len(parts) == 3:
            printed[parts[0]] = parts[2]
    return result, printed


@pytest.mark.parametrize("workload", sorted(bench.WORKLOAD_TYPES))
def test_end_to_end_metrics_printed_with_units(workload):
    result, printed = _run(workload, trace=0)
    assert result["correct"] and result["failed"] == 0, result
    assert set(result["metrics"]) == set(bench.END_TO_END)
    want = {**bench.END_TO_END, "ops_failed_ratio": "ratio"}
    if workload == "cdc_churn":
        want.update({"insert_fold_s": "s", "delete_fold_s": "s", "cdc_turns_per_s": "1/s"})
    for name, unit in want.items():
        assert printed.get(name) == unit, name
    for name, m in result["metrics"].items():
        assert m["unit"] == bench.END_TO_END[name] and m["value"] > 0, name


def test_traced_layers_printed_and_stage_spans_cover_job():
    result, printed = _run("kg_job_narrow", trace=1)
    assert result["correct"], result
    metrics = result["metrics"]
    for layer in tracing.LAYERS:
        for key, unit in tracing.LAYER_UNITS.items():
            assert metrics[f"{layer}.{key}"]["unit"] == unit
            assert printed[f"{layer}.{key}"] == unit
    for name, unit in tracing.EXTRA_UNITS.items():
        assert metrics[name]["unit"] == unit
    assert metrics["trace.span_coverage"]["value"] > 0.8
    for layer in ("assemble", "chunk", "extract", "parse", "claims", "checkpoint", "io"):
        assert metrics[f"{layer}.jobs"]["value"] > 0, layer


def _drop_first_row(table_dir: Path) -> None:
    for name in sorted(os.listdir(table_dir)):
        if name.endswith(".parquet"):
            t = pq.read_table(table_dir / name)
            if t.num_rows:
                pq.write_table(t.slice(1), table_dir / name)
                return
    raise AssertionError(f"no rows under {table_dir}")


def test_job_check_fails_on_corrupted_table(tmp_path):
    host = bench.Host()
    bench.configure(host, tmp_path)
    workload = bench.JobWorkload(tmp_path, seed=7, scale=float(SCALE))
    spark = bench.start_session(host, tmp_path)
    try:
        workload.make_inputs()
        result = workload.operate(spark, 0, None)
        assert workload.check(result) == []
        _drop_first_row(result["out"] / "edges")
        assert any(p.startswith("edges") for p in workload.check(result))
    finally:
        bench.stop_session(spark)
