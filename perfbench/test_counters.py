"""The benchmark's own checks: its metric names match BENCHMARK.json, and the
counters of two traced runs at one seed repeat exactly.

From the root of a checkout (about 5 minutes):

    python3 -m pytest perfbench/test_counters.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

# counters that depend only on the inputs and the program, never on timing
DETERMINISTIC = ("jobs", "rows_out", "py_in_mb", "py_out_mb", "ckpt_mb")


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True, timeout=600,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert ({m["name"]: m["unit"] for m in bench["per_layer"]}
            == run.per_layer_units())


@pytest.mark.parametrize("workload", ["crawl_batch", "curate_pass"])
def test_counters_repeat_exactly(workload):
    first, second = _traced(workload, 3), _traced(workload, 3)
    assert first["correct"] and second["correct"]
    keys = [k for k in first["metrics"]
            if k.rsplit(".", 1)[1] in DETERMINISTIC]
    assert any(first["metrics"][k]["value"] for k in keys)
    differ = {k: (first["metrics"][k]["value"], second["metrics"][k]["value"])
              for k in keys
              if first["metrics"][k]["value"] != second["metrics"][k]["value"]}
    assert not differ
