"""The benchmark's own tests: the smoke mode runs every workload and
every check at tiny size in both trace modes, and the command refuses
to run without the package next to it.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_runs_every_workload_and_check(trace):
    out = run(ROOT, "--workload", "all", "--smoke", "--seed", "7",
              "--seconds", "1", "--trace", trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 3
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == declared("per_layer" if trace == "1" else "end_to_end")
    if trace == "0":
        return
    layers = {}
    for name in ("corpus_clean", "corpus_faulty", "sdfits_hires"):
        path = os.path.join(ROOT, ".perfbench", "traces",
                            f"{name}-seed7.layers.json")
        with open(path) as fh:
            layers[name] = json.load(fh)["counts"]
    clean, faulty = layers["corpus_clean"], layers["corpus_faulty"]
    assert clean["segmentation.python_streams"] == 0
    assert faulty["segmentation.python_streams"] \
        == faulty["segmentation.streams"] > 0
    assert faulty["fits.quarantined_files"] > 0
    assert faulty["validation.rows_out"] < faulty["validation.rows_in"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = run(str(tmp_path), "--workload", "sdfits_hires", "--seed", "1",
              "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout == ""
