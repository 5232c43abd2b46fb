"""Multi-executor (separate-JVM) smoke: a representative query slice
must stay oracle-green under ``local-cluster``.

``local[N]`` threads executors inside the driver JVM and silently
forgives cluster-only bugs (unserializable closures, kernels assuming
the driver's module path / working dir, broadcast identity). This test
re-runs one query per kernel family on ``local-cluster[2,4,2048]`` —
real worker JVMs, serialized closures, cross-process shuffle and
broadcast, executor-spawned Python workers.

Runs in a SUBPROCESS because a second SparkContext cannot coexist with
the suite's session-scoped local[8] context in one Python process.
The full 180-query sweep is tools/run_cluster_parity.py (recorded in
BENCH_SCALING.md §14).
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one per kernel family: applyInPandas state machine + SDFITS scan,
# mapInPandas multimodal decode, pandas-UDAF aggregate, python-UDF +
# banded shuffle join, broadcast-join TPC-H core, and the two-pass
# dense-index builder (driver-coordinated counts + broadcast offsets)
REPRESENTATIVE = [
    "radio_segmentation_indices",
    "multimodal_wav_rms",
    "events_udaf_iqr_per_type",
    "minhash_lsh_pairs",
    "q5_region_revenue",
    "negative_samples_per_anchor",
]


def test_representative_queries_green_on_local_cluster():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "run_cluster_parity.py"),
         "--master", "local-cluster[2,4,2048]",
         "--names", *REPRESENTATIVE],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-25:])
    assert proc.returncode == 0, f"cluster-mode parity failed:\n{tail}"


def test_round6_library_paths_green_on_local_cluster():
    """Library paths no registered query exercises — the two-level
    semantic_dedup assignment and salted_sessionize — must also hold
    when closures serialize and Python workers run in separate
    executor JVMs."""
    proc = subprocess.run(
        [sys.executable,
         os.path.join(REPO, "tools", "run_cluster_library_check.py")],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-25:])
    assert proc.returncode == 0, f"cluster library check failed:\n{tail}"
    assert "all ok" in proc.stdout
