"""Output checks: a corrupted output fails the run; no engine, no run."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd

from perfbench.workloads import frame_problems

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_frame_problems_sees_values_nulls_and_rows():
    want = pd.DataFrame({"k": [1, 2, 3], "x": [0.5, np.nan, 2.0], "s": ["a", None, "c"]})
    assert frame_problems(want.iloc[::-1], want, ["k"], "t") == []
    changed = want.assign(x=[0.5, np.nan, 2.0 + 1e-6])
    assert frame_problems(changed, want, ["k"], "t") == ["t: values differ in ['x']"]
    nulled = want.assign(s=["a", None, None])
    assert frame_problems(nulled, want, ["k"], "t") == ["t: values differ in ['s']"]
    assert frame_problems(want.iloc[:2], want, ["k"], "t") == ["t: 2 rows, expected 3"]


# Runs one curate_snapshot call whose committed data file is rewritten
# with one document's text changed (and its checksum sidecar dropped, so
# the read succeeds) before the checks read it back.
_CORRUPTING_RUN = """
import glob, os, sys
import pyarrow as pa
import pyarrow.parquet as pq
sys.path.insert(0, {root!r})
from perfbench import run, workloads

call = workloads.Curate.call

def corrupting_call(self, out):
    report = call(self, out)
    path = sorted(glob.glob(out + "/curated/data/*/*.parquet"))[0]
    table = pq.read_table(path).to_pandas()
    table.loc[0, "text"] = table.loc[0, "text"] + " corrupted"
    pq.write_table(pa.Table.from_pandas(table, preserve_index=False), path)
    os.remove(os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".crc"))
    return report

workloads.Curate.call = corrupting_call
sys.exit(run.main(["--workload", "curate_snapshot", "--seed", "3",
                   "--seconds", "0", "--trace", "0"]))
"""


def test_corrupted_output_is_reported_and_fails_the_run():
    proc = subprocess.run(
        [sys.executable, "-c", _CORRUPTING_RUN.format(root=ROOT)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 1, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["attempted"] == 1
    assert result["failed"] == 1
    assert "curated table (rows, checksum)" in proc.stderr


def test_without_the_engine_it_fails_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "featurize_wide",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
