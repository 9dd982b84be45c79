"""The benchmark's own tests: helpers, reference semantics, and the
tiny-scale smoke mode of the real command (starts Spark; ~5 minutes)."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import reference as R  # noqa: E402
from perfbench.run import pct, tail_mean, tail_percentile  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*args, cwd=ROOT, timeout=900):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in (21, 22, 32, 45, 100):
        p = tail_percentile(n)
        xs = list(range(n))
        assert sum(x > pct(xs, p) for x in xs) >= 10
        assert p % 5 == 0 and p > 100 * (n - 11) / (n - 1) - 5


def test_tail_mean_averages_the_samples_beyond_the_percentile():
    xs = [1.0] * 6 + [3.0, 5.0]
    assert tail_mean(xs, 75) == 4.0          # the cut falls between the clusters
    assert tail_mean(xs, 50) == 1.75
    assert tail_mean([2.0], 90) == 2.0


def test_reference_flox_semantics():
    pdf = pd.DataFrame({"idx": np.arange(6), "g": [0, 0, 0, 1, 1, np.nan],
                        "v": [1.0, np.nan, 3.0, 2.0, 5.0, 7.0]})
    assert R.reduce_ref(pdf, ["g"], "nansum", "v").tolist() == [4.0, 7.0]
    assert np.isnan(R.reduce_ref(pdf, ["g"], "sum", "v")[0])
    assert R.reduce_ref(pdf, ["g"], "count", "v").tolist() == [2, 2]
    assert R.reduce_ref(pdf, ["g"], "len", "v").tolist() == [3, 2]
    assert R.reduce_ref(pdf, ["g"], "argmax", "v").tolist() == [1, 4]     # first NaN wins
    assert R.reduce_ref(pdf, ["g"], "nanargmax", "v").tolist() == [2, 4]
    assert R.reduce_ref(pdf, ["g"], "nunique", "v").tolist() == [3, 2]    # NaN counts once
    got = R.scan_ref(pdf.fillna({"g": -1}), "g", "cumsum", "v", "idx")
    assert np.isnan(got[1]) and np.isnan(got[2]) and got[4] == 7.0


def test_compare_reports_differences():
    a = pd.DataFrame({"k": [1, 2], "x": [1.0, np.nan]})
    assert R.compare(a, a.copy(), ["k"], ["x"]) is None
    assert R.compare(a, a.assign(x=[1.0, 2.0]), ["k"], ["x"]) is not None


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_workload(trace):
    proc = run("--workload", "all", "--smoke", "--trace", str(trace))
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    names = [m["name"] for m in BENCH["per_layer" if trace else "end_to_end"]]
    for w in BENCH["workloads"]:
        for name in names:
            assert f"{w['name']}.{name}" in res["metrics"]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run("--workload", "reduce_small", "--seed", "1", "--seconds", "1", "--trace", "0",
               cwd=tmp_path, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
