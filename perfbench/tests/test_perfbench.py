"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The unit tests run in about a second. The smoke tests run every
workload end to end at a tiny size (--seconds 2, 30-80 s each; the
optional turn_order_drain too) and check that the printed metric names
are exactly the ones BENCHMARK.json lists, and that a planted wrong
row fails the self-check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import common  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# ---------------------------------------------------------------------------
# self-check units
# ---------------------------------------------------------------------------


def _rows(n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": [f"c{i % 3}" for i in range(n)],
            "turn_idx": [i // 3 for i in range(n)],
            "role": ["user"] * n,
            "text": [f"t{i}" for i in range(n)],
            "batch_id": [i // 4 for i in range(n)],
        }
    )


def test_keyed_check_passes_identical_output():
    exp = _rows(12)
    assert W.compare_keyed(exp, exp.sample(frac=1, random_state=1), ["role", "text"]).failed == 0


def test_keyed_check_catches_planted_wrong_row():
    exp = _rows(12)
    out = exp.copy()
    out.loc[5, "text"] = "planted"
    res = W.compare_keyed(exp, out, ["role", "text"])
    assert (res.wrong, res.missing, res.extra) == (1, 0, 0)


def test_keyed_check_counts_missing_and_duplicate_rows():
    exp = _rows(12)
    out = pd.concat([exp.iloc[1:], exp.iloc[[3]]], ignore_index=True)
    res = W.compare_keyed(exp, out, ["role", "text"])
    assert (res.missing, res.extra, res.wrong) == (1, 1, 0)


def test_multiset_check_catches_planted_wrong_row():
    exp = [11, 22, 33, 33]
    assert W.compare_multiset(exp, [33, 11, 33, 22]).failed == 0
    res = W.compare_multiset(exp, [11, 22, 33, 34])
    assert (res.wrong, res.missing, res.extra) == (1, 0, 0)
    assert W.compare_multiset(exp, [11, 22, 33]).missing == 1


def test_order_check_flags_a_turn_emitted_before_its_predecessor():
    out = _rows(12)
    assert W.order_violations(out) == 0
    out.loc[out.index[-1], "batch_id"] = -1
    assert W.order_violations(out) == 1


def test_redact_upper_matches_the_stage_patterns():
    assert W.redact_upper("mail ana.lee@example.com now") == "MAIL [EMAIL] NOW"
    assert W.redact_upper("call +1 (555) 010-4477") == "CALL [PHONE]"
    assert W.redact_upper("plain [conv-00000012#3]") == "PLAIN [CONV-00000012#3]"


def test_percentile_interpolates():
    assert common.percentile([1, 2, 3, 4], 50) == 2.5
    assert common.percentile(list(range(1, 101)), 90) == pytest.approx(90.1)


def test_self_time_subtracts_merged_children():
    t = common.Tracer("r", True)
    root = t.add("root", 0.0, 10.0)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 5.0, root)  # overlaps a: covered is 1..5
    self_t = t.self_times()
    assert self_t["root"] == pytest.approx(6.0)
    assert self_t["a"] == pytest.approx(3.0)


def test_disabled_tracer_records_nothing():
    t = common.Tracer("r", False)
    with t.span("x"):
        pass
    assert t.add("y", 0, 1) is None
    assert t.spans == []


# ---------------------------------------------------------------------------
# end-to-end smoke runs
# ---------------------------------------------------------------------------


def _run(workload: str, trace: int, *extra: str) -> dict:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "1", "--seconds", "2", "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


NAMES = [w["name"] for w in SPEC["workloads"]]


@pytest.mark.parametrize("workload", NAMES + ["turn_order_drain"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_metric_names_match_benchmark_json(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in declared}


def test_smoke_planted_wrong_row_fails_the_check():
    res = _run("composite_drain", 0, "--plant-wrong-row")
    assert res["correct"] is False and res["failed"] >= 1


def test_refuses_to_run_without_the_package():
    """Copied alone, the benchmark exits non-zero and prints no result."""
    import shutil

    alone = os.path.join(common.WORK_DIR, "alone")
    shutil.rmtree(alone, ignore_errors=True)
    shutil.copytree(BENCH_DIR, os.path.join(alone, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
    cmd = SPEC["command"] + ["--workload", NAMES[0], "--seed", "1", "--seconds", "2", "--trace", "0"]
    try:
        proc = subprocess.run(cmd, cwd=alone, capture_output=True, text=True, timeout=170)
    finally:
        shutil.rmtree(alone, ignore_errors=True)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
