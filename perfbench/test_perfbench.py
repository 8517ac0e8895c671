"""Tests of the benchmark itself: every output check accepts a correct
result and rejects a corrupted one, every workload runs clean at its tiny
size (untraced and traced), and the command fails without the engine.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks  # noqa: E402

RESULT_COLUMNS = ["run_timestamp", "column_name", "column_type", "dimension_id", "drift_score",
                  "drift_severity", "drift_detected", "drift_causes", "metrics"]


def _row(column_type, name, detected):
    return {"column_type": column_type, "column_name": name, "dimension_id": "all", "drift_detected": detected}


DRIFT_ROWS = [
    _row("numerical", "price", True),
    _row("numerical", "qty", False),
    _row("categorical", "mode", True),
    _row("distribution", "qty", True),
]


def _drift(rows, columns=RESULT_COLUMNS):
    return checks.check_drift_results(columns, rows, RESULT_COLUMNS, ["price", "mode"], ["qty"])


def test_drift_results_accepts_correct_output():
    assert _drift(DRIFT_ROWS) == []


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rows, cols: ([dict(rows[0], drift_detected=False), *rows[1:]], cols),
        lambda rows, cols: ([r for r in rows if r["column_name"] != "mode"], cols),
        lambda rows, cols: ([rows[0], dict(rows[1], drift_detected=True), *rows[2:]], cols),
        lambda rows, cols: ([r for r in rows if r["column_name"] != "qty"], cols),
        lambda rows, cols: (rows, cols[:-1]),
    ],
    ids=["planted-numeric-unflagged", "planted-categorical-missing", "control-flagged",
         "control-missing", "schema-column-dropped"],
)
def test_drift_results_rejects_corruption(corrupt):
    rows, cols = corrupt(copy.deepcopy(DRIFT_ROWS), list(RESULT_COLUMNS))
    assert _drift(rows, cols)


PROFILE = {"a": {"n_rows": 10, "null_count": 1, "min": 0.5, "max": 9.0, "mean": 4.25}}


def test_merged_profile_accepts_equal_profiles():
    assert checks.check_merged_profile(copy.deepcopy(PROFILE), copy.deepcopy(PROFILE)) == []


@pytest.mark.parametrize("field,value", [("n_rows", 11), ("null_count", 0), ("min", 0.4), ("mean", 4.2500001)])
def test_merged_profile_rejects_corruption(field, value):
    merged = copy.deepcopy(PROFILE)
    merged["a"][field] = value
    assert checks.check_merged_profile(merged, PROFILE)


def test_merged_profile_rejects_missing_column():
    assert checks.check_merged_profile({}, PROFILE)


WINDOW = [
    {"column_name": "a", "drift_score": 0.1, "drift_detected": False},
    {"column_name": "b", "drift_score": 0.7, "drift_detected": True},
]


def test_window_result_accepts_scored_rows():
    assert checks.check_window_result(WINDOW, {"a", "b"}) == []


def test_window_result_rejects_corruption():
    assert checks.check_window_result(WINDOW[:1], {"a", "b"})
    assert checks.check_window_result([WINDOW[0], dict(WINDOW[1], drift_detected=None)], {"a", "b"})


# originals 0, 1 and 2 with two copies each: 3, 4 copy 0 and 5, 6 copy 1;
# original 2 is sampled without its copies
ORIGINALS, COPIES = 3, 2
DOCS = [0, 1, 2, 3, 4, 5, 6]
CLUSTERS = {0: 0, 3: 0, 4: 0, 1: 1, 5: 1, 6: 1}
SURVIVORS = [0, 1, 2]


def _dedup(docs=DOCS, clusters=CLUSTERS, survivors=SURVIVORS):
    return checks.check_dedup(docs, clusters, survivors, ORIGINALS, COPIES)


def test_dedup_accepts_correct_output():
    assert checks.family_of(4, ORIGINALS, COPIES) == 0
    assert _dedup() == []


def test_dedup_rejects_dropped_cluster_member():
    clusters = dict(CLUSTERS)
    del clusters[4]
    assert _dedup(clusters=clusters)


def test_dedup_rejects_split_family():
    assert _dedup(clusters={**CLUSTERS, 4: 4})


def test_dedup_rejects_merged_families():
    assert _dedup(clusters={**CLUSTERS, 1: 0, 5: 0, 6: 0})


def test_dedup_rejects_wrong_survivors():
    assert _dedup(survivors=[0, 1, 2, 3])
    assert _dedup(survivors=[0, 1])
    assert _dedup(survivors=[0, 0, 1, 2])


# -- the command ----------------------------------------------------------------


def _run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
                          text=True, timeout=600)


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", [w["name"] for w in _bench()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_runs_clean_at_tiny_size(workload, trace):
    proc = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"])
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = _bench()["per_layer" if trace else "end_to_end"]
    assert [m["name"] for m in wanted] == list(result["metrics"])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in metrics.values()), metrics
    elif workload == "incremental_windows":
        # the windowed path never scans a snapshot
        assert metrics["profile.s"] == 0 and metrics["correlation.s"] == 0
        assert metrics["mergeable.query_s"] > 0 and metrics["dedup.lsh_s"] > 0
        assert metrics["dedup.useful_ratio"] > 0
    else:
        assert metrics["correlation.pairs"] == 28
        assert metrics["categorical.cells"] > 0
        assert 0 < metrics["correlation.s"] < metrics["pipeline.s"]
        assert metrics["pipeline.jobs"] > 0


def test_command_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "tall_lineitem", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
