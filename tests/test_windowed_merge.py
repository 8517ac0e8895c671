"""Window-vs-window drift from state tables: both windows of a numeric
merge come from one conditional aggregate (``mergeable.windowed_profiles``),
and small categorical cells take top-k membership from the totals window.

The state is written to parquet as one file per table, so every merge sums
the same rows in the same order and the profile columns can be compared
bit for bit. KLL merges are randomized, so quantiles are only checked
against exact rank bands.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.functions.lifetime import owned_run
from pyspark_data_drift_detector_spark.operators import frequency
from pyspark_data_drift_detector_spark.operators.categorical_drift import (
    categorical_drift_from_cells,
)
from pyspark_data_drift_detector_spark.operators.mergeable import (
    merge_profiles,
    merged_categorical_drift,
    merged_drift,
    merged_group_drift,
    partitioned_categories,
    partitioned_group_profile,
    partitioned_profile,
    partitioned_quantiles,
    windowed_profiles,
)
from pyspark_data_drift_detector_spark.pipeline import detect_drift_incremental
from pyspark_data_drift_detector_spark.plans.inspect import simple_plan

PROFILE_COLS = ("n_rows", "n", "null_count", "null_ratio", "min", "max", "mean", "stddev")
# partition ids, two of them with characters that must be quoted in SQL
IDS = ["d0", "d1", "it's", "back\\slash"]
WINDOWS = {
    "column_in_one_window": (IDS[:2], IDS[2:]),
    "shared_and_quoted_partition": ([IDS[1], IDS[2]], [IDS[2], IDS[3]]),
    "empty_ref": ([], IDS),
    "empty_curr": ([IDS[0]], []),
}


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    """Raw rows plus profile, KLL and category state over four partitions.
    ``x`` is in every partition's state, ``y`` only in d0/d1's and ``z``
    only in the other two's."""
    rows = [
        (
            IDS[i % 4],
            float((i * 37) % 101) if i % 13 else None,
            float(i % 7),
            i * 0.5,
            ["a", "b", "c", None][(i // 4) % 4] if IDS[i % 4] != "d1" else "b",
        )
        for i in range(800)
    ]
    raw = spark.createDataFrame(rows, "pid string, x double, y double, z double, k string")
    first = raw.where(F.col("pid").isin(IDS[:2]))
    second = raw.where(~F.col("pid").isin(IDS[:2]))
    tables = {
        "profile": partitioned_profile(first, ["x", "y"], "pid").unionByName(
            partitioned_profile(second, ["x", "z"], "pid")
        ),
        "kll": partitioned_quantiles(first, ["x", "y"], "pid").unionByName(
            partitioned_quantiles(second, ["x", "z"], "pid")
        ),
        "cats": partitioned_categories(raw, ["k"], "pid"),
    }
    out = tmp_path_factory.mktemp("window_state")
    for name, df in tables.items():
        df.coalesce(1).write.parquet(str(out / name))
    return raw, *(spark.read.parquet(str(out / name)) for name in tables)


@pytest.mark.parametrize("ref,curr", WINDOWS.values(), ids=WINDOWS.keys())
def test_windowed_profiles_match_per_window_merge(state, ref, curr):
    raw, prof, kll, _ = state
    got = {
        r["column_name"]: r
        for r in windowed_profiles(prof, ref, curr, quantile_parts=kll).collect()
    }
    sides = {"ref": ref, "curr": curr}
    want = {
        pre: {
            r["column_name"]: r
            for r in merge_profiles(prof.where(F.col("partition_id").isin(pids))).collect()
        }
        for pre, pids in sides.items()
    }
    assert set(got) == set(want["ref"]) | set(want["curr"])
    for c, row in got.items():
        for pre, pids in sides.items():
            side = want[pre].get(c)
            for f in PROFILE_COLS:
                # bit-identical to merging the window on its own
                assert row[f"{pre}_{f}"] == (side[f] if side else None), (c, pre, f)
            quartiles = [row[f"{pre}_p{p}"] for p in (25, 50, 75)]
            if side is None:
                assert quartiles == [None] * 3, (c, pre)
                continue
            band = ", ".join(
                f"{max(p - 0.015, 0.0)}D, {min(p + 0.015, 1.0)}D" for p in (0.25, 0.5, 0.75)
            )
            bands = (
                raw.where(F.col("pid").isin(pids))
                .selectExpr(f"percentile({c}, array({band}))")
                .first()[0]
            )
            for i, est in enumerate(quartiles):
                assert bands[2 * i] <= est <= bands[2 * i + 1], (c, pre, i, est, bands)


def test_windowed_profiles_edges(state):
    _, prof, kll, _ = state
    assert windowed_profiles(prof, [], [], quantile_parts=kll).count() == 0
    # without KLL state the quartiles are NULL placeholders
    rows = windowed_profiles(prof, IDS[:2], IDS[2:]).collect()
    assert rows and all(
        r[f"{pre}_p{p}"] is None for r in rows for pre in ("ref", "curr") for p in (25, 50, 75)
    )
    # KLL rows for a key with no profile rows in either window do not
    # create a key; a side without sketch rows gets NULL quartiles
    got = {
        r["column_name"]: r
        for r in windowed_profiles(
            prof.where("column_name = 'x'"),
            IDS[:2],
            IDS[2:],
            quantile_parts=kll.where("partition_id = 'd0'"),
        ).collect()
    }
    assert set(got) == {"x"}
    assert got["x"]["ref_p50"] is not None and got["x"]["curr_p50"] is None
    assert got["x"]["curr_n"] is not None


def test_merged_drift_scores_one_sided_columns(state):
    _, prof, kll, _ = state
    out = {
        r["column_name"]: r
        for r in merged_drift(prof, IDS[:2], IDS[2:], quantile_parts=kll).collect()
    }
    assert set(out) == {"x", "y", "z"}
    assert out["y"]["curr_n"] is None and out["z"]["ref_n"] is None
    assert all(r["drift_score"] is not None for r in out.values())


def test_detect_drift_incremental_leaves_no_cache(spark, state):
    _, prof, kll, cats = state
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for ref, curr in (WINDOWS["column_in_one_window"], WINDOWS["shared_and_quoted_partition"]):
        rows = detect_drift_incremental(prof, cats, ref, curr, quantile_state=kll).collect()
        assert "k" in {r["column_name"] for r in rows}
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize(
    "ref,curr", [([], ["d1"]), (["absent"], IDS[:2])], ids=["no_partitions", "absent_partition"]
)
def test_detect_drift_incremental_scores_an_empty_side(state, ref, curr):
    """A window with no state rows has NULL null ratios, not a division by
    zero; the null term scores 0 and every curr category is new."""
    _, prof, kll, cats = state
    rows = {
        r["column_name"]: r
        for r in detect_drift_incremental(prof, cats, ref, curr, quantile_state=kll).collect()
    }
    assert rows["k"]["drift_detected"] and rows["k"]["drift_score"] is not None
    (k,) = merged_categorical_drift(cats, ref, curr).collect()
    assert k["ref_null_ratio"] is None and k["null_diff"] is None
    assert k["curr_null_ratio"] is not None and "new_categories" in k["drift_causes"]


def test_merged_categorical_drift_above_salt_gate_releases_cells(spark, state, monkeypatch):
    """Above the salt gate the cells have three readers and are cached for
    the call; the result is a local relation and the cache is released
    (nothing stays persisted), and the scores match the one-plan path
    below the gate."""
    _, _, _, cats = state
    ref, curr = WINDOWS["shared_and_quoted_partition"]

    def rows(df):
        return {r["column_name"]: r.asDict() for r in df.collect()}

    small = rows(merged_categorical_drift(cats, ref, curr))
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    monkeypatch.setattr(frequency, "SALT_SIZE_THRESHOLD_BYTES", -1)
    salted = rows(merged_categorical_drift(cats, ref, curr))
    assert persistent().size() == before
    assert small.keys() == salted.keys() == {"k"}
    for f, v in small["k"].items():
        if isinstance(v, float):
            assert v == pytest.approx(salted["k"][f], abs=1e-12), f
        else:
            assert v == salted["k"][f], f


def test_merged_group_drift_scores_null_group_once(spark):
    """Rows whose group column is NULL form one group: one scored row per
    column, each side equal to merging that window's NULL-group state."""
    rows = [(f"p{i % 2}", ["east", None][i % 3 == 0], float(i % 11)) for i in range(120)]
    raw = spark.createDataFrame(rows, "pid string, region string, v double")
    parts = partitioned_group_profile(raw, ["v"], "pid", "region")
    drift = merged_group_drift(parts, ["p0"], ["p1"])
    out = drift.where("group_value IS NULL").collect()
    assert len(out) == 1 and out[0]["drift_score"] is not None
    for pre, pid in (("ref", "p0"), ("curr", "p1")):
        (want,) = merge_profiles(
            parts.where(f"partition_id = '{pid}' AND group_value IS NULL"),
            keys=("group_value", "column_name"),
        ).collect()
        assert out[0][f"{pre}_n"] == want["n"] and out[0][f"{pre}_mean"] == want["mean"], pre


def test_categorical_window_membership_matches_cutoff_path(spark, monkeypatch):
    """Small cells take top-k membership from row_number() in the totals
    window; large ones from the salted cutoff join. Both must agree,
    including count ties, NULL category rows (never members, never
    ranked) and zero counts."""
    cells = spark.createDataFrame(
        [
            ("a", "v1", 5, 0), ("a", "v2", 5, 4), ("a", "v3", 3, 4), ("a", "v4", 3, 4),
            ("a", "v5", 0, 1), ("a", None, 9, 9),
            ("b", "only", 2, 3), ("b", None, 1, 0),
            ("c", None, 4, 4),
        ],
        "column_name string, value string, ref_cnt bigint, curr_cnt bigint",
    )

    def run(salted: bool):
        # pin the size gate: a local frame's estimate is not its size
        monkeypatch.setattr(frequency, "_should_salt", lambda df: salted)
        with owned_run():  # keeps the salted result lazy, so its plan can be read
            df = categorical_drift_from_cells(cells, top_k=2)
            return simple_plan(df), {r["column_name"]: r.asDict() for r in df.collect()}

    small_plan, small = run(False)
    salted_plan, salted = run(True)
    assert "BroadcastExchange" not in small_plan and "BroadcastExchange" in salted_plan
    assert small.keys() == salted.keys() == {"a", "b", "c"}
    for c, row in small.items():
        for f, v in row.items():
            if isinstance(v, float):
                assert v == pytest.approx(salted[c][f], abs=1e-12), (c, f)
            else:
                assert v == salted[c][f], (c, f)
    # v2 leads both sides; v1 (ref) and v3 (curr, tie broken by value)
    # complete the top 2, so one category is new and one is missing
    assert small["a"]["new_categories"] == 1 and small["a"]["missing_categories"] == 1
