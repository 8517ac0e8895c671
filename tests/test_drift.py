"""Drift-metric tests: identical inputs ⇒ no drift; seeded drift is caught.

Mirrors the reference's example.py drift scenario (SURVEY §5, FIXTURES §A).
"""

import random

import pytest

from pyspark_data_drift_detector_spark.operators.categorical_drift import categorical_drift
from pyspark_data_drift_detector_spark.operators.numeric_drift import numeric_drift
from pyspark_data_drift_detector_spark.operators.profile import numeric_profile


def _make_version(spark, seed, mean, std, cats, null_rate, n=2000):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        num = rng.gauss(mean, std)
        cat = rng.choices(list(cats), weights=list(cats.values()))[0]
        nullable = None if rng.random() < null_rate else float(rng.randint(1, 100))
        rows.append((i, num, cat, nullable))
    return spark.createDataFrame(rows, "id long, numeric_normal double, category string, null_col double")


@pytest.fixture(scope="module")
def v1(spark):
    return _make_version(spark, 1, 100, 15, {"X": 0.7, "Y": 0.2, "Z": 0.1}, 0.10).cache()


@pytest.fixture(scope="module")
def v3(spark):
    # example.py v3: strong numeric drift + category swap + null drift
    return _make_version(spark, 3, 120, 25, {"X": 0.4, "Y": 0.4, "W": 0.2}, 0.25).cache()


def test_identical_inputs_no_drift(spark, v1):
    prof = numeric_profile(v1, quantiles=(0.25, 0.5, 0.75))
    drift = numeric_drift(prof, prof)
    for row in drift.collect():
        assert row["drift_score"] == pytest.approx(0.0)
        assert not row["drift_detected"]
        assert row["drift_severity"] == "None"


def test_identical_categorical_no_drift(spark, v1):
    drift = categorical_drift(v1, v1, ["category"]).collect()[0]
    assert drift["js_distance"] == pytest.approx(0.0)
    assert drift["drift_score"] == pytest.approx(0.0)
    assert not drift["drift_detected"]


def test_strong_numeric_drift_detected(spark, v1, v3):
    ref = numeric_profile(v1, columns=["numeric_normal", "null_col"], quantiles=(0.25, 0.5, 0.75))
    curr = numeric_profile(v3, columns=["numeric_normal", "null_col"], quantiles=(0.25, 0.5, 0.75))
    drift = {r["column_name"]: r for r in numeric_drift(ref, curr).collect()}
    nn = drift["numeric_normal"]
    assert nn["drift_detected"]
    assert "mean" in nn["drift_causes"]
    assert nn["mean_relative_diff"] == pytest.approx(0.2, abs=0.05)
    nc = drift["null_col"]
    # null rate 0.10 → 0.25
    assert "null_proportion" in nc["drift_causes"]
    assert nc["null_diff"] == pytest.approx(0.15, abs=0.05)


def test_category_swap_detected(spark, v1, v3):
    drift = categorical_drift(v1, v3, ["category"]).collect()[0]
    assert drift["drift_detected"]
    assert drift["js_distance"] > 0.1
    assert drift["new_categories"] == 1  # W appeared
    assert drift["missing_categories"] == 1  # Z disappeared
    assert "new_categories" in drift["drift_causes"]
    assert drift["drift_score"] > 0.25
    assert drift["p_value"] <= 0.05


def test_categorical_drift_empty_ref_has_no_null_ratio(spark, v1):
    """An empty side has a NULL null ratio instead of dividing by zero."""
    drift = categorical_drift(v1.limit(0), v1, ["category"]).collect()[0]
    assert drift["ref_null_ratio"] is None and drift["null_diff"] is None
    assert drift["curr_null_ratio"] == 0.0
    assert drift["drift_detected"] and "new_categories" in drift["drift_causes"]


def test_drift_score_bounds(spark, v1, v3):
    # property: scores always in [0, 1]
    ref = numeric_profile(v1, quantiles=(0.25, 0.5, 0.75))
    curr = numeric_profile(v3, quantiles=(0.25, 0.5, 0.75))
    for row in numeric_drift(ref, curr).collect():
        assert 0.0 <= row["drift_score"] <= 1.0
    for row in categorical_drift(v1, v3, ["category"]).collect():
        assert 0.0 <= row["drift_score"] <= 1.0


def test_exact_p_value_mode(spark, v1, v3):
    drift = categorical_drift(v1, v3, ["category"], p_value_mode="exact").collect()[0]
    assert drift["p_value"] is not None
    assert 0.0 <= drift["p_value"] <= 1.0


def test_temporal_drift_nulls_and_dow_shift(spark):
    """Temporal analyzer unit semantics: a weekday→weekend mix change fires
    day_of_week_shift; added nulls fire null_ratio; identical snapshots are
    clean. 2024-01-01 is a Monday; both engines bucket Sunday-based."""
    from datetime import datetime, timedelta

    from pyspark_data_drift_detector_spark.operators.temporal import temporal_drift

    base = datetime(2024, 1, 1)  # Monday
    # ref: all events on Mondays; curr: all on Saturdays, 10% nulls
    ref_rows = [(base + timedelta(weeks=i),) for i in range(60)]
    curr_rows = [(base + timedelta(weeks=i, days=5),) for i in range(54)] + [(None,)] * 6
    ref = spark.createDataFrame(ref_rows, "ts timestamp")
    curr = spark.createDataFrame(curr_rows, "ts timestamp")

    r = temporal_drift(ref, curr, ["ts"]).collect()[0]
    assert r["ref_n"] == 60 and r["curr_n"] == 54
    assert r["drift_detected"]
    assert "day_of_week_shift" in r["drift_causes"]
    assert "null_ratio" in r["drift_causes"]
    assert r["dow_js"] == pytest.approx(1.0)  # disjoint dow supports
    assert r["null_ratio_change"] == pytest.approx(0.1)

    same = temporal_drift(ref, ref, ["ts"]).collect()[0]
    assert not same["drift_detected"] and same["drift_causes"] == []
    assert same["mean_shift_days"] == 0.0 and same["dow_js"] == 0.0


def test_detect_drift_reads_a_sampled_temporal_guess_leniently(spark):
    """A string column of mostly 4-digit codes samples as temporal (a
    4-digit string parses as a year). The temporal family must count the
    short codes that do not parse as NULL instead of raising
    CAST_INVALID_INPUT over the full table under ANSI mode."""
    from pyspark_data_drift_detector_spark.functions.inference import infer_column_types
    from pyspark_data_drift_detector_spark.pipeline import RESULT_COLUMNS, detect_drift

    df = spark.range(2000).selectExpr("CAST(1000 + id % 9000 AS STRING) AS code").unionByName(
        spark.range(30).selectExpr("CAST(id * 7 AS STRING) AS code")
    )
    assert infer_column_types(df)["code"] == "temporal"
    out = detect_drift(df, df, {"profile": "summary"})
    rows = out.collect()
    assert out.columns == RESULT_COLUMNS
    (temporal,) = [r for r in rows if r["column_name"] == "code" and r["column_type"] == "temporal"]
    assert not temporal["drift_detected"]


def test_robust_outlier_drift_resists_contamination(spark):
    """The property that motivates MAD over z-score: planting extreme
    outliers in the CURRENT side must raise the robust outlier rate —
    while the plain z-score rate computed from contaminated stats would
    shrink (the outliers inflate sigma). Also: MAD=0 disables the rule."""
    from pyspark_data_drift_detector_spark.operators.rare_events import (
        robust_outlier_drift,
    )

    base = [(i, 100.0 + (i % 7) - 3.0) for i in range(200)]
    spikes = [(1000 + i, 10000.0) for i in range(10)]
    ref = spark.createDataFrame(base, "id long, x double")
    curr = spark.createDataFrame(base[:100] + spikes, "id long, x double")
    row = robust_outlier_drift(ref, curr, ["x"]).collect()[0]
    assert row["ref_outliers"] == 0
    assert row["curr_outliers"] == 10
    assert row["drift_detected"]
    assert abs(row["ref_median"] - 100.0) < 1.0

    const = spark.createDataFrame([(i, 5.0) for i in range(50)], "id long, x double")
    row0 = robust_outlier_drift(const, const, ["x"]).collect()[0]
    assert row0["ref_mad"] == 0.0 and row0["ref_outliers"] == 0


def test_key_overlap_drift(spark):
    """Retention/churn accounting with constructed cohorts: exact
    retained/churned/new counts, jaccard, NULL keys as a real cohort
    member, and the churn flag."""
    from pyspark_data_drift_detector_spark.operators.categorical_drift import (
        key_overlap_drift,
    )

    ref = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",), (None,)], "uid string"
    )
    curr = spark.createDataFrame(
        [("a",), ("c",), ("d",), ("e",), ("e",)], "uid string"
    )
    r = key_overlap_drift(ref, curr, ["uid"], churn_threshold=0.4).collect()[0]
    # ref keys: a, b, c, NULL (4); curr keys: a, c, d, e (4)
    assert r["ref_keys"] == 4 and r["curr_keys"] == 4
    assert r["retained"] == 2      # a, c
    assert r["churned"] == 2       # b, NULL
    assert r["new_keys"] == 2      # d, e
    assert r["jaccard"] == pytest.approx(2 / 6)
    assert r["churn_rate"] == pytest.approx(0.5)
    assert r["new_rate"] == pytest.approx(0.5)
    assert r["drift_detected"]

    # identical populations: zero churn, jaccard 1
    same = key_overlap_drift(ref, ref, ["uid"]).collect()[0]
    assert same["jaccard"] == pytest.approx(1.0)
    assert same["churned"] == 0 and not same["drift_detected"]

    with pytest.raises(ValueError, match="no key columns"):
        key_overlap_drift(ref, curr, [])


def test_pipeline_key_overlap_family(spark):
    """The opt-in key_overlap family emits standard result rows with
    cohort metrics in the JSON payload."""
    import json

    from pyspark_data_drift_detector_spark import detect_drift

    ref = spark.createDataFrame(
        [(i, float(i), "u" + str(i % 5)) for i in range(40)],
        "id long, v double, uid string",
    )
    curr = spark.createDataFrame(
        [(i, float(i), "w" + str(i % 5)) for i in range(40)],  # all-new uids
        "id long, v double, uid string",
    )
    out = detect_drift(
        ref,
        curr,
        {
            "analyze_key_overlap": True,
            "key_overlap_columns": ["uid"],
            "churn_threshold": 0.5,
        },
    )
    rows = [r for r in out.collect() if r["column_type"] == "key_overlap"]
    assert len(rows) == 1
    r = rows[0]
    assert r["column_name"] == "uid" and r["drift_detected"]
    assert r["drift_score"] == pytest.approx(1.0)  # 100% churn
    assert "population_churn" in r["drift_causes"]
    m = json.loads(r["metrics"])
    assert m["retained"] == 0 and m["churned"] == 5 and m["new_keys"] == 5

    # default config: family absent
    off = detect_drift(ref, curr)
    assert not [r for r in off.collect() if r["column_type"] == "key_overlap"]


def test_pipeline_benford_family(spark):
    """The opt-in Benford family flags a feed whose first-digit mix
    shifted (uniform fill replacing Benford-ish values) and stays quiet
    when both sides share the distribution."""
    import math

    rows_benford = []
    for d in range(1, 10):
        rows_benford += [float(d)] * round(200 * math.log10(1 + 1 / d))
    rows_uniform = [float(d) for d in range(1, 10)] * 25
    n = min(len(rows_benford), len(rows_uniform))
    # jitter (first digit preserved) so the pipeline's type inference
    # keeps `amount` numeric instead of low-cardinality categorical
    rows_benford = [v * (1.0 + i * 1e-7) for i, v in enumerate(rows_benford)]
    rows_uniform = [v * (1.0 + i * 1e-7) for i, v in enumerate(rows_uniform)]
    from pyspark_data_drift_detector_spark import detect_drift

    ref = spark.createDataFrame(
        [(i, rows_benford[i]) for i in range(n)], "id long, amount double"
    )
    curr = spark.createDataFrame(
        [(i, rows_uniform[i]) for i in range(n)], "id long, amount double"
    )
    out = detect_drift(ref, curr, {"analyze_benford": True})
    rows = [r for r in out.collect() if r["column_type"] == "benford"]
    by = {r["column_name"]: r for r in rows}
    assert by["amount"]["drift_detected"]
    assert "benford_shift" in by["amount"]["drift_causes"]
    # identical sides: no drift
    quiet = detect_drift(ref, ref, {"analyze_benford": True})
    q = [r for r in quiet.collect()
         if r["column_type"] == "benford" and r["column_name"] == "amount"][0]
    assert not q["drift_detected"] and q["drift_score"] == 0.0


def test_quantile_mode_exact_gives_percentile_quartiles(spark):
    """``quantile_mode: "exact"`` is sort-based in a drift run: its
    quartiles equal ``percentile``'s, interpolation included, where the
    default ``"approx"`` would return a data value."""
    import json

    from pyspark_data_drift_detector_spark.pipeline import detect_drift

    ref = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    curr = spark.createDataFrame([(float(i) * 1.5 + 0.3,) for i in range(98)], "x double")
    (row,) = detect_drift(ref, curr, {"quantile_mode": "exact"}).where(
        "column_type = 'numerical' AND column_name = 'x'"
    ).collect()
    metrics = json.loads(row["metrics"])
    for pre, side in (("ref", ref), ("curr", curr)):
        (want,) = side.selectExpr("percentile(x, array(0.25, 0.5, 0.75))").first()
        got = [metrics[f"{pre}_p25"], metrics[f"{pre}_median"], metrics[f"{pre}_p75"]]
        assert got == pytest.approx(want, abs=1e-12), pre
    assert metrics["ref_p25"] == pytest.approx(24.75, abs=1e-12)
