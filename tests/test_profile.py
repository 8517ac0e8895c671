"""Profile aggregation + frequency table tests against hand-computable frames."""

import pytest
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.operators.frequency import (
    entropy,
    frequency_table,
    grouped_frequency_table,
)
from pyspark_data_drift_detector_spark.operators.profile import (
    categorical_summary,
    numeric_columns,
    numeric_profile,
)


@pytest.fixture(scope="module")
def small(spark):
    rows = [
        (1, 10.0, "a"),
        (2, 20.0, "a"),
        (3, 30.0, "b"),
        (4, None, "b"),
        (5, 40.0, None),
    ]
    return spark.createDataFrame(rows, "id long, x double, cat string")


def test_numeric_columns(small):
    assert numeric_columns(small) == ["id", "x"]


def test_numeric_profile_values(small):
    prof = {r["column_name"]: r.asDict() for r in numeric_profile(small).collect()}
    x = prof["x"]
    assert x["n_rows"] == 5
    assert x["n"] == 4
    assert x["null_count"] == 1
    assert x["null_ratio"] == pytest.approx(0.2)
    assert x["min"] == 10.0
    assert x["max"] == 40.0
    assert x["mean"] == pytest.approx(25.0)
    # sample stddev of 10,20,30,40
    assert x["stddev"] == pytest.approx(12.909944487358056)
    assert x["p50"] == pytest.approx(25.0)
    assert x["p25"] == pytest.approx(17.5)
    assert x["p75"] == pytest.approx(32.5)


def test_numeric_profile_single_job_plan(small):
    # the profile must not shuffle more than the single-row aggregate
    plan = numeric_profile(small)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("aggregate") <= 2  # partial+final of ONE agg


def test_frequency_table(small):
    freq = frequency_table(small, ["cat"]).collect()
    by_val = {r["value"]: r for r in freq}
    assert by_val["a"]["cnt"] == 2
    assert by_val["b"]["cnt"] == 2
    assert by_val["a"]["n_nonnull"] == 4
    assert by_val["a"]["freq"] == pytest.approx(0.5)
    assert None not in by_val


def test_frequency_table_top_k_deterministic(spark):
    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 3 + [("d",)] * 1
    df = spark.createDataFrame(rows, "cat string")
    top2 = frequency_table(df, ["cat"], top_k=2).collect()
    values = sorted(r["value"] for r in top2)
    # tie between b and c broken by value asc
    assert values == ["a", "b"]


def test_entropy(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",), ("b",)], "cat string")
    ent = entropy(frequency_table(df, ["cat"])).collect()[0]["entropy"]
    assert ent == pytest.approx(1.0)  # two equally likely categories = 1 bit


def test_categorical_summary(small):
    summ = {r["column_name"]: r.asDict() for r in categorical_summary(small, ["cat"]).collect()}
    assert summ["cat"]["null_count"] == 1
    assert summ["cat"]["distinct_count"] == 2
    assert summ["cat"]["null_ratio"] == pytest.approx(0.2)


def test_grouped_frequency_table(spark):
    rows = [("g1", "x"), ("g1", "x"), ("g1", "y"), ("g2", "y")]
    df = spark.createDataFrame(rows, "dim string, v string")
    out = grouped_frequency_table(df, "dim", ["v"]).collect()
    g1x = [r for r in out if r["dimension_value"] == "g1" and r["value"] == "x"][0]
    assert g1x["cnt"] == 2
    assert g1x["freq"] == pytest.approx(2 / 3)


def test_profile_on_lineitem(lineitem):
    prof = numeric_profile(lineitem, quantiles=(0.25, 0.5, 0.75))
    rows = {r["column_name"]: r for r in prof.collect()}
    assert rows["l_quantity"]["n"] == lineitem.count()
    assert rows["l_discount"]["min"] >= 0.0


def test_quantiles_by_counts_matches_sort(lineitem):
    """The value-histogram exact quantile equals F.percentile bit-for-bit
    (same p*(n-1) interpolation), single and pair, including nulls-only
    guard behavior."""
    from pyspark.sql import functions as F

    from pyspark_data_drift_detector_spark.operators.profile import (
        numeric_profile,
        numeric_profile_pair,
    )

    cols = ["l_quantity", "l_extendedprice", "l_linenumber"]
    qs = (0.01, 0.25, 0.5, 0.75, 0.99)
    qnames = ["p1", "p25", "p50", "p75", "p99"]
    sort_prof = {r["column_name"]: r for r in numeric_profile(
        lineitem, cols, quantiles=qs, with_shape=False).collect()}
    cnt_prof = {r["column_name"]: r for r in numeric_profile(
        lineitem, cols, quantiles=qs, with_shape=False, quantile_mode="counts").collect()}
    for c in cols:
        for q in qnames:
            assert cnt_prof[c][q] == pytest.approx(sort_prof[c][q], abs=1e-9), (c, q)

    ref = lineitem.filter(F.col("l_orderkey") % 2 == 0)
    curr = lineitem.filter(F.col("l_orderkey") % 2 == 1)
    sp = {r["column_name"]: r for r in numeric_profile_pair(
        ref, curr, cols, quantiles=qs).collect()}
    cp = {r["column_name"]: r for r in numeric_profile_pair(
        ref, curr, cols, quantiles=qs, quantile_mode="counts").collect()}
    for c in cols:
        for pre in ("ref_", "curr_"):
            for q in qnames:
                assert cp[c][pre + q] == pytest.approx(sp[c][pre + q], abs=1e-9), (c, pre + q)


def test_approx_quantiles_rank_accuracy(lineitem):
    """quantile_mode="approx" (``percentile_approx`` at the default
    accuracy 10000, rank error ~1/10000): every returned quantile's true
    rank sits within ±0.02 of the requested probability, single and pair
    paths."""
    from pyspark.sql import functions as F

    from pyspark_data_drift_detector_spark.operators.profile import (
        numeric_profile,
        numeric_profile_pair,
    )

    cols = ["l_extendedprice", "l_quantity"]
    qs = (0.1, 0.5, 0.9)
    qnames = ["p10", "p50", "p90"]
    prof = {r["column_name"]: r for r in numeric_profile(
        lineitem, cols, quantiles=qs, with_shape=False, quantile_mode="approx").collect()}
    n = lineitem.count()
    for c in cols:
        for p, q in zip(qs, qnames):
            v = prof[c][q]
            rank = lineitem.filter(F.col(c) <= v).count() / n
            assert abs(rank - p) < 0.02, (c, q, rank)

    ref = lineitem.filter(F.col("l_orderkey") % 2 == 0)
    curr = lineitem.filter(F.col("l_orderkey") % 2 == 1)
    pair = {r["column_name"]: r for r in numeric_profile_pair(
        ref, curr, cols, quantiles=qs, quantile_mode="approx").collect()}
    nr = ref.count()
    for c in cols:
        for p, q in zip(qs, qnames):
            v = pair[c]["ref_" + q]
            rank = ref.filter(F.col(c) <= v).count() / nr
            assert abs(rank - p) < 0.02, (c, q, rank)


def test_robust_profile_resists_sentinels(spark):
    """A 2% sentinel contamination (-9999) wrecks the mean but must leave
    the 5%-trimmed and winsorized means near the clean center."""
    from pyspark.sql import functions as F

    from pyspark_data_drift_detector_spark.operators.profile import robust_profile

    clean = spark.range(980).select((50.0 + F.col("id") % 11).alias("v"))
    dirty = clean.unionByName(
        spark.range(20).select(F.lit(-9999.0).alias("v"))
    )
    row = robust_profile(dirty, ["v"], trim=0.05).collect()[0]
    raw_mean = dirty.agg(F.avg("v")).collect()[0][0]
    assert raw_mean < -100  # sentinel-dominated
    assert 50.0 <= row["trimmed_mean"] <= 61.0
    assert 45.0 <= row["winsorized_mean"] <= 61.0
    assert 50.0 <= row["median"] <= 61.0
    assert row["n_trimmed"] >= 20  # every sentinel fell outside the bounds
    assert row["mad"] <= 5.5
