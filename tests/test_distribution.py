"""Distribution / rare-event / group operator tests."""

import pytest
from pyspark.sql import functions as F

from pyspark_data_drift_detector_spark.operators.distribution import (
    histogram,
    max_quantile_shift,
    quantile_shift,
    rare_value_changes,
    rare_value_summary,
    shape_change,
)
from pyspark_data_drift_detector_spark.operators.groups import (
    group_categorical_stats,
    group_drift,
    group_numeric_stats,
    top_groups,
)
from pyspark_data_drift_detector_spark.operators.rare_events import (
    outlier_drift,
    rare_category_changes,
)


@pytest.fixture(scope="module")
def pair(spark):
    """ref = uniform-ish, curr = shifted + new rare category."""
    ref_rows = [(float(i % 100), "A" if i % 10 else "rare1", "g1" if i % 2 else "g2") for i in range(1000)]
    curr_rows = [
        (float(i % 100) * 1.5, "A" if i % 10 else "rare2", "g1" if i % 2 else "g2")
        for i in range(1000)
    ]
    schema = "x double, cat string, dim string"
    return spark.createDataFrame(ref_rows, schema).cache(), spark.createDataFrame(
        curr_rows, schema
    ).cache()


def test_quantile_shift(pair):
    ref, curr = pair
    shifts = quantile_shift(ref, curr, ["x"], quantiles=(0.25, 0.5, 0.75), exact_quantiles=True)
    rows = {r["quantile"]: r for r in shifts.collect()}
    assert len(rows) == 3
    # curr = 1.5×ref ⇒ rel diff ≈ 0.5 at every quantile
    assert rows["0.5"]["rel_diff"] == pytest.approx(0.5, abs=0.05)
    top = max_quantile_shift(shifts).collect()[0]
    assert top["max_abs_shift_quantile"] == "0.75"


def test_shape_change_identical(pair):
    ref, _ = pair
    row = shape_change(ref, ref, ["x"]).collect()[0]
    assert row["skew_diff"] == pytest.approx(0.0)
    assert row["skew_change"] == "none"
    assert row["kurt_change"] == "none"


def test_rare_values(pair):
    ref, curr = pair
    changes = rare_value_changes(ref, curr, ["cat"], rare_threshold=0.15)
    rows = {r["value"]: r for r in changes.collect()}
    # rare1 (10%) exists only in ref; rare2 only in curr → neither is a
    # "transition" (reference requires presence on both sides)
    assert rows["rare1"]["change_type"] is None
    assert rows["rare2"]["change_type"] is None
    assert rows["rare1"]["ref_rare"] and not rows["rare1"]["curr_rare"]
    summ = rare_value_summary(changes).collect()[0]
    assert summ["ref_rare_count"] == 1
    assert summ["curr_rare_count"] == 1


def test_rare_transition(spark):
    # value 'v' common in ref (50%), rare in curr (1 of 1000)
    ref = spark.createDataFrame([("v",)] * 500 + [("w",)] * 500, "c string")
    curr = spark.createDataFrame([("v",)] * 1 + [("w",)] * 999, "c string")
    rows = {r["value"]: r for r in rare_value_changes(ref, curr, ["c"], 0.01).collect()}
    assert rows["v"]["change_type"] == "new_rare"


def test_histogram(spark):
    df = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    h = histogram(df, ["x"], bins=10).orderBy("bucket").collect()
    assert len(h) == 10
    assert all(r["cnt"] == 10 for r in h)
    assert h[0]["lower"] == 0.0
    assert h[9]["upper"] == pytest.approx(99.0)


def test_rare_category_changes(spark):
    # 'z' rare in ref (1%, count 20) and doubled in curr
    ref = spark.createDataFrame([("a",)] * 1980 + [("z",)] * 20, "c string")
    curr = spark.createDataFrame([("a",)] * 1960 + [("z",)] * 40, "c string")
    rows = rare_category_changes(ref, curr, ["c"], min_count=10, max_frequency=0.011).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["category"] == "z"
    assert r["change_type"] == "increased_rare_category"
    assert r["rel_change"] == pytest.approx(1.0)
    assert r["severity"] == "medium"  # rel_change not > 1.0


def test_outlier_drift(spark):
    import random

    rng = random.Random(7)
    ref = spark.createDataFrame([(rng.gauss(0, 1),) for _ in range(5000)], "x double")
    # curr has 5% big outliers
    curr_vals = [(rng.gauss(0, 1),) for _ in range(4750)] + [(rng.uniform(50, 60),) for _ in range(250)]
    curr = spark.createDataFrame(curr_vals, "x double")
    row = outlier_drift(ref, curr, ["x"]).collect()[0]
    assert row["curr_z_outlier_ratio"] > row["ref_z_outlier_ratio"]
    assert row["z_significant"]
    assert row["z_severity"] == "high"
    assert row["curr_outlier_rate"] > 0.04
    assert row["extreme_rate_diff"] > 0.04


def test_top_groups_and_numeric(pair):
    ref, curr = pair
    groups = top_groups(ref, curr, "dim")
    assert groups.count() == 2
    stats = group_numeric_stats(ref, curr, "dim", ["x"])
    rows = {r["dimension_value"]: r for r in stats.collect()}
    assert rows["g1"]["mean_pct_change"] == pytest.approx(0.5, abs=0.05)
    assert not rows["g1"]["stats_skipped"]


def test_group_categorical(pair):
    ref, curr = pair
    rows = {
        r["dimension_value"]: r
        for r in group_categorical_stats(ref, curr, "dim", ["cat"]).collect()
    }
    # i%10==0 rows (the rare values) are all even i → group g2
    g = rows["g2"]
    assert g["common_categories_count"] >= 1  # 'A' in both top-10
    assert g["new_categories_count"] == 1  # rare2
    assert g["disappeared_categories_count"] == 1  # rare1
    assert rows["g1"]["new_categories_count"] == 0


def test_group_drift_rollup(pair):
    ref, curr = pair
    rows = group_drift(ref, curr, "dim", numeric_columns=["x"], categorical_columns=["cat"]).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["drift_detected"]  # 50% mean shift
        assert 0.0 <= r["drift_score"] <= 1.0


def test_group_drift_no_drift(pair):
    ref, _ = pair
    rows = group_drift(ref, ref, "dim", numeric_columns=["x"], categorical_columns=["cat"]).collect()
    for r in rows:
        assert not r["drift_detected"]
        assert r["drift_score"] == pytest.approx(0.0)


def test_edf_distances_ground_truth(spark):
    """KS and W1 match a brute-force Python EDF computation."""
    import bisect

    from pyspark_data_drift_detector_spark.operators.distribution import edf_distances

    a = [1.0, 2.0, 2.0, 3.0, 5.0, 8.0]
    b = [2.0, 3.0, 3.0, 4.0, 9.0]
    df_a = spark.createDataFrame([(x,) for x in a], "x double")
    df_b = spark.createDataFrame([(x,) for x in b], "x double")
    row = edf_distances(df_a, df_b, ["x"]).first()

    sa, sb = sorted(a), sorted(b)
    values = sorted(set(a) | set(b))
    def cdf(s, v):
        return bisect.bisect_right(s, v) / len(s)
    diffs = [abs(cdf(sa, v) - cdf(sb, v)) for v in values]
    ks = max(diffs)
    w1 = sum(
        abs(cdf(sa, values[i]) - cdf(sb, values[i])) * (values[i + 1] - values[i])
        for i in range(len(values) - 1)
    )
    assert row["ks"] == pytest.approx(ks, abs=1e-12)
    assert row["wasserstein"] == pytest.approx(w1, abs=1e-12)
    assert 0.0 <= row["ks_pvalue"] <= 1.0


def test_edf_and_psi_invariants(spark):
    """Identical inputs give zero distance; disjoint supports give KS=1 and
    wasserstein = gap between the supports."""
    from pyspark_data_drift_detector_spark.operators.distribution import (
        edf_distances,
        psi_numeric,
    )

    same = spark.createDataFrame([(float(i % 7),) for i in range(100)], "x double")
    row = edf_distances(same, same, ["x"]).first()
    assert row["ks"] == 0.0
    assert row["wasserstein"] == 0.0
    assert row["ks_pvalue"] == pytest.approx(1.0)
    psi_row = psi_numeric(same, same, ["x"]).first()
    assert psi_row["psi"] == pytest.approx(0.0, abs=1e-9)
    assert psi_row["stability"] == "stable"

    lo = spark.createDataFrame([(0.0,), (1.0,)], "x double")
    hi = spark.createDataFrame([(10.0,), (11.0,)], "x double")
    row = edf_distances(lo, hi, ["x"]).first()
    assert row["ks"] == 1.0
    # |F_lo - F_hi| is 1 exactly on [1, 10): 0.5 on [0,1) and [10,11) tails
    assert row["wasserstein"] == pytest.approx(0.5 * 1 + 1.0 * 9 + 0.5 * 1)


def test_bucketed_cumsum_matches_naive_window(spark):
    """Property check for the distributed two-phase prefix sum: on random
    multi-column cells (ties, duplicates, skew, sub-bucket cardinality) the
    bucketed cumsum, totals, and cross-bucket lead are identical to the
    naive single-task computation."""
    import random

    from pyspark_data_drift_detector_spark.operators.cumulative import bucketed_cumsum

    rng = random.Random(5)
    rows = []
    for key, n, vals in (
        ("skewed", 500, lambda: float(rng.choice([1] * 50 + list(range(200))))),
        ("uniform", 300, lambda: round(rng.uniform(0, 100), 3)),
        ("tiny", 3, lambda: float(rng.randint(0, 2))),
        ("constant", 40, lambda: 7.0),
    ):
        seen = {}
        for _ in range(n):
            v = vals()
            seen[v] = seen.get(v, 0) + rng.randint(1, 5)
        rows += [(key, float(v), c) for v, c in seen.items()]
    cells = spark.createDataFrame(rows, "column_name string, value double, cnt long")

    def run() -> list:
        return bucketed_cumsum(
            cells, "column_name", "value", ["cnt"], num_buckets=8,
            lead_col="nxt",
        ).collect()

    def check(out: list) -> None:
        by_key: dict = {}
        for key, v, c in rows:
            by_key.setdefault(key, {})[v] = c
        for r in out:
            vals = sorted(by_key[r["column_name"]])
            expect_cum = sum(
                by_key[r["column_name"]][v] for v in vals if v <= r["value"]
            )
            assert r["cum_cnt"] == expect_cum, r
            assert r["tot_cnt"] == sum(by_key[r["column_name"]].values())
            i = vals.index(r["value"])
            expect_next = vals[i + 1] if i + 1 < len(vals) else None
            assert r["nxt"] == expect_next, r
        assert len(out) == len(rows)

    # default gate routes this small histogram to the one-task NumPy fast
    # path; both it and the distributed two-phase plan (forced via the
    # gate) must match the naive ground truth row-for-row
    from pyspark_data_drift_detector_spark.operators import cumulative

    fast = run()
    check(fast)
    orig = cumulative.SMALL_CUMSUM_CELLS
    try:
        cumulative.SMALL_CUMSUM_CELLS = -1
        dist = run()
    finally:
        cumulative.SMALL_CUMSUM_CELLS = orig
    check(dist)
    assert sorted(map(tuple, fast)) == sorted(map(tuple, dist))


def test_counts_quantile_fast_path_matches_distributed(spark):
    """The r15 one-task counts-quantile reconstruction
    (profile._counts_quantile_rows, incl. the robust_profile MAD fusion)
    must be bit-identical to the distributed bucketed-cumsum
    reconstruction on multi-column, tied, and pair-sided cells."""
    import random

    from pyspark.sql import functions as F

    from pyspark_data_drift_detector_spark.operators import cumulative
    from pyspark_data_drift_detector_spark.operators.profile import (
        numeric_profile_pair,
        robust_profile,
    )

    rng = random.Random(11)
    rows = [
        (
            i,
            float(rng.choice([1] * 30 + list(range(50)))),
            round(rng.uniform(-5, 5), 2),
            rng.choice([None, float(rng.randint(0, 3))]),
        )
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "id long, a double, b double, c double")

    def run_all():
        rp = robust_profile(
            df, ["a", "b", "c"], quantile_mode="counts"
        ).collect()
        pair = numeric_profile_pair(
            df.filter("id % 2 = 0"),
            df.filter("id % 2 = 1"),
            ["a", "b", "c"],
            quantiles=(0.1, 0.5, 0.9),
            quantile_mode="counts",
        ).collect()
        key = lambda rs: sorted((tuple(r) for r in rs))
        return key(rp), key(pair)

    fast = run_all()
    orig = cumulative.SMALL_CUMSUM_CELLS
    try:
        cumulative.SMALL_CUMSUM_CELLS = -1
        dist = run_all()
    finally:
        cumulative.SMALL_CUMSUM_CELLS = orig
    assert fast == dist


def test_top_k_cutoffs_match_row_number(spark, monkeypatch):
    """``with_top_k``'s membership must replay row_number() <= k EXACTLY in
    both shapes on adversarial cells: count ties, null category values
    (which sort FIRST under asc), a NULL key, keys with fewer than k cells,
    and zero counts."""
    import random

    from pyspark.sql import Window

    from pyspark_data_drift_detector_spark.functions.lifetime import owned_run
    from pyspark_data_drift_detector_spark.operators import frequency
    from pyspark_data_drift_detector_spark.operators.frequency import with_top_k

    rng = random.Random(17)
    rows = []
    sizes = {"a": 40, "b": 25, "tiny": 2, "nullish": 12, None: 6}
    for key, n in sizes.items():
        for i in range(n):
            # cells are grouped: exactly one row per (key, value), with at
            # most one NULL-valued row per key
            val = None if key == "nullish" and i == 0 else f"v{i:03d}"
            rows.append((key, val, rng.choice([0, 1, 1, 2, 5, 5, 5, 9])))
    cells = spark.createDataFrame(rows, "k string, value string, cnt long")
    win = Window.partitionBy("k").orderBy(F.desc("cnt"), F.asc("value"))
    ranked = cells.withColumn("rn", F.row_number().over(win)).collect()

    for threshold in (1 << 30, -1):
        monkeypatch.setattr(frequency, "SALT_SIZE_THRESHOLD_BYTES", threshold)
        for top_k in (1, 3, 7, 50):
            with owned_run():
                got = {
                    (r["k"], r["value"]): r["member_cnt"]
                    for r in with_top_k(cells, top_k, ("k",)).collect()
                }
            want = {(r["k"], r["value"]): (r["cnt"] > 0) and (r["rn"] <= top_k) for r in ranked}
            assert got == want, (threshold, top_k, [x for x in want if got.get(x) != want[x]])


def test_equidepth_histogram_balanced_and_tied(spark):
    """Continuous data: every bin holds exactly n/bins rows with ordered
    edges. Massive ties: the tie group lands in ONE bin (ties go left),
    other bins stay proportionally small or empty."""
    from pyspark.sql import functions as F

    from pyspark_data_drift_detector_spark.operators.distribution import (
        equidepth_histogram,
    )

    cont = spark.range(1000).select((F.col("id") * 1.0).alias("v"))
    out = equidepth_histogram(cont, ["v"], bins=4).orderBy("bin").collect()
    assert [r["bin"] for r in out] == [0, 1, 2, 3]
    assert all(r["cnt"] == 250 for r in out)
    for r in out:
        assert r["lo"] < r["hi"]
    # adjacent edges chain
    assert out[0]["hi"] == out[1]["lo"]

    tied = spark.createDataFrame(
        [(5.0,)] * 90 + [(float(i),) for i in range(10)], "v double"
    )
    rows = {r["bin"]: r["cnt"] for r in equidepth_histogram(tied, ["v"], bins=4).collect()}
    assert max(rows.values()) >= 90  # the tie group stays together
    assert sum(rows.values()) == 100


def test_psi_cells_sum_to_psi(spark, sf_dir):
    from pyspark_data_drift_detector_spark.operators.distribution import (
        psi_numeric,
        psi_numeric_cells,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ref = li.filter("l_orderkey % 2 = 0")
    curr = li.filter("l_orderkey % 2 = 1")
    cols = ["l_quantity", "l_discount"]
    psi = {r.column_name: r.psi for r in psi_numeric(ref, curr, cols).collect()}
    cells = psi_numeric_cells(ref, curr, cols).collect()
    by_col = {}
    for r in cells:
        by_col.setdefault(r.column_name, []).append(r)
    for c in cols:
        rows = by_col[c]
        assert len(rows) == 10
        # drill-down terms total the rolled-up PSI exactly
        assert abs(sum(r.psi_term for r in rows) - psi[c]) < 1e-9
        # counts total each side's non-null rows
        assert sum(r.ref_n for r in rows) == ref.filter(
            f"{c} IS NOT NULL").count()
        # edges are monotone where defined
        defined = [r for r in sorted(rows, key=lambda r: r.bin)
                   if r.lo_edge is not None and r.hi_edge is not None]
        assert all(r.lo_edge <= r.hi_edge for r in defined)


def test_group_categorical_salted_path_matches_fused(pair, monkeypatch):
    """ADVICE r14: the salted bounded-state branch (the 100 TB path of
    group_categorical_stats) must stay value-identical to the fused
    window branch the gate routes small inputs to — force it via the
    gate and compare row sets."""
    from pyspark_data_drift_detector_spark.operators import frequency

    ref, curr = pair

    def run():
        return sorted(
            tuple(r)
            for r in group_categorical_stats(
                ref, curr, "dim", ["cat"]
            ).collect()
        )

    fused = run()
    monkeypatch.setattr(frequency, "SALT_SIZE_THRESHOLD_BYTES", -1)
    assert run() == fused
